package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSessions

/** Min-label propagation: chains, separate components, convergence
  * bounds, partitioning invariance. */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private def comps(edges: Seq[(Long, Long)],
                    maxIter: Int = 20): Map[Long, Long] =
    ConnectedComponents.components(
      edges.toDF("a", "b"), "a", "b", maxIter)
      .as[(Long, Long)].collect().toMap

  test("chain and disjoint pair resolve to min-id components") {
    val got = comps(Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
                       7L -> 7L, 8L -> 7L))
  }

  test("long path needs diameter rounds; star converges fast") {
    // path 0-1-2-...-9: diameter 9, min floods one hop per round
    val path = (0L until 9L).map(i => (i, i + 1))
    assert(comps(path).values.toSet === Set(0L))
    // insufficient rounds must fail loudly, not return wrong labels
    intercept[IllegalArgumentException] { comps(path, maxIter = 3) }
  }

  private def starComps(edges: Seq[(Long, Long)],
                        maxIter: Int = 25): Map[Long, Long] =
    ConnectedComponents.componentsStarContraction(
      edges.toDF("a", "b"), "a", "b", maxIter)
      .as[(Long, Long)].collect().toMap

  test("star contraction matches propagation on small graphs") {
    val cases = Seq(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)),
      Seq((5L, 2L), (2L, 9L), (9L, 5L), (11L, 10L)),
      Seq((1L, 2L)))
    for (edges <- cases)
      assert(starComps(edges) === comps(edges), edges.toString)
  }

  test("star contraction resolves a 60-hop chain in O(log) rounds") {
    // diameter 60: propagation needs 60+ rounds (fails at 20), star
    // contraction converges within its default budget
    val chain = (0L until 60L).map(i => (i, i + 1))
    intercept[IllegalArgumentException] { comps(chain, maxIter = 20) }
    val got = starComps(chain, maxIter = 12)
    assert(got.keySet === (0L to 60L).toSet)
    assert(got.values.toSet === Set(0L))
  }

  test("star contraction: shuffled ids, reversed columns, repartitioned") {
    // worst-case labeling: chain ids descend so the min sits at the end
    val chain = (0L until 50L).map(i => (100L - i, 100L - i - 1L))
    val got = ConnectedComponents.componentsStarContraction(
      chain.toDF("a", "b").repartition(7), "b", "a")
      .as[(Long, Long)].collect().toMap
    assert(got.keySet === (50L to 100L).toSet)
    assert(got.values.toSet === Set(50L))
  }

  test("result is invariant under input partitioning and edge direction") {
    val edges = Seq((5L, 2L), (2L, 9L), (9L, 5L), (11L, 10L))
    val a = comps(edges)
    val b = ConnectedComponents.components(
      edges.toDF("a", "b").repartition(7), "b", "a") // reversed cols
      .as[(Long, Long)].collect().toMap
    assert(a === b)
    assert(a(9L) === 2L && a(11L) === 10L)
  }

  test("both variants hand the caller's job description back") {
    // each labels its rounds' jobs; a label left on the thread would
    // name every later job of the caller
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    sc.setJobDescription("caller's phase")
    try {
      ConnectedComponents.components(edges, "a", "b").collect()
      assert(sc.getLocalProperty("spark.job.description") ===
        "caller's phase")
      ConnectedComponents.componentsStarContraction(edges, "a", "b").collect()
      assert(sc.getLocalProperty("spark.job.description") ===
        "caller's phase")
    } finally sc.setJobDescription(null)
  }
}
