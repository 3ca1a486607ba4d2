package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSessions

/** Ground-truth k-core semantics on hand graphs: simultaneous removal
  * per round, convergence to the true k-core once rounds suffice, and
  * self-loop/direction insensitivity. */
class KCoreSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  // triangle {1,2,3} (2-core) with a pendant chain 3-4-5
  private val g1 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    .toDF("a", "b")

  test("2-core of a triangle+chain keeps only the triangle") {
    val got = KCore.survivors(g1, "a", "b", k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("peeling is simultaneous within a round, not sequential") {
    // path 1-2-3: after ONE synchronous round at k=2, nodes 1 and 3
    // (degree 1) vanish together, leaving 2 isolated with no edges —
    // sequential peeling in some order could not keep any edge either,
    // but the intermediate state after round 1 must already be empty
    // of 1 and 3 while a second round still runs without error.
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val after1 = KCore.survivors(path, "a", "b", k = 2, rounds = 1)
      .as[(Long, Long)].collect()
    assert(after1.isEmpty)
    val after2 = KCore.survivors(path, "a", "b", k = 2, rounds = 2)
      .as[(Long, Long)].collect()
    assert(after2.isEmpty)
  }

  test("self-loops and duplicate/reversed edges do not inflate degrees") {
    val noisy = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L),
                    (3L, 1L)).toDF("a", "b")
    val got = KCore.survivors(noisy, "a", "b", k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("k larger than any degree empties the graph") {
    assert(KCore.survivors(g1, "a", "b", k = 10, rounds = 2).count() === 0L)
  }
}
