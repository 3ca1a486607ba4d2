package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.TestSessions
import graft.textops.Similarity

/** The native FloatVecCosine must agree bit-for-bit with the composable
  * HOF formula (same index-order double accumulation), survive codegen,
  * and handle nulls/zero vectors/SQL names on the built session.
  */
class VectorExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private lazy val vecs = {
    val rnd = new scala.util.Random(13)
    (0 until 200).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat),
        Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("id", "a", "b")
  }

  test("native cosine is bit-identical to the HOF formula") {
    val cmp = vecs.select(
      Similarity.cosineNative(col("a"), col("b")).as("native"),
      Similarity.cosine(col("a"), col("b")).as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("nulls and zero vectors yield null") {
    val zero = Seq((1L, Array.fill(4)(0.0f), Array.fill(4)(1.0f)))
      .toDF("id", "a", "b")
    assert(zero.select(Similarity.cosineNative(col("a"), col("b")))
      .head().isNullAt(0))
    val withNull = Seq((1L, Array.fill(4)(1.0f))).toDF("id", "a")
      .select(Similarity.cosineNative(col("a"), lit(null).cast("array<float>")))
    assert(withNull.head().isNullAt(0))
  }

  test("registered SQL function works and identical vectors score 1.0") {
    vecs.createOrReplaceTempView("vec_t")
    val r = spark.sql("SELECT vec_cosine(a, a) AS s FROM vec_t").collect()
    assert(r.forall(row => math.abs(row.getDouble(0) - 1.0) < 1e-12))
  }

  test("native L2 matches a reference computation and is codegen-safe") {
    val cmp = vecs.select(col("a"), col("b"),
      Similarity.l2Native(col("a"), col("b")).as("native")).collect()
    cmp.foreach { r =>
      val a = r.getSeq[Float](0); val b = r.getSeq[Float](1)
      val ref = math.sqrt(a.zip(b).map { case (x, y) =>
        val d = x.toDouble - y.toDouble; d * d }.sum)
      assert(r.getDouble(2) === ref) // same index-order accumulation
    }
    // identical vectors → exactly 0; the SQL name the session resolves
    vecs.createOrReplaceTempView("vec_t2")
    val zeros = spark.sql("SELECT vec_l2(a, a) AS d FROM vec_t2").collect()
    assert(zeros.forall(_.getDouble(0) === 0.0))
  }

  test("whole-stage codegen compiles the fused loop (no fallback)") {
    // a LocalTableScan folds the projection away — force a real exchange,
    // and execute first so AQE settles on the final plan
    val scan = vecs.repartition(4)
      .select(Similarity.cosineNative(col("a"), col("b")).as("s"))
    val rows = scan.collect() // finalize THIS query's adaptive plan
    assert(rows.length === 200 && rows.forall(!_.isNullAt(0)))
    // '*(n)' prefixes mark whole-stage-codegen'd operators in plan strings
    assert(scan.queryExecution.executedPlan.toString
      .matches("(?s).*\\*\\(\\d+\\) Project \\[floatveccosine.*"))
  }

  test("md5_long equals the composable hex-parse form on arbitrary strings") {
    val rnd = new scala.util.Random(17)
    val strs = (0 until 300).map(i =>
      (i.toLong, rnd.alphanumeric.take(rnd.nextInt(40)).mkString + s" $i"))
    val df = strs.toDF("id", "s").repartition(5)
    val both = df.select(col("id"),
        graft.functions.HashExpressions.md5_long(col("s")).as("native"),
        graft.textops.Dedup.md5Hash64Composable(col("s")).as("ref"))
      .collect()
    assert(both.length === 300)
    both.foreach(r => assert(r.getLong(1) === r.getLong(2), r.getLong(0)))
    // null in → null out
    val n = Seq((1L, null: String)).toDF("id", "s")
      .select(graft.functions.HashExpressions.md5_long(col("s"))).head()
    assert(n.isNullAt(0))
  }
}
