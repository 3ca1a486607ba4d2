package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.TestSessions

/** Semantic pins for the Frontier29Queries pack (the driver oracle
  * hash-checks exact values; these specs pin meaning on sf0.001).
  */
class Frontier29QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("i25_accumulating_snapshot milestone lags reconcile") {
    val got = Frontier29Queries.queries("i25_accumulating_snapshot")(
        spark, sf)
      .select(col("mon"), col("status"), col("n_orders"),
        col("n_unshipped"), col("mean_days_to_first_r"),
        col("mean_days_to_final_r"))
      .as[(Long, String, Long, Long, Double, Double)].collect()
    assert(got.nonEmpty)
    assert(got.map(_._3).sum ===
      spark.read.parquet(s"$sf/orders.parquet").count())
    got.foreach { case (mon, st, n, nu, mf, mfin) =>
      assert(nu <= n, s"($mon,$st)")
      // final ship can never precede first ship
      assert(mfin >= mf - 1e-9, s"($mon,$st) $mfin < $mf")
    }
    // spot-reconcile one month-status cell against a direct rebuild
    val (mon0, st0, _, _, mf0, _) = got.head
    val cell = spark.read.parquet(s"$sf/orders.parquet")
      .filter(year(col("o_orderdate")) * 12 + month(col("o_orderdate"))
        === mon0 && col("o_orderstatus") === st0)
      .join(spark.read.parquet(s"$sf/lineitem.parquet")
        .groupBy(col("l_orderkey"))
        .agg(min(to_date(col("l_shipdate"))).as("fs")),
        col("o_orderkey") === col("l_orderkey"), "left")
      .select(datediff(col("fs"), to_date(col("o_orderdate")))
        .cast("double"))
      .as[Option[Double]].collect().flatten
    if (cell.nonEmpty)
      assert(math.abs(mf0 - cell.sum / cell.length) < 1e-6)
  }

  test("t_bpe_merges replays a driver-side BPE trainer exactly") {
    val got = Frontier29Queries.queries("t_bpe_merges")(spark, sf)
      .select(col("round"), col("pair"), col("cnt"))
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(got.length === 3)
    // driver-side BPE on the same vocab
    def toks(t: String) = t.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
      .replaceAll(" +", " ").trim.split(" ").filter(_.nonEmpty)
    val vocab = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text")).as[String].collect()
      .flatMap(toks).groupBy(identity)
      .map { case (w, xs) => w.map(_.toString).toVector -> xs.length.toLong }
    var v = vocab
    val merges = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    (1 to 3).foreach { _ =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      v.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => counts(p) += f)
      }
      val best = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
      val (a, b) = best._1
      merges += ((s"$a+$b", best._2))
      v = v.map { case (syms, f) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        out.toVector -> f
      }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    }
    got.zip(merges).foreach { case ((_, pair, cnt), (ep, ec)) =>
      assert(pair === ep, s"merge pair $pair vs $ep")
      assert(cnt === ec, s"merge count $cnt vs $ec")
    }
  }

  test("w32_seasonal_indices normalize to mean 1 over the cycle") {
    val got = Frontier29Queries.queries("w32_seasonal_indices")(spark, sf)
      .select(col("cal_mon"), col("n_years"), col("seasonal_index_r"))
      .as[(Long, Long, Double)].collect()
    assert(got.length === 12)
    val mean = got.map(_._3).sum / 12
    assert(math.abs(mean - 1.0) < 1e-4, s"mean index $mean")
    got.foreach { case (cm, ny, idx) =>
      assert(cm >= 0 && cm < 12)
      assert(ny >= 1)
      assert(idx > 0)
    }
  }
}
