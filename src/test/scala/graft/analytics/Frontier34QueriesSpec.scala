package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.TestSessions

/** Semantic pins for the Frontier34Queries pack (the driver oracle
  * hash-checks exact values; these specs pin meaning on sf0.001).
  */
class Frontier34QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("a54_kruskal_wallis H matches a driver-side midrank rebuild") {
    val got = Frontier34Queries.queries("a54_kruskal_wallis")(spark, sf)
      .select(col("n_total"), col("h_r"), col("reject_5pct"))
      .as[(Long, Double, Boolean)].collect().head
    val rows = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        col("o_totalprice").cast("decimal(18,4)"))
      .as[(String, java.math.BigDecimal)].collect()
      .map { case (g, x) => (g, BigDecimal(x)) }
    assert(got._1 === rows.length.toLong)
    // midranks
    val sorted = rows.map(_._2).sorted
    val rankOf = sorted.zipWithIndex.groupBy(_._1).map { case (v, xs) =>
      v -> (xs.map(_._2 + 1).sum.toDouble / xs.length)
    }
    val n = rows.length.toDouble
    val per = rows.groupBy(_._1).map { case (g, xs) =>
      val ri = xs.map(x => rankOf(x._2)).sum
      (g, xs.length.toDouble, ri)
    }
    val sr2n = per.map { case (_, ni, ri) => ri * ri / ni }.sum
    val tieSum = rows.groupBy(_._2).values
      .map(v => math.pow(v.size, 3) - v.size).sum
    val h = (12.0 / (n * (n + 1)) * sr2n - 3 * (n + 1)) /
      (1.0 - tieSum / (n * n * n - n))
    assert(math.abs(got._2 - h) < math.max(1e-3, h.abs * 1e-3),
      s"H ${got._2} vs $h")
    assert(got._3 === (got._2 > 9.487729))
  }

  test("p_importance_weights ESS accounting is exact") {
    val got = Frontier34Queries.queries("p_importance_weights")(spark, sf)
      .select(col("source"), col("n"), col("w"), col("metric_r"),
        col("efficiency_r"))
      .as[(String, Long, Option[String], Double, Double)].collect()
    val (essRow, srcRows) = got.partition(_._1 == "ESS")
    assert(essRow.length === 1)
    val total = srcRows.map(_._2).sum
    assert(total === spark.read.parquet(s"$sf/documents.parquet").count())
    // ESS from the emitted weights
    val sw = srcRows.map(r => BigDecimal(r._3.get).toDouble * r._2).sum
    val sw2 = srcRows.map(r =>
      math.pow(BigDecimal(r._3.get).toDouble, 2) * r._2).sum
    val ess = sw * sw / sw2
    assert(math.abs(essRow.head._4 - ess) < 1e-2,
      s"ESS ${essRow.head._4} vs $ess")
    // efficiency = ESS / N, <= 1 with equality iff already uniform
    assert(essRow.head._5 <= 1.0 + 1e-9)
    assert(math.abs(essRow.head._5 - ess / total) < 1e-4)
  }

  test("g_rich_club density ratio uses the true top-degree club") {
    val got = Frontier34Queries.queries("g_rich_club")(spark, sf)
      .select(col("club_size"), col("club_edges"), col("n_nodes"),
        col("n_edges"), col("phi_club_r"), col("rich_club_ratio_r"))
      .as[(Long, Long, Long, Long, Double, Double)].collect().head
    assert(got._1 >= 50, "club holds at least k nodes (rank ties kept)")
    assert(got._2 <= got._4)
    assert(got._3 > got._1, "club is a strict subset")
    // phi in [0, 1]
    assert(got._5 >= 0.0 && got._5 <= 1.0)
    // identity: phi = 2E/(k(k-1))
    val phi = 2.0 * got._2 / (got._1.toDouble * (got._1 - 1))
    assert(math.abs(got._5 - phi) < 1e-6)
    // the ratio uses overall density
    val phiAll = 2.0 * got._4 / (got._3.toDouble * (got._3 - 1))
    assert(math.abs(got._6 - phi / phiAll) < 1e-2)
    // hubs interconnect more densely than average in a co-purchase graph
    assert(got._6 > 1.0, s"rich-club ratio ${got._6}")
  }
}
