package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSessions
import graft.textops.Dedup

/** The standing-index BUILD-ONCE guard (TextQueries.buildOnce): the
  * fingerprint must be a function of (corpus content, build params,
  * the index family's FORMAT-VERSION CONSTANT), so a format bump
  * invalidates every standing index by construction. The r14 bench
  * failure (`d_keep_divergence` on a stale v3 index) was a
  * hand-maintained per-entry version int that missed the v5 bump —
  * this spec pins the replacement's semantics.
  */
class StandingFingerprintSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private def freshWh() = graft.etl.Warehouse(
    org.apache.spark.ScratchDirs.create("graft_fp_spec").toString)

  private def corpus(n: Int) =
    (0 until n).map(i => (i.toLong, s"document number $i body"))
      .toDF("doc_id", "text")

  test("builds once, skips when fresh, rebuilds on any fingerprint input change") {
    val wh = freshWh()
    var builds = 0
    def once(c: org.apache.spark.sql.DataFrame, params: String,
             fmt: Int, aver: Int = 0) =
      TextQueries.buildOnce(spark, wh, "t_fp", c, params, fmt, aver) {
        builds += 1
      }
    // first call builds; an identical second call reuses
    assert(once(corpus(5), "k=3", fmt = 7) && builds === 1)
    assert(!once(corpus(5), "k=3", fmt = 7) && builds === 1)
    // a FORMAT bump rebuilds — the r14 defect class, now structural:
    // every buildOnce site passes the family constant, so bumping the
    // constant invalidates every standing index at once
    assert(once(corpus(5), "k=3", fmt = 8) && builds === 2)
    assert(!once(corpus(5), "k=3", fmt = 8) && builds === 2)
    // corpus content, build params, and artifact version each rebuild
    assert(once(corpus(6), "k=3", fmt = 8) && builds === 3)
    assert(once(corpus(6), "k=4", fmt = 8) && builds === 4)
    assert(once(corpus(6), "k=4", fmt = 8, aver = 1) && builds === 5)
    assert(!once(corpus(6), "k=4", fmt = 8, aver = 1) && builds === 5)
  }

  test("the format constants are live: a bumped-format fingerprint is stale against both families") {
    // an index fingerprinted under the CURRENT family constant must be
    // invalidated by constant+1 — i.e. the constant actually
    // participates in the stored fingerprint, for both index families
    for (fmt <- Seq(Dedup.NgramIndexFormatVersion,
                    Dedup.NearDedupIndexFormatVersion)) {
      val wh = freshWh()
      var builds = 0
      TextQueries.buildOnce(spark, wh, "t_fp", corpus(4), "p", fmt) {
        builds += 1
      }
      TextQueries.buildOnce(spark, wh, "t_fp", corpus(4), "p", fmt + 1) {
        builds += 1
      }
      assert(builds === 2)
    }
  }
}
