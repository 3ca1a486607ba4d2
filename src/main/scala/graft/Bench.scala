package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Calibration-factor arithmetic, extracted for direct testing.
  *
  * The estimator history (every prior form is now measured-wrong):
  * r7–r12 used two endpoint windows (noisy endpoint skews the whole
  * factor — r11/r12 normalized a zero-line diff 14.5% apart); r13
  * interleaved ~18 windows but took the per-WORKLOAD min across all
  * windows independently, pairing min(jvm) from one window with
  * min(spark) from another — which can produce a factor HIGHER than
  * every real window (the r13 judge measured 1.0813 vs per-window
  * 0.49–0.96: a machine condition that existed at no point during the
  * run), and under sustained contention grabs one lucky window while
  * the run actually paid the contended condition.
  *
  * The r14 estimator keeps jvm and spark PAIRED within each window:
  * - `windowFactor` — one window's (jvm, spark) pair → one factor;
  * - `factor_sustained` = MEDIAN of window factors — the machine
  *   condition the run actually sustained, and ≤ the max window factor
  *   by construction (the r13 defect is unrepresentable);
  * - `factor_burst` = MAX window factor — the best condition any real
  *   window measured (the old min-over-windows intent, made sound);
  * - `entryFactor` — each timed entry normalizes by the geometric mean
  *   of the two windows that BRACKET it in time, so a mid-run
  *   contention burst corrects exactly the entries it slowed instead
  *   of leaking into the whole total (the r13 driver run's failure
  *   mode: 20× transient contention mid-run, factor corrected ~nothing).
  */
private[graft] object BenchCalib {
  /** One calibration window's factor: geometric mean of (ref/measured)
    * for the JVM and Spark probes, both taken from the SAME window. */
  def windowFactor(refJvm: Double, refSpark: Double,
                   jvm: Double, spark: Double): Double =
    math.sqrt((refJvm / jvm) * (refSpark / spark))

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of empty sequence")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The median calibration WINDOW, kept as a real paired measurement:
    * windows ranked by combined time (jvm·spark — monotone in the
    * pair's geomean), the middle one returned whole. Committing
    * per-workload medians independently paired a jvm from one window
    * with a spark from another — the same cross-window-pairing
    * unsoundness the r14 estimator rework removed from `min`, still
    * present in the reference constants' aggregation (r14 ADVICE); an
    * even count takes the lower-middle window (still a real window,
    * deterministic). */
  def medianWindow(windows: Seq[(Double, Double)]): (Double, Double) = {
    require(windows.nonEmpty, "medianWindow of empty sequence")
    val s = windows.sortBy { case (j, sp) => j * sp }
    s((s.size - 1) / 2)
  }

  /** Nearest-in-time factor for an entry whose most recent calibration
    * window was `prevWindow`: geometric mean of that window's factor
    * and the next one's (the entry ran between them). The last entries
    * of the run are bracketed by the final post-pass window. Every
    * entry factor is a geomean of two REAL window factors, so it (and
    * any aggregate of entry factors) is ≤ the max window factor. */
  def entryFactor(factors: IndexedSeq[Double], prevWindow: Int): Double = {
    val prev = math.min(math.max(prevWindow, 0), factors.size - 1)
    val next = math.min(prev + 1, factors.size - 1)
    math.sqrt(factors(prev) * factors(next))
  }

  /** The fixed pure-JVM calibration workload (CPU clock/steal probe).
    * Shared verbatim by [[Bench]] and [[CalibRef]] — the reference
    * constants are only meaningful against the exact same loop. */
  def calibJvm(): Double = {
    val t0 = System.nanoTime()
    var acc = 0L; var i = 0L
    while (i < 400000000L) { acc ^= i * 0x9e3779b97f4a7c15L + (acc >>> 17); i += 1 }
    if (acc == 42L) println("") // keep the loop observable
    (System.nanoTime() - t0) / 1e9
  }

  /** The fixed Spark shuffle micro-job (scheduler + exchange health). */
  def calibSpark(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 20000000L, 1, 32)
      .selectExpr("id % 1000 AS k", "id AS v")
      .groupBy("k").sum("v").count()
    (System.nanoTime() - t0) / 1e9
  }
}

/** Regenerates `calibration_ref.json` — run ONLY on the reference
  * machine on a quiet window, and ONLY when the calibration workloads
  * or the estimator's reference semantics change. Runs a JMH-style
  * discard-then-measure series of paired windows and commits the
  * MEDIAN pair: the sustained reference condition, matching the
  * sustained (median-of-window-factors) estimator in [[Bench]]. */
object CalibRef {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.build(Bench.defaultCpus)
    // two discarded warmup windows (JIT + scheduler), then 9 measured
    (1 to 2).foreach { _ => BenchCalib.calibJvm(); BenchCalib.calibSpark(spark) }
    val windows = (1 to 9).map { _ =>
      (BenchCalib.calibJvm(), BenchCalib.calibSpark(spark))
    }
    val (refJvm, refSpark) = BenchCalib.medianWindow(windows)
    val windowsJson = windows.map { case (j, s) =>
      f"""{"jvm":$j%.3f,"spark":$s%.3f}""" }.mkString("[", ",", "]")
    val json =
      f"""{"comment": "Reference machine calibration for Bench normalized_total: the reference machine's SUSTAINED calibJvm/calibSpark PAIR — the median window by combined time, committed whole so the reference is a real paired measurement (per-workload medians could pair a jvm from one window with a spark from another — r14 ADVICE). Measured by graft.CalibRef on a quiet window; regenerate there whenever Bench's calibration workloads change.", "round": "${sys.env.getOrElse("SPARK_GRAFT_CALIB_ROUND", "r14")}", "agg": "median_window_by_combined_time", "ref_jvm": $refJvm%.3f, "ref_spark": $refSpark%.3f, "windows": $windowsJson}"""
    println(json)
    Files.writeString(Paths.get(sys.env.getOrElse("SPARK_GRAFT_CALIB_REF",
      "calibration_ref.json")), json + "\n")
    spark.stop()
  }
}

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, printing one JSON line (total + per-query secs)
  * and writing the same line to SPARK_GRAFT_BENCH_OUT (default
  * `bench_out.json`) so a truncated stdout capture can't destroy the
  * round's numbers.
  *
  * JMH-style warmup: a small representative set of queries runs once
  * untimed (caches cleared after each) so the timed passes measure
  * steady-state engine throughput — the quantity that matters on a
  * long-lived cluster — rather than one-shot JVM/JIT/class-loading cost,
  * which on local[32] dominates first execution of the codegen-heavy
  * sketch pipelines (~7s of a 9s first run is C2 warmup). Queries run in
  * sorted name order for run-to-run stability, and every query is timed
  * TWICE with the per-query minimum reported: one noisy machine window
  * (cron, page cache eviction, CPU contention) then shifts a query's
  * number only if it hits the same query in both passes.
  */
object Bench {
  /** Bench's core count, shared by [[CalibRef]] and [[Inspect]] so their
    * measurements run on the session shape Bench times. */
  def defaultCpus: Int =
    Sessions.cpus(math.min(32, Runtime.getRuntime.availableProcessors()))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = Sessions.build(defaultCpus)
    // warmup: scan/agg/join path, text/sketch/window paths, vector path
    Seq("q02_date_range", "d_dup_clusters", "d_simhash_pairs",
        "d_ngram_jaccard", "ev_sessionization", "ann_ivf_topk").foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    // Machine-speed calibration: r5→r7 showed a uniform ~1.3× cross-round
    // drift (and a 1.37× swing between two back-to-back identical runs)
    // that is environment-level, not plan-level. Two fixed workloads
    // ([[BenchCalib.calibJvm]] — CPU clock/steal — and
    // [[BenchCalib.calibSpark]] — scheduler + exchange health) give
    // later rounds a denominator to normalize totals by before
    // declaring a regression.
    // Calibration WINDOWS: the fixed workloads run before the passes,
    // after them, and every ~50 timed entries in between (~18 windows
    // per run), each window's (jvm, spark) kept as a PAIR — the factor
    // arithmetic lives in [[BenchCalib]], whose scaladoc records why
    // every earlier aggregation (two endpoints; per-workload min across
    // windows) was measured unsound.
    val calibWindows =
      scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    def calibrate(): Unit =
      calibWindows += ((BenchCalib.calibJvm(), BenchCalib.calibSpark(spark)))
    calibrate()
    // dev: SPARK_GRAFT_BENCH_FILTER=q1,q2 restricts the run to the named
    // entries for targeted same-window A/B comparisons (e.g. a layout
    // twin vs its arrays entry); the driver never sets it, so the
    // per-round sidecar always covers the full ledger
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(_.contains(n)) }
    // A failed query must NEVER hide inside the total as a fast "success":
    // record the failure, report n_failed, and exit nonzero at the end.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // each entry records which calibration window immediately preceded
    // it, so normalization can use the windows that bracket it in time
    def timedPass(): Seq[(String, Double, Int)] = names.zipWithIndex.map {
      case ((name, fn), i) =>
        val prevWindow = calibWindows.size - 1
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] FAILED $name: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // isolate queries: drop any caches an operator pinned (e.g. the
        // jaccard shingle index) so later timings aren't memory-pressured
        spark.catalog.clearCache()
        if ((i + 1) % 50 == 0) calibrate()
        (name, dt, prevWindow)
    }
    val pass1 = timedPass()
    val pass2 = timedPass()
    calibrate()
    // The reference constants are COMMITTED (calibration_ref.json) so a
    // change to the calibration workloads can't silently desynchronize
    // them (r8 ADVICE): anyone editing calibJvm/calibSpark must
    // regenerate that file on the reference machine (graft.CalibRef),
    // or the normalized number goes stale loudly in review rather than
    // silently here. Raw `value` stays the authoritative metric either
    // way. Re-based at r14 to a SUSTAINED (median-of-windows) pair on a
    // quiet window, matching the sustained estimator — the r7 per-
    // workload-min pair measured burst capability, the wrong unit for a
    // median-of-factors numerator.
    // Resolved from SPARK_GRAFT_CALIB_REF, else the CWD — and the
    // fallback to built-in constants is LOUD (r9 ADVICE): a bench run
    // launched from the wrong directory warns on stderr instead of
    // silently reverting to stale normalization constants.
    val calibRefPath = sys.env.getOrElse("SPARK_GRAFT_CALIB_REF",
      "calibration_ref.json")
    val (calibRefJvm, calibRefSpark) = (try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(calibRefPath)), "UTF-8")
      def f(k: String): Option[Double] =
        ("\"" + k + "\"\\s*:\\s*([0-9.]+)").r
          .findFirstMatchIn(txt).map(_.group(1).toDouble)
      (f("ref_jvm"), f("ref_spark")) match {
        case (Some(j), Some(s)) => Some((j, s))
        case _ => None
      }
    } catch { case _: Throwable => None }).getOrElse {
      System.err.println(s"[bench] WARNING: $calibRefPath unreadable; " +
        "normalizing with built-in fallback constants (0.460/0.455) — " +
        "normalized_total may be stale (raw total is unaffected)")
      (0.460, 0.455)
    }
    val windowFactors = calibWindows.toIndexedSeq.map { case (j, s) =>
      BenchCalib.windowFactor(calibRefJvm, calibRefSpark, j, s)
    }
    val factorSustained = BenchCalib.median(windowFactors)
    val factorBurst = windowFactors.max
    // per-query: raw = min over the two passes; normalized = min over
    // the two passes of (raw × that pass's nearest-in-time factor), so
    // a pass slowed by a transient burst normalizes under the factor
    // its own bracketing windows measured
    def normalize(p: Seq[(String, Double, Int)]): Map[String, (Double, Double)] =
      p.map { case (n, t, w) =>
        n -> (t, t * BenchCalib.entryFactor(windowFactors, w))
      }.toMap
    val n1 = normalize(pass1); val n2 = normalize(pass2)
    val results = names.map { case (n, _) =>
      n -> math.min(n1(n)._1, n2(n)._1)
    }
    val resultsNorm = names.map { case (n, _) =>
      n -> math.min(n1(n)._2, n2(n)._2)
    }.toMap
    val total = results.map(_._2).sum
    val normTotal = resultsNorm.values.sum
    val windowsJson = calibWindows.toSeq.zip(windowFactors).map {
      case ((j, s), f) =>
        f"""{"jvm":$j%.3f,"spark":$s%.3f,"factor":$f%.4f}"""
    }.mkString("[", ",", "]")
    // stdout stays inside the driver's bounded capture window: compact
    // calib summary there, the full per-window series in the sidecar
    def calibFields =
      f""""ref_jvm":$calibRefJvm%.3f,"ref_spark":$calibRefSpark%.3f,"n_windows":${calibWindows.size},"factor_sustained":$factorSustained%.4f,"factor_burst":$factorBurst%.4f,"factor":$factorSustained%.4f,"agg":"paired_window_nearest""""
    val calibCompact = s"{$calibFields}"
    val calibJson = s"""{$calibFields,"windows":$windowsJson}"""
    // The driver keeps only a bounded tail of stdout (~2.3 KB): r2–r5 all
    // lost the head of this line (parsed:null) because per-query entries
    // push it past the window (even 40 entries ≈ 2.5 KB). The stdout line
    // therefore carries ONLY the all-query total, the count, and the 5
    // slowest queries (≈350 bytes); the sidecar file keeps every query at
    // full precision.
    def line(fmt: Double => String, subset: Seq[(String, Double)],
             withNormalized: Boolean): String = {
      val qs = subset.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      // normalized per-query times land only in the sidecar (the stdout
      // line must stay inside the driver's bounded capture window)
      val qn = if (withNormalized)
        subset.map { case (k, _) => "\"" + k + "\":" + fmt(resultsNorm(k)) }
          .mkString(""","queries_normalized":{""", ",", "}")
      else ""
      val calib = if (withNormalized) calibJson else calibCompact
      s"""{"metric":"total","value":${fmt(total)},"normalized_total":${fmt(normTotal)},"unit":"sec","queries":$qs$qn,"sf":"$sfDir","passes":2,"agg":"min","n_queries":${results.size},"n_failed":${failed.size},"calib":$calib,"queries_shown":${subset.size},"full":"$outPath"}"""
    }
    val slowest5 = results.sortBy(-_._2).take(5).sortBy(_._1)
    println(line(v => f"$v%.3f", slowest5, withNormalized = false))
    try Files.writeString(Paths.get(outPath),
      line(_.toString, results, withNormalized = true) + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries FAILED: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
