package graft
import org.apache.spark.sql.SparkSession

/** The one way the engine builds a SparkSession. Every main — Bench,
  * CalibRef, Verify, Inspect, RunPipeline and the cross-process
  * warehouse reader — and the test session go through [[build]], so a
  * plan captured by one tool is the plan the others run.
  *
  * [[build]] installs [[GraftExtensions]], the one path by which SQL
  * names the native functions (`vec_cosine`, `vec_l2`, `md5_long`,
  * `zorder_key`, `jaro_winkler`). It adds no optimizer rule or planner
  * strategy: the top-k strategy installs itself on whatever session runs
  * `graft.plans.TopKPerGroup.topK`. */
object Sessions {
  /** The core count a main runs on: `SPARK_GRAFT_CPUS` if set, else the
    * caller's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** A local session on `cpus` cores with one shuffle partition per core
    * and UTC session time. AQE is left at its default (on). */
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // The generated-class cache defaults to 100 entries — a few
      // queries' worth. A driver running hundreds of queries (or any
      // iterative operator whose per-round plans are structurally
      // identical) recompiles evicted classes all day: raising the
      // cache measured 0.70-0.85x on the iterative dedup/graph entries
      // (r15 A/B) with bounded memory (generated classes are ~KB-scale;
      // static conf, so it must be set before the first session).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
