package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. Runs one workload against the program,
  * records every op, span, job and engine event, and writes the raw
  * records to `--out`; `perfbench/run.py` turns them into metrics and
  * checks them against the generator's manifest.
  *
  * Args: --workload W --input DIR --out DIR --trace 0|1
  *       --reps K --warmup N --ops M --launch-ms EPOCH_MS
  *
  * Run shape: session → K set-up repetitions into fresh roots (the last
  * one is kept) → N warm-up ops → M timed ops. M is fixed by the caller,
  * not by how fast the ops run, so every run times the same ops. With
  * --trace 1 the listeners and layer spans are on for the timed ops.
  * Checks run after each op, outside its latency.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val trace = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).collect()
    val sessionS = (System.currentTimeMillis() - a("launch-ms").toLong) / 1000.0

    val spans = new Spans(spark.sparkContext)
    val input = Paths.get(a("input"))
    val w: Workload = a("workload") match {
      case "star_queries" => new StarQueries(spark, spans, input, out)
      case "etl_incremental" => new EtlIncremental(spark, spans, input, out)
      case "curation_ingest" => new CurationIngest(spark, spans, input, out)
      case other => sys.error(s"unknown workload $other")
    }

    val loadS = (1 to a("reps").toInt).map { k =>
      val t0 = System.nanoTime()
      w.setUp(k)
      (System.nanoTime() - t0) / 1e9
    }
    val ops = mutable.ArrayBuffer.empty[String]
    var opId = 0L
    def runOp(window: String): Unit = {
      val i = opId; opId += 1
      val (thr0, cpu0, steal0) = (Host.threadCpuNs(), Host.processCpuMs(), Host.stealMs())
      val (res, span) = spans.op("op", i) {
        try Right(w.op(i)) catch { case e: Throwable => Left(e) }
      }
      val (thr1, cpu1, steal1) = (Host.threadCpuNs(), Host.processCpuMs(), Host.stealMs())
      val latencyMs = (span.endUs - span.startUs) / 1000.0
      // everything below is outside the op's latency
      val fields = res match {
        case Right(r) =>
          val check = try w.check(i, r) catch { case e: Throwable =>
            Map("check_error" -> String.valueOf(e.getMessage)) }
          Seq("ok_run" -> true, "check" -> Json.Raw(Json.value(check))) ++ r.toSeq
        case Left(e) =>
          System.err.println(s"[perfbench] op $i failed: $e")
          Seq("ok_run" -> false, "error" -> String.valueOf(e.getMessage))
      }
      ops += Json.obj(Seq("op" -> i, "window" -> window,
        "start_us" -> span.startUs, "end_us" -> span.endUs,
        "latency_ms" -> latencyMs, "cpu_ms" -> Host.threadCpuMs(thr0, thr1),
        "process_cpu_ms" -> (cpu1 - cpu0),
        "steal_ms" -> (steal1 - steal0)) ++ fields ++
        Seq("walk" -> Json.Raw(Json.value(w.walk()))): _*)
    }

    val tw = System.nanoTime()
    (0 until a("warmup").toInt).foreach(_ => runOp("warmup"))
    val warmupS = (System.nanoTime() - tw) / 1e9

    val recorder = new Recorder
    if (trace) {
      Listeners.install(spark, recorder)
      spans.layers = true
    }
    var n = 0
    while (n < a("ops").toInt && w.hasNext(opId)) {
      runOp("timed")
      n += 1
    }
    spans.layers = false

    // the listener bus delivers asynchronously; let it drain
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext, 30000)
    w.finish()
    val heapMb = liveHeapMb()
    Json.writeLines(out.resolve("ops.jsonl").toString, ops)
    spans.write(out.resolve("spans.jsonl").toString)
    recorder.writeJobs(out.resolve("jobs.jsonl").toString)
    recorder.writeEvents(out.resolve("events.jsonl").toString, CodegenLog.all)
    Json.writeLines(out.resolve("setup.json").toString, Seq(Json.obj(
      "session_s" -> sessionS, "load_s" -> loadS, "warmup_s" -> warmupS,
      "heap_live_mb" -> heapMb, "cores" -> cores)))
    spark.stop()
  }

  /** Driver heap in use after forced full collections. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** CPU time of this process and time the host took from this machine's
  * CPUs (`steal` in /proc/stat), to tell a slow op from a busy host. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
  private val tickMs = 10.0

  /** CPU time of every live Java thread, by thread id. JIT compiler and
    * GC threads are not among them, so warm-up compilation stays out. */
  def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU the Java threads spent between two snapshots; a thread that ended
    * in between drops out of both. */
  def threadCpuMs(before: Map[Long, Long], after: Map[Long, Long]): Double =
    after.collect { case (id, t) => t - before.getOrElse(id, 0L) }.sum / 1e6

  def processCpuMs(): Double = os.getProcessCpuTime / 1e6

  def stealMs(): Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      f(8).toDouble * tickMs
    } catch { case _: Exception => 0.0 }
}

/** One workload: K set-ups into fresh roots, then ops. `op` returns the
  * op's observations (rows in/out, bytes in); `check` returns the facts
  * the Python side compares against the manifest. */
trait Workload {
  def setUp(rep: Int): Unit
  def op(i: Long): Map[String, Any]
  def check(i: Long, r: Map[String, Any]): Map[String, Any]
  def hasNext(i: Long): Boolean = true
  def walk(): Map[String, Any] = Map.empty
  def finish(): Unit = ()
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def lines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq.map(_.trim).filter(_.nonEmpty)

  /** Size and file counts of a warehouse tree, plus the leftovers of
    * interrupted commits (`._tmp`, `._old`, `._pending`, `_temporary`). */
  final case class Tree(files: Map[String, (Long, Long)], staleDirs: Int) {
    def bytes: Long = files.values.map(_._1).sum
  }
  def tree(root: Path): Tree =
    if (!Files.exists(root)) Tree(Map.empty, 0)
    else {
      val s = Files.walk(root)
      try {
        val files = mutable.Map.empty[String, (Long, Long)]
        var stale = 0
        s.iterator().asScala.foreach { p =>
          val n = p.getFileName.toString
          if (Files.isDirectory(p)) {
            if (n.endsWith("._tmp") || n.endsWith("._old") || n == "_temporary") stale += 1
          } else if (n.endsWith("._pending")) stale += 1
          else if (Files.isRegularFile(p))
            files(root.relativize(p).toString) =
              (Files.size(p), Files.getLastModifiedTime(p).toMillis)
        }
        Tree(files.toMap, stale)
      } finally s.close()
    }

  /** Bytes in files that are new or rewritten in `after`. */
  def written(before: Tree, after: Tree): Long =
    after.files.collect { case (k, v) if !before.files.get(k).contains(v) => v._1 }.sum
}
