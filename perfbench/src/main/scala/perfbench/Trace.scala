package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds from the monotonic clock, so span
  * edges are precise and still comparable with Spark's epoch-ms event
  * times and the program's `etl_log` timestamps. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startUs: Long, endUs: Long)

/** In-memory span recorder. `span` labels every Spark job submitted inside
  * it: the job description becomes the span name (so a stale label left
  * by the program never captures later jobs) and the local property
  * `perfbench.span` carries the span id, which the listener maps back to
  * the span. Spans are written out once, at the end of the run. */
final class Spans(sc: SparkContext) {
  val PropKey = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, String)] = Nil
  var currentOp: Long = -1L
  /** Layer spans are recorded only while tracing; op spans always. */
  var layers: Boolean = false

  def all: Seq[Span] = done.toSeq

  private def label(id: Long, name: String): Unit = {
    sc.setJobDescription(name)
    sc.setLocalProperty(PropKey, id.toString)
  }

  def op[A](name: String, opId: Long)(body: => A): (A, Span) = {
    currentOp = opId
    val r = record(name, force = true)(body)
    (r, done.last)
  }

  def apply[A](name: String)(body: => A): A = record(name, force = false)(body)

  private def record[A](name: String, force: Boolean)(body: => A): A =
    if (!force && !layers) { label(-1L, name); body }
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.map(_._1).getOrElse(-1L)
      stack = (id, name) :: stack
      label(id, name)
      val t0 = Clock.nowUs
      try body
      finally {
        val t1 = Clock.nowUs
        stack = stack.tail
        done += Span(id, name, parent, currentOp, t0, t1)
        stack.headOption match {
          case Some((pid, pname)) => label(pid, pname)
          case None => label(-1L, "perfbench")
        }
      }
    }

  /** A span known only after the fact (e.g. an `etl_log` row). */
  def add(name: String, parent: Long, startUs: Long, endUs: Long): Unit =
    done += Span(ids.incrementAndGet(), name, parent, currentOp, startUs, endUs)

  def write(path: String): Unit = Json.writeLines(path, done.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_us" -> s.startUs, "end_us" -> s.endUs)
  })
}

/** Per-job task totals; one instance per job, filled by the listener. */
final class JobRec(val jobId: Int, val span: Long, val desc: String,
                   val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0; var tasks = 0; var failedTasks = 0
  var runMs = 0L; var cpuNs = 0L; var schedMs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var inBytes = 0L; var outBytes = 0L

  def json: String = Json.obj("job" -> jobId, "span" -> span,
    "desc" -> desc, "start_ms" -> startMs, "end_ms" -> endMs,
    "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1e6,
    "sched_delay_ms" -> schedMs, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "input_bytes" -> inBytes,
    "output_bytes" -> outBytes)
}

/** Observes the engine from outside: a SparkListener for jobs, stages,
  * tasks and SQL executions, a QueryExecutionListener for Catalyst phase
  * times, and a log appender for codegen compile times. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  /** (kind, start_ms, end_ms) for SQL executions and Catalyst phases. */
  val events = new ConcurrentLinkedQueue[(String, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty("perfbench.span")))
      .map(_.toLong).getOrElse(-1L)
    val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
      .getOrElse("")
    val j = new JobRec(e.jobId, span, desc, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized { j.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (e.reason != org.apache.spark.Success) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          val info = e.taskInfo
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          j.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
          j.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inBytes += m.inputMetrics.bytesRead
          j.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => events.add(("sql", s.time, s.time))
    case _ => ()
  }

  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      events.add((name, p.startTimeMs, p.endTimeMs))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  def writeJobs(path: String): Unit =
    Json.writeLines(path, jobs.values.asScala.toSeq.sortBy(_.jobId).map(_.json))

  def writeEvents(path: String, codegen: Seq[(Long, Double)]): Unit =
    Json.writeLines(path,
      events.asScala.toSeq.map { case (k, s, e) =>
        Json.obj("kind" -> k, "start_ms" -> s, "end_ms" -> e)
      } ++ codegen.map { case (t, ms) =>
        Json.obj("kind" -> "codegen", "start_ms" -> t, "end_ms" -> t, "ms" -> ms)
      })
}

/** Collects "Code generated in N ms" lines from Spark's CodeGenerator
  * logger (INFO, routed only here so the console stays quiet). */
object CodegenLog {
  import org.apache.logging.log4j.Level
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val Pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  val compiles = new ConcurrentLinkedQueue[(Long, Double)]()

  private object Appender extends AbstractAppender("perfbench-codegen", null,
      null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      e.getMessage.getFormattedMessage match {
        case Pattern(ms) => compiles.add((e.getTimeMillis, ms.toDouble))
        case _ => ()
      }
  }

  def install(): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    Appender.start()
    cfg.addAppender(Appender)
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(Appender, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }

  def all: Seq[(Long, Double)] = compiles.asScala.toSeq
}

object Listeners {
  def install(spark: SparkSession, r: Recorder): Unit = {
    spark.sparkContext.addSparkListener(r)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(r)
    CodegenLog.install()
  }
}

/** Minimal JSON writing; values are numbers, strings, booleans or
  * already-rendered JSON (`Json.Raw`). */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def writeLines(path: String, lines: Iterable[String]): Unit = {
    val w = new BufferedWriter(new FileWriter(path))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
