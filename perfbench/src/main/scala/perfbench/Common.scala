package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Command-line options of one benchmark run. The workload sizes are
  * constants of each workload object, not options. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, out: String, work: String,
                      recorded: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("out"), need("work"),
      m.get("recorded").filter(_.nonEmpty))
  }
}

/** Minimal JSON rendering for the raw result file (maps, seqs, numbers,
  * strings, booleans). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

/** Process-level counters read from the JVM's management beans and
  * /proc — the sitting discriminators reported beside every workload. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime else 0L
  }
  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Order statistics for per-layer summaries. The end-to-end statistics
  * are computed from the raw samples by perfbench/stats.py. */
object Pct {
  def apply(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = apply(xs, 50)
}

/** Spans recorded by the benchmark around each call it makes into a
  * layer of the program: name, layer, start, end, parent, run id. Kept in
  * memory and written out when the run ends. A disabled tracer runs the
  * body and records nothing. */
object Tracer {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        startNs: Long, endNs: Long)
}

final class Tracer(val enabled: Boolean, runId: String) {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, layer, t0, t1)
      }
    }

  def count: Int = spans.length

  /** Self time per layer in ms: a span's duration minus the part of it
    * its child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  def durationsMs(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  def writeTo(path: String, append: Boolean = false): Unit = {
    val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(path, append), "UTF-8"))
    try spans.foreach { s =>
      w.println(Json.render(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/** Collects the outcome of one run: raw samples for the end-to-end
  * statistics, the correctness tally and the per-layer values. */
final class Result(val args: Args) {
  val setupS = ArrayBuffer.empty[Double]
  val opMs = ArrayBuffer.empty[Double]
  var timedWallS = 0.0
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]

  /** Count one checked operation; a false `ok` is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.length < 50) failures += what
    }
  }

  def render(extra: Map[String, Any]): String = Json.render(Map(
    "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
    "setup_s" -> setupS.toSeq, "op_ms" -> opMs.toSeq, "timed_wall_s" -> timedWallS,
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
    "layers" -> layers, "info" -> info) ++ extra)
}

/** Spark task and stage counters from a listener the benchmark
  * registers itself. Each task end is kept with its launch time so that
  * work can be attributed to the operation (chunk, query) it ran in. */
object TaskProbe {
  final case class TaskRec(launchMs: Long, runMs: Long, cpuMs: Double, gcMs: Long,
                           shuffleBytes: Long, spillBytes: Long, failed: Boolean)
  final case class StageRec(submitMs: Long)
}

final class TaskProbe extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  import TaskProbe.{StageRec, TaskRec}
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobs = new java.util.concurrent.atomic.AtomicLong(0)
  /** Sum of the program's `graft.trackStream.lateRows` accumulator. */
  val lateRows = new java.util.concurrent.atomic.AtomicLong(0)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    e.taskInfo.accumulables.foreach { ai =>
      if (ai.name.contains("graft.trackStream.lateRows"))
        ai.update.foreach(v => lateRows.addAndGet(v.toString.toLong))
    }
    if (m != null)
      tasks.add(TaskRec(e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime / 1e6,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, failed))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(StageRec(e.stageInfo.submissionTime.getOrElse(0L)))
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  def clear(): Unit = { tasks.clear(); stages.clear(); jobs.set(0) }
  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
  def stageList: Seq[StageRec] = stages.asScala.toSeq
}

object SparkSetup {
  import org.apache.spark.sql.SparkSession

  /** Cores of the Spark workloads: local[4]. */
  val Cores = 4

  /** The session every Spark workload runs in: local[cores], shuffle and
    * state partitions equal to the cores, UI off, UTC, plus `extra`. */
  def session(cores: Int, local: String, extra: (String, String)*): SparkSession = {
    val spark = extra.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .config("spark.local.dir", s"$local/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

}

/** Shape counters of an executed plan, looking through adaptive plans. */
object PlanShape extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
  def exchanges(p: SparkPlan): Long =
    collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size.toLong
}
