package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** Nearest-rank percentile, p in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.min(s.size - 1, math.ceil(p * s.size).toInt - 1)))
    }
}

/** Minimal JSON rendering for the result file (maps, sequences, numbers,
  * strings). */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def render(v: Any): String = v match {
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
}

/** One layer-boundary span: the benchmark's call into a program module. */
case class Span(id: Long, name: String, parent: Long, op: Long, startNs: Long, endNs: Long)

/** Spans kept in memory and written when the run ends. Disabled, `span`
  * only runs its body. The driver thread is the only caller. */
class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Long]
  private var nextId = 1L
  var op: Long = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0L)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, parent, op, t0, System.nanoTime())
        open = open.tail
      }
    }

  def write(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try done.foreach { s =>
      w.write(Json.render(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      w.write("\n")
    } finally w.close()
  }
}

/** Spark runtime counters from an attached listener: jobs, stages, tasks,
  * executor run/CPU/GC time, shuffle write, spill, input bytes, and each
  * task's run interval (for the idle share of an operation's wall time). */
class SparkCounters extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, spill, inputBytes = new AtomicLong
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def snapshot(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    val (compiles, meanMs) = org.apache.spark.PerfbenchAccess.codegenCompiles()
    Map[String, Double]("jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "run_ms" -> runMs.get, "cpu_ms" -> cpuNs.get / 1e6, "gc_ms" -> gcMs.get,
      "shuffle_write" -> shuffleWrite.get, "spill" -> spill.get,
      "input_bytes" -> inputBytes.get, "compiles" -> compiles,
      "compile_ms_total" -> compiles * meanMs)
  }

  /** Share of the given wall-clock windows (ms) during which no task ran. */
  def idleShare(windows: Seq[(Long, Long)]): Double = {
    val ivs = intervals.asScala.toSeq.sortBy(_._1)
    var wall = 0L
    var covered = 0L
    windows.foreach { case (ws, we) =>
      wall += we - ws
      var cur = ws
      ivs.foreach { case (s0, e0) =>
        val s = math.max(s0, cur)
        val e = math.min(e0, we)
        if (e > s) { covered += e - s; cur = e }
      }
    }
    if (wall <= 0) 0.0 else 1.0 - covered.toDouble / wall
  }
}

object SparkCounters {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }

  /** The spark.* per-layer metrics for `ops` operations of the timed phase. */
  def layerMetrics(d: Map[String, Double], ops: Int, idle: Double,
      searches: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    Map(
      "spark.jobs_per_op" -> d("jobs") / n,
      "spark.stages_per_op" -> d("stages") / n,
      "spark.tasks_per_op" -> d("tasks") / n,
      "spark.executor_run_ms" -> d("run_ms") / n,
      "spark.executor_cpu_ms" -> d("cpu_ms") / n,
      "spark.idle_share" -> idle,
      "spark.gc_ms" -> d("gc_ms") / n,
      "spark.shuffle_write_bytes" -> d("shuffle_write") / n,
      "spark.spill_bytes" -> d("spill") / n,
      "spark.input_bytes_per_query" -> (if (searches > 0) d("input_bytes") / searches else 0.0),
      "spark.codegen_compiles" -> d("compiles"),
      "spark.codegen_compile_ms" -> d("compile_ms_total"))
  }
}

/** Peak heap in use right after a collection, over the run. */
class HeapPeak {
  @volatile var peakBytes = 0L
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, h: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        if (used > peakBytes) peakBytes = used
      }
  }
  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
}

/** Every StreamingQueryProgress of the session, with an optional hook run
  * on the listener thread as each arrives. */
class ProgressLog(onProgress: StreamingQueryProgress => Unit = _ => ()) extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    events.add(e.progress)
    onProgress(e.progress)
  }
  def all: Seq[StreamingQueryProgress] = events.asScala.toSeq
}

object Progress {
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  /** Batches that carried data. */
  def withData(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)
}

/** Everything the traced mode attaches to one session. */
class Tracing(spark: SparkSession, val enabled: Boolean) {
  val tracer = new Tracer(enabled)
  val counters: Option[SparkCounters] =
    if (enabled) { val c = new SparkCounters; spark.sparkContext.addSparkListener(c); Some(c) } else None
  val heap: Option[HeapPeak] = if (enabled) Some(new HeapPeak) else None
  def snapshot(): Map[String, Double] =
    counters.map(_.snapshot(spark.sparkContext)).getOrElse(Map.empty)
}
