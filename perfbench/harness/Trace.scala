package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** Spark execution counters, summed over every job, stage and task that
  * ends while the listener is attached. Attached in traced runs only.
  */
final class ExecCounters extends SparkListener {
  private val totals = scala.collection.mutable.LinkedHashMap(
    ExecCounters.Keys.map(_ -> 0L): _*)
  // (launch, finish) wall-clock ms of every finished task
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Long): Unit = totals(k) = totals(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(add("jobs", 1))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(add("stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("input_b", m.inputMetrics.bytesRead)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("output_b", m.outputMetrics.bytesWritten)
    }
  }

  /** Current totals; call [[ExecCounters.drain]] first so that every
    * event of the work just finished has been delivered.
    */
  def snapshot: Map[String, Long] = synchronized(totals.toMap)

  /** Milliseconds of [from, to) during which at least one task ran. */
  def busyMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var busy = 0L; var end = from
    for ((s, e) <- clipped if e > end) { busy += e - math.max(s, end); end = e }
    busy
  }
}

object ExecCounters {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_ms", "cpu_ns",
    "gc_ms", "input_b", "shuffle_write_b", "shuffle_read_b", "spill_b",
    "output_b")

  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    Keys.map(k => k -> (after(k) - before(k))).toMap

  def drain(sc: SparkContext): Unit = org.apache.spark.ListenerBusDrain(sc)
}

/** Spans around every call into the engine: workload → operation → phase.
  * Spans of one operation share its id. Timing is always taken (the
  * latencies come from it); spans are kept, in memory, only when tracing.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startNs: Long, endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var open = List(-1)

  /** Runs `body`, returns its value and its wall seconds. */
  def span[A](name: String, op: Int = -1)(body: => A): (A, Double) = {
    val id = spans.length
    if (enabled) spans += Span(id, open.head, op, name, 0L, 0L)
    open = id :: open
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      open = open.tail
      if (enabled) spans(id) = spans(id).copy(startNs = t0, endNs = t1)
    }
  }

  /** Self seconds per span name: each span's duration minus the time its
    * direct children cover (children never overlap: the driver loop is
    * sequential).
    */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    spans.groupMapReduce(_.name)(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9)(_ + _)
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
