package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** One timed phase of an operation. `counters` and the wall-clock bounds
  * feed the traced run's per-layer numbers.
  */
final case class Phase(name: String, seconds: Double, startMs: Long,
                       endMs: Long, counters: Map[String, Long])

/** One operation (a PxL script run, a curation day, ...): its phases, its
  * check result and the resources still pinned after it.
  */
final case class Op(id: Int, name: String, warm: Boolean,
                    phases: Seq[Phase], failure: Option[String],
                    pinnedMb: Double, tempEntries: Int) {
  /** Wall seconds the caller waited: every phase except the check. */
  def latency: Double = phases.filter(_.name != "check").map(_.seconds).sum
  def seconds(phase: String): Double =
    phases.filter(_.name == phase).map(_.seconds).sum
}

/** Everything a workload needs from the run: the session, its inputs and
  * the instruments. Operations run sequentially on the calling thread.
  */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
                val seconds: Double, val tracer: Tracer,
                val counters: Option[ExecCounters], val workDir: java.io.File,
                val tmpDir: java.io.File) {
  val ops = ArrayBuffer.empty[Op]

  private def snapshot(): Map[String, Long] = counters match {
    case Some(c) => ExecCounters.drain(spark.sparkContext); c.snapshot
    case None => Map.empty
  }

  final class Scope(val id: Int) {
    val phases = ArrayBuffer.empty[Phase]
    var failure: Option[String] = None

    def phase[A](name: String)(body: => A): A = {
      val before = snapshot()
      val startMs = System.currentTimeMillis()
      val (r, s) = tracer.span(name, id)(body)
      val endMs = System.currentTimeMillis()
      val after = snapshot()
      phases += Phase(name, s, startMs, endMs,
        if (counters.isDefined) ExecCounters.delta(after, before) else Map.empty)
      r
    }

    def check(mismatch: => Option[String]): Unit =
      failure = phase("check")(mismatch)
  }

  /** Runs one operation; an exception fails it instead of the run. */
  def operation(name: String, warm: Boolean)(body: Scope => Unit): Op = {
    val scope = new Scope(ops.length)
    try tracer.span("op:" + name, scope.id)(body(scope))
    catch { case e: Exception =>
      scope.failure = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
    scope.failure.foreach(f => System.err.println(s"[perfbench] $name failed: $f"))
    val op = Op(scope.id, name, warm, scope.phases.toSeq, scope.failure,
      pinnedMb(), tempEntries())
    ops += op
    op
  }

  /** Block-manager storage still held: cached and checkpointed RDD blocks
    * in memory and on disk.
    */
  def pinnedMb(): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Files and directories in the JVM's temp directory. */
  def tempEntries(): Int = Option(tmpDir.list()).map(_.length).getOrElse(0)

  def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap the session still holds (caches, pinned and broadcast blocks,
    * memoized frames): the live set after a full collection. Spark drops
    * blocks of collected RDDs and broadcasts asynchronously, so collect,
    * let its cleaner run, and collect again.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  /** Linear-interpolated percentile (the `statistics`/numpy default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
