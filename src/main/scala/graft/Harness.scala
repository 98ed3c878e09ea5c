package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the mains (Bench, Verify, Smoke, PlanDump, DevProf, DevLife)
  * share: one session set-up, one query selection, one fixture-release
  * report and one set of Spark counters.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else every core of the machine. */
  val cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** A `local[cores]` session in UTC, with shuffle partitions = cores
    * and no UI. Further `spark.*` settings come in as `-D` system
    * properties, which `SparkConf` loads by itself.
    */
  def session(logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The gate queries whose name the regex `filter` matches (every
    * query without one), sorted by name.
    */
  def select(filter: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val re = filter.map(_.r)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => re.forall(_.findFirstIn(name).isDefined) }
  }

  /** Releases the session's lifecycle fixtures, with one stderr line per
    * fixture and its build time.
    */
  def releaseFixtures(spark: SparkSession, tag: String): Unit =
    graft.core.Fixtures.release(spark).foreach { case (n, d, sec) =>
      System.err.println(f"[$tag] fixture $n%s $d%s built in $sec%.1f s")
    }

  /** Job/stage/task counters and per-call-site job counts from one
    * `SparkListener`. [[time]] prints a block's wall time beside its
    * counter deltas: where a wall-second has no matching task time, the
    * cost is driver-side (planning, codegen, job round-trips).
    */
  final class Counters(spark: SparkSession, tag: String) {
    private val jobs, stages, tasks = new AtomicInteger
    private val taskNs = new AtomicLong
    val sites = scala.collection.concurrent.TrieMap[String, AtomicInteger]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        sites.getOrElseUpdate(site, new AtomicInteger).incrementAndGet(): Unit
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null)
          taskNs.addAndGet(e.taskMetrics.executorRunTime * 1000000L)
      }
    })

    def time[A](label: String)(f: => A): A = {
      val (j0, s0, k0, n0) = (jobs.get, stages.get, tasks.get, taskNs.get)
      val t0 = System.nanoTime(); val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(80) // let the listener bus drain before reading counters
      println(f"[$tag] $label%-28s $dt%7.2f s  jobs=${jobs.get - j0}%-4d " +
        f"stages=${stages.get - s0}%-4d tasks=${tasks.get - k0}%-5d " +
        f"taskTime=${(taskNs.get - n0) / 1e9}%.2f s")
      r
    }
  }
}
