package graft

import org.apache.spark.sql.SparkSession

/** Dev-only lifecycle profiler: breaks a multimodal/curation lifecycle
  * bootstrap into its phases and reports wall / jobs / tasks / taskTime
  * per phase — the guide §1 "measure first" harness for the calendar
  * queries whose cold bootstraps dominate the bench wall. Args:
  * [which, sfDir]; which ∈ {cap4, full4, cal4, cur, mm6}.
  */
object DevLife {
  def main(args: Array[String]): Unit = {
    val which = if (args.nonEmpty) args(0) else "cap4"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("SPARK_GRAFT_SPREAD_MIN")
      .foreach(v => spark.conf.set("spark.graft.spreadMinBytes", v))
    sys.env.get("SPARK_GRAFT_SPREAD_TABLES")
      .foreach(v => spark.conf.set("spark.graft.spreadTables", v))
    sys.env.get("SPARK_GRAFT_DEV_CONF").foreach(_.split(";;").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    graft.core.Tables.all.foreach(t => graft.core.Tables(spark, dir, t).count())
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val taskNs = new java.util.concurrent.atomic.AtomicLong
    val sites = scala.collection.concurrent.TrieMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
          sites.getOrElseUpdate(site,
            new java.util.concurrent.atomic.AtomicInteger)
            .incrementAndGet(): Unit
        }
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          if (e.taskMetrics != null)
            taskNs.addAndGet(e.taskMetrics.executorRunTime * 1000000L)
        }
      })
    def t[A](tag: String)(f: => A): A = {
      val (j0, k0, n0) = (jobs.get, tasks.get, taskNs.get)
      val t0 = System.nanoTime(); val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(80)
      println(f"[life] $tag%-28s $dt%7.2f s  jobs=${jobs.get - j0}%-4d " +
        f"tasks=${tasks.get - k0}%-5d taskTime=${(taskNs.get - n0) / 1e9}%.2f s")
      r
    }
    import graft.ops.{CurationNDay, MultiDay}
    val root = graft.core.Fixtures.tempIndexDir("graft_devlife_")
    try which match {
      case "cap4" =>
        val p = MultiDay.Paths4(root)
        val fetch = graft.core.Tables(spark, dir, "documents")
        t("bootstrap4") { MultiDay.bootstrap4(spark, dir, p) }
        t("day1") { MultiDay.processDay4(spark, p, 1,
          spark.read.parquet(p.dropDay(1)), fetch) }
        t("day2") { MultiDay.processDay4(spark, p, 2,
          spark.read.parquet(p.dropDay(2)), fetch) }
        t("cap2") { MultiDay.cap4Day(spark, p, "cap2",
          MultiDay.capFixtureBytes(spark, p, fetch), fetch) }
        t("writeDay3Drop") { MultiDay.writeDay3Drop(spark, dir, p) }
        t("day3") { MultiDay.processDay4(spark, p, 3,
          spark.read.parquet(p.dropDay(3)), fetch) }
        t("cap3") { MultiDay.cap4Day(spark, p, "cap3",
          MultiDay.retainedMasses(spark, p, fetch).values.sum, fetch) }
      case "cur" =>
        val a = graft.ops.CurationDay.Artifacts(root)
        t("runDaysBatch") { CurationNDay.runDaysBatch(spark, dir, a) }
      case "mm6" =>
        val p = MultiDay.Paths4(root)
        t("runDays6Batch") { MultiDay.runDays6Batch(spark, dir, p) }
      case other => sys.error(s"DevLife: unknown mode $other")
    } finally graft.core.Fixtures.deleteDir(root)
    sites.toSeq.sortBy(-_._2.get).take(40).foreach { case (s, n) =>
      println(f"[site] ${n.get}%4d  $s") }
    spark.stop()
  }
}
