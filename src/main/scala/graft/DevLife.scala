package graft

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
    val spark = Harness.session("ERROR")
    graft.core.Tables.all.foreach(t => graft.core.Tables(spark, dir, t).count())
    val c = new Harness.Counters(spark, "life")
    import graft.ops.{CurationNDay, MultiDay}
    val root = graft.core.Fixtures.tempIndexDir("graft_devlife_")
    try which match {
      case "cap4" =>
        val p = MultiDay.Paths4(root)
        val fetch = graft.core.Tables(spark, dir, "documents")
        c.time("bootstrap4") { MultiDay.bootstrap4(spark, dir, p) }
        c.time("day1") { MultiDay.processDay4(spark, p, 1,
          spark.read.parquet(p.dropDay(1)), fetch) }
        c.time("day2") { MultiDay.processDay4(spark, p, 2,
          spark.read.parquet(p.dropDay(2)), fetch) }
        c.time("cap2") { MultiDay.cap4Day(spark, p, "cap2",
          MultiDay.capFixtureBytes(spark, p, fetch), fetch) }
        c.time("writeDay3Drop") { MultiDay.writeDay3Drop(spark, dir, p) }
        c.time("day3") { MultiDay.processDay4(spark, p, 3,
          spark.read.parquet(p.dropDay(3)), fetch) }
        c.time("cap3") { MultiDay.cap4Day(spark, p, "cap3",
          MultiDay.retainedMasses(spark, p, fetch).values.sum, fetch) }
      case "cur" =>
        val a = graft.ops.CurationDay.Artifacts(root)
        c.time("runDaysBatch") { CurationNDay.runDaysBatch(spark, dir, a) }
      case "mm6" =>
        val p = MultiDay.Paths4(root)
        c.time("runDays6Batch") { MultiDay.runDays6Batch(spark, dir, p) }
      case other => sys.error(s"DevLife: unknown mode $other")
    } finally graft.core.Fixtures.deleteDir(root)
    c.sites.toSeq.sortBy(-_._2.get).take(40).foreach { case (s, n) =>
      println(f"[site] ${n.get}%4d  $s") }
    spark.stop()
  }
}
