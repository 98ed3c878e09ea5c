package perfbench

import graft.ops.{CurationDay, CurationNDay}
import org.apache.spark.sql.functions.{col, lit}

/** curation_days: the N-day curation lifecycle, each repeat in a fresh
  * artifact directory: bootstrap, admission days 1 and 2, then the day-4
  * drop (whose sentinels derive from the day-1 and day-2 admissions).
  * Write-heavy and driver-bound (about 90 small jobs per day). Its inputs
  * are the fixed documents/events fixture, so the seed does not change
  * them. Days 3 and 4 are left out to keep one run within the time budget;
  * they repeat the day step measured here.
  */
object CurationDays {
  val Tables: Seq[String] = Seq("documents", "events")
  val Days: Seq[Int] = Seq(1, 2)
  def expectedName(day: Int): String = s"curation_day$day"

  /** Check name -> oracle SQL: one day's rows of the q508 gate oracle,
    * which holds every day's admission decisions.
    */
  def checks: Seq[(String, String)] = {
    val all = graft.SparkEntry.oracleSql("q508_curation_nday_decisions")
    Days.map(k => expectedName(k) -> s"SELECT * FROM ($all) WHERE day = $k")
  }

  def run(ctx: Ctx, expected: Map[String, Expected]): Measured = {
    val spark = ctx.spark
    def lifecycle(i: Int): Seq[Op] = {
      val root = new java.io.File(ctx.workDir, s"lifecycle$i")
      val a = CurationDay.Artifacts(root.getAbsolutePath)
      val warm = i > 1
      val ops = ctx.tracer.span(s"lifecycle$i") {
        val boot = ctx.operation("bootstrap", warm)(
          _.phase("bootstrap")(CurationNDay.bootstrapNDay(spark, ctx.dir, a)))
        val fetch = graft.core.Tables.plain(spark, ctx.dir, "documents")
        val days = Days.map { k =>
          ctx.operation(s"day$k", warm) { o =>
            o.phase("day")(CurationNDay.processDay(spark, a, k,
              spark.read.parquet(a.dropDay(k)), fetch))
            // the one-day slice of CurationNDay.allDecisions
            val dec = spark.read.parquet(a.decisionsDay(k))
              .select(lit(k).as("day"), col("doc_id"), col("decision"), col("shard"))
            o.check(Check.compare(expected(expectedName(k)), dec.schema,
              dec.collect().toSeq))
          }
        }
        val drop = ctx.operation("day4drop", warm)(
          _.phase("day4drop")(CurationNDay.writeDay4Drop(spark, ctx.dir, a)))
        boot +: days :+ drop
      }._1
      deleteTree(root)
      ops
    }
    val t0 = System.nanoTime()
    val runs = scala.collection.mutable.ArrayBuffer(lifecycle(1))
    val retained = ctx.retainedHeapMb()
    while (ctx.elapsedSince(t0) < ctx.seconds) runs += lifecycle(runs.length + 1)
    val first = runs.head
    val all = runs.toSeq.flatten
    val ok = all.filter(_.failure.isEmpty)
    def med(name: String, phase: String) =
      Stats.median(ok.filter(_.name.startsWith(name)).map(_.seconds(phase)))
    val dayOps = ok.filter(o => Days.exists(k => o.name == s"day$k"))
    Measured(
      coldS = first.map(_.latency).sum,
      retainedMb = retained,
      latencies = dayOps.map(_.latency),
      measuredOps = all,
      layer = Seq(
        "curation.bootstrap_s" -> med("bootstrap", "bootstrap"),
        "curation.day_s" -> Stats.median(dayOps.map(_.seconds("day"))),
        "curation.day4drop_s" -> med("day4drop", "day4drop"),
        "curation.jobs_per_day" -> Stats.mean(dayOps.flatMap(_.phases
          .filter(_.name == "day").map(_.counters.getOrElse("jobs", 0L).toDouble))),
        "curation.bytes_written_mb" -> all.flatMap(_.phases)
          .filter(_.name != "check").map(_.counters.getOrElse("output_b", 0L)).sum /
          1048576.0 / runs.length))
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
