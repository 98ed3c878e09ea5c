package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.MultiOutput
import graft.functions.PixieFunctions._

class PlansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("multi-output script reuses the shared prefix via cache") {
    val base = graft.core.Tables(spark, dir, "events")
      .withColumn("bucket", timeBinNs(col("ts"), 3600))
      .groupBy("bucket", "event_type")
      .agg(count(lit(1)).as("n"))
    val perType = base.groupBy("event_type").agg(sum("n").as("total"))
    val perBucket = base.groupBy("bucket").agg(sum("n").as("total"))

    var plans = Map.empty[String, String]
    MultiOutput.run(MultiOutput.Script("stats", Seq(base),
      Map("by_type" -> perType, "by_bucket" -> perBucket))) { (name, df) =>
      df.collect()
      plans += name -> df.queryExecution.executedPlan.toString
    }
    // Both outputs must read the cached shared prefix, not rescan parquet.
    assert(plans("by_type").contains("InMemoryTableScan"), plans("by_type").take(800))
    assert(plans("by_bucket").contains("InMemoryTableScan"))
    // cache released after the script (unpersist is async; storage level
    // reverts to NONE immediately)
    assert(base.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("restrict-columns policy drops, redacts, and prunes the scan") {
    import graft.plans.RestrictColumns
    val policy = RestrictColumns.Policy(
      dropped = Map("events" -> Set("props")),
      redacted = Map("events" -> Set("user_id")))
    val ev = RestrictColumns(
      graft.core.Tables(spark, dir, "events"), "events", policy)
    assert(!ev.columns.contains("props"))
    val r = ev.select("user_id").distinct().collect()
    assert(r.length == 1 && r(0).getString(0) == "<redacted>")
    // restricted column never reaches the scan
    val leaves = ev.select("event_id").queryExecution.executedPlan
      .collectLeaves().mkString
    assert(!leaves.contains("props"))
    RestrictColumns.verify(ev, "events", policy)
    intercept[IllegalArgumentException] {
      RestrictColumns.verify(
        graft.core.Tables(spark, dir, "events"), "events", policy)
    }
  }

  test("NsEpochPushdown: every comparison is value-exact across µs-grid boundaries") {
    // Three stored instants one µs apart straddling the test literals.
    val tmp = java.nio.file.Files.createTempDirectory("nspush").toString
    val micros = Seq(999999L, 1000000L, 1000001L)
    spark.range(1).selectExpr(
        s"stack(${micros.length}, ${micros.zipWithIndex
          .map { case (m, i) => s"${i}L, timestamp_micros(${m}L)" }
          .mkString(", ")}) AS (event_id, ts)")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val t = graft.core.Tables(spark, tmp, "events") // ts -> epoch-ns long
    // literals: on-grid, and off-grid one ns either side
    for (l <- Seq(1000000000L, 999999999L, 1000000001L)) {
      def got(p: org.apache.spark.sql.Column) =
        t.filter(p).select("event_id").collect().map(_.getLong(0)).toSet
      def want(f: Long => Boolean) =
        micros.zipWithIndex.collect { case (m, i) if f(m * 1000L) => i.toLong }.toSet
      assert(got(col("ts") >= l) == want(_ >= l), s">= $l")
      assert(got(col("ts") > l) == want(_ > l), s"> $l")
      assert(got(col("ts") <= l) == want(_ <= l), s"<= $l")
      assert(got(col("ts") < l) == want(_ < l), s"< $l")
      assert(got(col("ts") === l) == want(_ == l), s"== $l")
    }
    // and the rewrite actually reached the scan for a grid literal
    val scan = t.filter(col("ts") >= 1000000000L).queryExecution
      .executedPlan.collectLeaves().mkString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThanOrEqual(ts"),
      scan.take(800))
  }
}
