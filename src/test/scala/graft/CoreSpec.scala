package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PxTable
import graft.functions.PixieFunctions._

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Shared plan-pin helpers (one definition — the substring-count
    * idiom every plan pin depends on must not drift per-file).
    */
  def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString
  def bnlj(p: String): Int =
    p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin")
}

class CoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("entry() flagship returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("timeBinNs bins to window start seconds, exact int64") {
    val df = Seq(1704067798778549123L, 1704067200000000000L).toDF("ts")
    val got = df.select(timeBinNs($"ts", 3600)).as[Long].collect().toSeq
    // 1704067798... is 2024-01-01 00:09:58 -> hour bucket 1704067200
    assert(got == Seq(1704067200L, 1704067200L))
  }

  test("nsToUs floors exactly at 2^60-scale values") {
    val df = Seq(1704138694642191999L).toDF("ts")
    assert(df.select(nsToUs($"ts")).as[Long].head() == 1704138694642191L)
  }

  test("parseDurationNs handles pixie duration strings") {
    assert(parseDurationNs("-30s") == -30L * 1000000000L)
    assert(parseDurationNs("5m") == 300L * 1000000000L)
    assert(parseDurationNs("2h") == 7200L * 1000000000L)
  }

  test("merge right is rewritten to left with swapped inputs") {
    val l = PxTable(Seq((1, "a"), (2, "b")).toDF("k", "lv"))
    val r = PxTable(Seq((2, "x"), (3, "y")).toDF("j", "rv"))
    val got = l.merge(r, "right", Seq("k"), Seq("j")).df
      .select("j", "rv", "lv").collect().map(x => (x(0), x(1), x(2))).toSet
    assert(got == Set((2, "x", "b"), (3, "y", null)))
  }

  test("merge suffixes overlapping non-key columns, collapses shared keys") {
    val l = PxTable(Seq((1, 10.0)).toDF("k", "v"))
    val r = PxTable(Seq((1, 20.0)).toDF("k", "v"))
    val out = l.merge(r, "inner", Seq("k"), Seq("k")).df
    assert(out.columns.count(_ == "k") == 1)
    assert(out.columns.contains("v_x") && out.columns.contains("v_y"))
    assert(out.select("v_x", "v_y").as[(Double, Double)].head() == ((10.0, 20.0)))
  }

  test("keyless merge: cross for inner, null-padded outer vs empty side") {
    val l = PxTable(Seq((1, "a"), (2, "b")).toDF("k", "lv"))
    val r = PxTable(Seq(100L).toDF("total"))
    val got = l.merge(r, "inner", Seq(), Seq()).df
    assert(got.count() == 2 && got.columns.contains("total"))
    // Carnot's zero-key equijoin under how='outer' keeps the non-empty
    // side null-padded when the other side is empty (a plain cross
    // join would drop those rows) — service_endpoints.pxl relies on
    // keyless how='outer' being accepted.
    val empty = PxTable(Seq.empty[Long].toDF("total"))
    val outer = l.merge(empty, "outer", Seq(), Seq()).df
    assert(outer.count() == 2)
    assert(outer.filter(col("total").isNull).count() == 2)
  }

  test("merge full outer coalesces shared keys from both sides") {
    val l = PxTable(Seq((1, "a")).toDF("k", "lv"))
    val r = PxTable(Seq((2, "b")).toDF("k", "rv"))
    val got = l.merge(r, "outer", Seq("k"), Seq("k")).df
      .select("k").as[Int].collect().toSet
    assert(got == Set(1, 2))
  }

  test("append unions by name regardless of column order") {
    val a = PxTable(Seq((1L, "x")).toDF("t", "s"))
    val b = PxTable(Seq(("y", 2L)).toDF("s", "t"))
    val got = a.append(b).orderedByTime("t").df.as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "x"), (2L, "y")))
  }

  test("resultCap clamps result rows (AddLimitToBatchResultSinkRule)") {
    val big = PxTable(spark.range(20000).toDF("x"))
    assert(big.resultCap().df.count() == PxTable.MaxOutputRowsPerTable)
  }

  test("pluck family extracts json fields") {
    val df = Seq("""{"k": 87, "s": "hi"}""").toDF("props")
    assert(df.select(pluck($"props", "s")).as[String].head() == "hi")
    assert(df.select(pluckInt64($"props", "k")).as[Long].head() == 87L)
  }

  test("lookupMap decodes like protocol_ops") {
    val df = Seq(0L, 14L, 99L).toDF("c")
    val got = df.select(grpcStatusCodeToStr($"c")).as[String].collect().toSeq
    assert(got == Seq("OK", "Unavailable", "Unknown"))
  }

  test("Par.run rethrows a failure only after every branch finished") {
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      graft.core.Par.run(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(300); siblingDone.set(true) })
    }
    assert(e.getMessage == "boom")
    assert(siblingDone.get, "Par.run threw while a sibling was still running")
  }
}
