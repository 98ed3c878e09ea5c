package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run benchmark: every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * timed end-to-end through a `noop` datasource write — unlike count(),
  * the noop sink materializes every projected column and executes sorts,
  * so map-heavy queries and orderBy are fully measured. Emits ONE JSON
  * line: to bench_result.json and as the final stdout line (after
  * spark.stop(), so no log noise follows it).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("ERROR")
    // Warm the session (executor threads, codegen, parquet footers) so the
    // first measured query isn't charged Spark's one-time init.
    graft.core.Tables.all.foreach(t =>
      graft.core.Tables(spark, sfDir, t).count())
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    def time1(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        if (!failed.contains(name)) failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop per-script persisted subplans so caches never carry between
      // measured queries (each measurement pays its own materialization)
      spark.catalog.clearCache()
      dt
    }
    // Optional dev-only subset (the driver sets no filter): regex over
    // query names, e.g. SPARK_GRAFT_BENCH_FILTER='q13[12]_'.
    val sorted = Harness.select(sys.env.get("SPARK_GRAFT_BENCH_FILTER"))
    val remeasured = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    // Lifecycle fixtures stay built across the re-measurements and are
    // released (with their build times) once every query has run.
    val results = try {
      val first = sorted.map { case (name, fn) => name -> time1(name, fn) }
      // Contention guard: a loaded host can inflate individual queries 3-7x
      // (observed on shared hosts). Re-measure the outliers — first
      // run > max(2s, 3x the median) — TWICE more and keep the MEDIAN of
      // the three samples: min-of-2 biased the outliers low, median-of-3
      // is robust to one slow AND one lucky sample. Fast queries stay
      // single-shot so the re-run budget is bounded by the outlier count;
      // every re-measurement is DISCLOSED in `remeasured` (name ->
      // [first, second, third]) so downstream comparisons can detect the
      // substitution.
      val med = {
        val ts = first.map(_._2).sorted
        if (ts.isEmpty) 0.0 else ts(ts.length / 2)
      }
      // Dev-only (unset in a standard run): SPARK_GRAFT_BENCH_TRIPLE=1
      // forces the median-of-3 path for EVERY measured query — the
      // cold/warm disclosure knob (first sample = cold-JVM, later samples
      // = warm) the bench-notes head audits use.
      val forceTriple = sys.env.contains("SPARK_GRAFT_BENCH_TRIPLE")
      val threshold = math.max(2.0, 3 * med)
      first.map { case (name, t) =>
        if ((forceTriple || t > threshold) && !failed.contains(name)) {
          val t2 = time1(name, SparkEntry.queries(name))
          val t3 = time1(name, SparkEntry.queries(name))
          remeasured(name) = Seq(t, t2, t3)
          name -> Seq(t, t2, t3).sorted.apply(1)
        } else name -> t
      }
    } finally Harness.releaseFixtures(spark, "bench")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Failed queries keep their elapsed time in `queries` but are listed
    // here so bench-series comparisons can exclude them.
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val remeasuredJson = remeasured
      .map { case (k, ts) => s"\"" + k + "\":[" + ts.mkString(",") + "]" }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"remeasured":$remeasuredJson,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench_result.json"), json + "\n")
    spark.stop()
    // The JSON must be the last stdout line AND fully drained: r3's run
    // lost the tail of this line to a closing pipe, so flush explicitly
    // and give the consumer a beat to drain before the JVM exits.
    // (bench_result.json above always carries the complete record; run
    // via tools/bench.sh for a guaranteed-clean single-line stdout.)
    println(json)
    System.out.flush()
    Thread.sleep(500)
  }
}
