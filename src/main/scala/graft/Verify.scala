package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and one
  * status.jsonl line (name, `ok` or error class, wall seconds) per query. */
object Verify {
  def main(args: Array[String]): Unit = {
    // The gate runs the EXACT quantile mapping: the oracle invariant is
    // Spark `percentile` == DuckDB `quantile_cont`. Everything else
    // (Bench, library users) gets the scale-safe t-digest default
    // (Pxl.defaultSketchQuantiles).
    if (!sys.env.contains("SPARK_GRAFT_SKETCH_QUANTILES"))
      System.setProperty("graft.sketchQuantiles", "0")
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (dev iteration only; the driver passes two):
    // regex over query names — run just the matching subset.
    val gate = Harness.select(args.lift(2))
    // Every core by default (the r14 postmortem: the 605-query gate at
    // local[4] overran the driver's wall budget); SPARK_GRAFT_CPUS wins.
    val spark = Harness.session("WARN")
    new java.io.File(outDir).mkdirs()
    // Most gate queries are driver-bound (plan + tiny jobs), so running
    // them one at a time leaves the machine idle (guide §2.6: actions
    // are only sequential because the driver calls them sequentially).
    // A small pool of verify workers overlaps them. Every query is
    // deterministic by the repo's engine-exactness contract (results
    // are partitioning-invariant; no rand(); the only persist is
    // MultiOutput's script-scoped one, released in its own finally), so
    // concurrency cannot change any output. Shared lifecycle fixtures
    // are built once in graft.core.Fixtures; their callers wait for it.
    // SPARK_GRAFT_VERIFY_PAR=1 runs the queries one at a time.
    val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Written before anything runs, so a gate killed part-way still
    // reports: tools/check.py counts every declared name with no output
    // as a failure, checks what was written against the oracle SQL, and
    // reads each finished query's outcome from status.jsonl.
    Files.writeString(Paths.get(s"$outDir/declared.json"),
      gate.map { case (n, _) => q(n) }.mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    val status = Paths.get(s"$outDir/status.jsonl")
    Files.writeString(status, "")
    def run1(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val outcome =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          "ok"
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          if (sys.env.contains("SPARK_GRAFT_VERBOSE")) e.printStackTrace()
          e.getClass.getName
        }
      val secs = "%.3f".formatLocal(java.util.Locale.ROOT, (System.nanoTime() - t0) / 1e9)
      val line = s"""{"name":${q(name)},"status":${q(outcome)},"seconds":$secs}""" + "\n"
      status.synchronized {
        Files.writeString(status, line, StandardOpenOption.APPEND): Unit
      }
      // one worker keeps the belt-and-braces cache drop between
      // queries; with several, a global clearCache would evict ANOTHER
      // in-flight query's script-scoped persist (forcing recompute —
      // same results, wasted work), and MultiOutput already unpersists
      // its shared subplans in its own finally.
      if (par == 1) spark.catalog.clearCache()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try {
      gate.map { case (n, f) =>
        pool.submit(new Runnable { def run(): Unit = run1(n, f) })
      }.foreach(_.get())
    } finally {
      pool.shutdownNow()
      Harness.releaseFixtures(spark, "verify")
    }
    spark.stop()
  }
}
