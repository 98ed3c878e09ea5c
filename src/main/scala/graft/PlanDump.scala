package graft

import java.nio.file.{Files, Paths}

/** Dev-only plan dump: args = [outDir, sfDir, nameRegex?].
  * Writes `explain("formatted")` of each matching SparkEntry query to
  * outDir/<name>.txt — the evidence files the optimization rounds commit
  * under plans/<round>/. Building a query's DataFrame can itself execute
  * lifecycle side effects (fixture writes, streams), so prefer a narrow
  * regex over a full dump.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Harness.session("ERROR")
    new java.io.File(outDir).mkdirs()
    Harness.select(args.lift(2))
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
          System.err.println(s"[plandump] $name ok")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
        finally spark.catalog.clearCache()
      }
    spark.stop()
  }
}
