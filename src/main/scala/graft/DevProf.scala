package graft

import java.nio.file.{Files, Paths}

/** Dev-only profiling harness: args = [queryName, sfDir, reps].
  * Splits a gate query's cost into build (plan construction through the
  * runner) and exec (noop write), mirroring Bench's measurement, with
  * job/stage/task counters per block ([[Harness.Counters]]). Spark
  * settings for an A/B run come in as `-Dspark.*=...` system properties,
  * which `SparkConf` loads by itself (as `build.sbt`'s `javaOptions` set
  * the UTC time zone).
  */
object DevProf {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Harness.session("ERROR")
    graft.core.Tables.all.foreach(t => graft.core.Tables(spark, dir, t).count())
    val c = new Harness.Counters(spark, "prof")
    if (name == "bpetrain") {
      // dump a merge table (Scala literal) trained on dir's documents —
      // used to (re)generate MlScalars.sentencePieceMerges
      val docs = graft.core.Tables(spark, dir, "documents")
      val merges = graft.ops.TextOps.bpeTrain(docs, "text", reps,
        wordPrefix = "▁")
      Files.writeString(Paths.get("/tmp/bpe_model.txt"),
        merges.map { case (a, b) => s""""$a" -> "$b"""" }
          .grouped(4).map(_.mkString(", ")).mkString("    ", ",\n    ", "\n"))
    } else {
      // `name` is a regex over query names (a bare name matches itself);
      // each match gets `reps` build/exec rounds in this one warm JVM.
      // SPARK_GRAFT_PROF_RE overrides (sbt's command parser eats | and
      // parens, so alternations must come in through the environment).
      val matches = Harness.select(Some(sys.env.getOrElse("SPARK_GRAFT_PROF_RE", name)))
      for ((qn, fn) <- matches; i <- 1 to reps) {
        val df = c.time(s"$qn build#$i") { fn(spark, dir) }
        c.time(s"$qn exec#$i") { df.write.format("noop").mode("overwrite").save() }
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
