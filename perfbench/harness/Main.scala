package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** What a workload measured: the cold cost, the heap retained after it,
  * the per-operation latencies of its measured operations, and its own
  * per-layer numbers.
  */
final case class Measured(coldS: Double, retainedMb: Double,
                          latencies: Seq[Double], measuredOps: Seq[Op],
                          layer: Seq[(String, Double)])

/** The benchmark's JVM side. Drives the engine only through its public
  * functions and times those calls from outside.
  *
  *   Main oracle-sql <out.json>
  *     writes, per check name, the gate's oracle SQL it compares against;
  *   Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <expected.json> <outDir>
  *     runs one workload and writes <outDir>/result.json (and, traced,
  *     <outDir>/spans.jsonl).
  */
object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors
  /** Set-ups per run; setup_s is their median. */
  val SetupRepeats = 3

  private val workloads = Map(
    "pxl_live" -> (PxlLive.Tables, PxlLive.run _),
    "curation_days" -> (CurationDays.Tables, CurationDays.run _))

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("oracle-sql", out) =>
      Files.writeString(Paths.get(out), Json.obj(
        (PxlLive.checks ++ CurationDays.checks).map { case (n, q) => n -> Json.str(q) }))
    case Seq(workload, seed, seconds, trace, dir, expected, out)
        if workloads.contains(workload) =>
      run(workload, seed.toLong, seconds.toDouble, trace == "1", dir,
        expected, out)
    case _ =>
      System.err.println("usage: Main oracle-sql <out.json> | Main " +
        s"<${workloads.keys.mkString("|")}> <seed> <seconds> <trace 0|1> " +
        "<dataDir> <expected.json> <outDir>")
      sys.exit(2)
  }

  /** Session set-up as a user pays it: build the session and warm the
    * workload's tables (executor threads, codegen, parquet footers).
    */
  private def setUp(tables: Seq[String], dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tables.foreach(t => graft.core.Tables(spark, dir, t).count())
    spark
  }

  private def run(workload: String, seed: Long, seconds: Double,
                  trace: Boolean, dir: String, expectedPath: String,
                  out: String): Unit = {
    val (tables, body) = workloads(workload)
    val expected = Check.load(expectedPath)
    val tracer = new Tracer(trace)
    val setups = (1 to SetupRepeats).map { i =>
      val (s, sec) = tracer.span("setup")(setUp(tables, dir))
      if (i < SetupRepeats) s.stop()
      (s, sec)
    }
    val spark = setups.last._1
    val counters = if (trace) Some(new ExecCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val outDir = new java.io.File(out)
    val workDir = new java.io.File(outDir, "work")
    workDir.mkdirs()
    val ctx = new Ctx(spark, dir, seed, seconds, tracer, counters, workDir,
      new java.io.File(System.getProperty("java.io.tmpdir")))
    val tempBefore = ctx.tempEntries()
    val m = tracer.span("workload:" + workload)(body(ctx, expected))._1
    val ops = ctx.ops.toSeq
    val failed = ops.count(_.failure.isDefined)
    val mb = 1048576.0

    val metrics = Seq(
      "setup_s" -> Stats.median(setups.map(_._2)),
      "cold_s" -> m.coldS,
      "latency_mean_s" -> Stats.mean(m.latencies),
      "retained_heap_mb" -> m.retainedMb)

    // Per-layer execution numbers over the measured operations, check
    // phases excluded, per operation.
    val phases = m.measuredOps.flatMap(_.phases).filter(_.name != "check")
    val n = math.max(1, m.measuredOps.length).toDouble
    def total(k: String) = phases.map(_.counters.getOrElse(k, 0L)).sum.toDouble
    val wallMs = phases.map(p => p.endMs - p.startMs).sum.toDouble
    val busyMs = counters.map(c =>
      phases.map(p => c.busyMs(p.startMs, p.endMs)).sum).getOrElse(0L)
    val layer = if (!trace) Seq.empty else m.layer ++ Seq(
      "exec.jobs" -> total("jobs") / n,
      "exec.stages" -> total("stages") / n,
      "exec.tasks" -> total("tasks") / n,
      "exec.task_s" -> total("task_ms") / 1e3 / n,
      "exec.cpu_s" -> total("cpu_ns") / 1e9 / n,
      "exec.gc_s" -> total("gc_ms") / 1e3 / n,
      "exec.input_mb" -> total("input_b") / mb / n,
      "exec.shuffle_write_mb" -> total("shuffle_write_b") / mb / n,
      "exec.shuffle_read_mb" -> total("shuffle_read_b") / mb / n,
      "exec.spill_mb" -> total("spill_b") / mb / n,
      "exec.output_mb" -> total("output_b") / mb / n,
      "exec.busy_share" -> (if (wallMs > 0) total("task_ms") / (wallMs * Cores) else 0.0),
      "exec.driver_only_s" -> (wallMs - busyMs) / 1e3 / n,
      "core.pinned_mb" -> ops.lastOption.map(_.pinnedMb).getOrElse(0.0),
      "core.temp_dirs" -> (ops.lastOption.map(_.tempEntries).getOrElse(tempBefore) -
        tempBefore).toDouble)

    val opsJson = ops.map(o => Json.obj(Seq(
      "id" -> o.id.toString, "name" -> Json.str(o.name),
      "warm" -> o.warm.toString,
      "latency_s" -> Json.num(o.latency),
      "phases_s" -> Json.obj(o.phases.map(p => p.name -> Json.num(p.seconds))),
      "jobs" -> Json.num(o.phases.map(_.counters.getOrElse("jobs", 0L)).sum.toDouble),
      "pinned_mb" -> Json.num(o.pinnedMb),
      "temp_entries" -> o.tempEntries.toString,
      "failure" -> o.failure.map(Json.str).getOrElse("null"))))
    val lat = m.latencies
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> Cores.toString,
      "data_dir" -> Json.str(dir),
      "attempted" -> ops.length.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "detail" -> Json.obj(Seq(
        "setup_samples_s" -> Json.arr(setups.map(s => Json.num(s._2))),
        "latency_samples" -> lat.length.toString,
        "latency_p50_s" -> Json.num(Stats.median(lat)),
        "latency_p90_s" -> Json.num(Stats.pct(lat, 0.9)),
        "latency_max_s" -> Json.num(if (lat.isEmpty) 0.0 else lat.max),
        "self_s" -> Json.obj(tracer.selfSeconds.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }))),
      "ops" -> Json.arr(opsJson)))
    outDir.mkdirs()
    Files.writeString(Paths.get(out, "result.json"), result + "\n")
    if (trace) tracer.writeJsonLines(Paths.get(out, "spans.jsonl"))
    spark.stop()
  }
}
