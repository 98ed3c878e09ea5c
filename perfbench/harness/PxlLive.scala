package perfbench

import scala.collection.mutable.ArrayBuffer

/** pxl_live: one analyst in a closed loop over the six authored PxL gate
  * scripts, in seed-shuffled passes, caches kept between scripts as in a
  * user's session. Read-only; exercises the PxL interpreter, the synthetic
  * protocol tables over one events scan, the metadata as-of joins and the
  * t-digest quantiles. Bypasses the curation operators.
  */
object PxlLive {
  val Scripts: Seq[String] = Seq("q66_pxl_service_stats", "q67_pxl_service_let",
    "q68_pxl_namespaces", "q69_pxl_mysql_let", "q71_pxl_pods",
    "q72_pxl_redis_let")
  val Tables: Seq[String] = Seq("events")
  /** Scripts whose cost is the metadata as-of joins (`ctx[...]` only). */
  val AsOf: Set[String] = Set("q68_pxl_namespaces", "q71_pxl_pods")
  /** Scripts that aggregate with `px.quantiles` (t-digest). */
  val Quantile: Set[String] = Set("q67_pxl_service_let", "q69_pxl_mysql_let",
    "q72_pxl_redis_let")

  /** Check name -> the gate's oracle SQL for it. */
  def checks: Seq[(String, String)] =
    Scripts.map(s => s -> graft.SparkEntry.oracleSql(s))

  def run(ctx: Ctx, expected: Map[String, Expected]): Measured = {
    // SplittableRandom decorrelates neighbouring seeds
    val rnd = new scala.util.Random(new java.util.SplittableRandom(ctx.seed).nextLong())
    def pass(order: Seq[String], warm: Boolean): Seq[Op] = order.map { name =>
      ctx.operation(name, warm) { o =>
        val df = o.phase("build")(graft.SparkEntry.queries(name)(ctx.spark, ctx.dir))
        val rows = o.phase("exec")(df.collect().toSeq)
        o.check(Check.compare(expected(name), df.schema, rows))
      }
    }
    // The cold pass keeps the catalogue order: the first script also pays
    // the JVM's first-use costs, so a shuffled cold pass would make cold_s
    // depend on the seed. Warm passes are shuffled and whole, so every run
    // measures the same script mix.
    val cold = ctx.tracer.span("cold")(pass(Scripts, warm = false))._1
    // after the fixed-order cold pass, so the seed's order cannot move it
    val retained = ctx.retainedHeapMb()
    val warm = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    ctx.tracer.span("warm") {
      do warm ++= pass(rnd.shuffle(Scripts), warm = true)
      while (ctx.elapsedSince(t0) < ctx.seconds)
    }
    val ok = warm.filter(_.failure.isEmpty).toSeq
    def med(f: Op => Double, keep: Op => Boolean = _ => true) =
      Stats.median(ok.filter(keep).map(f))
    Measured(
      coldS = cold.map(_.latency).sum,
      retainedMb = retained,
      latencies = ok.map(_.latency),
      measuredOps = warm.toSeq,
      layer = Seq(
        "pxl.build_s" -> med(_.seconds("build")),
        "pxl.build_jobs" -> Stats.mean(ok.flatMap(_.phases
          .filter(_.name == "build").map(_.counters.getOrElse("jobs", 0L).toDouble))),
        "pxl.exec_s" -> med(_.seconds("exec"))) ++
        Scripts.map(s => s"pxl.script.${s.take(3)}_s" -> med(_.latency, _.name == s)) ++
        Seq(
          "meta.asof_s" -> med(_.latency, o => AsOf(o.name)),
          "functions.quantile_s" -> med(_.latency, o => Quantile(o.name))))
  }
}
