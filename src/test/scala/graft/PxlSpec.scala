package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pxl.{PxlParser, PxlRunner}
import graft.queries.Pxl

/** PxL front-end: parser subset + evaluator semantics + the verbatim
  * reference script end-to-end.
  */
class PxlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("parser covers the ast_visitor subset used by bundled scripts") {
    val stmts = PxlParser.parse(
      """import px
        |# comment
        |t = px.DataFrame(table='http_events', start_time='-30s')
        |t.x = t.a >= 400
        |t['y z'] = t.b / 7
        |g = t.groupby(['a', 'b']).agg(
        |    n=('a', px.count),
        |)
        |u = g[g.n > 0][['a', 'n']]
        |px.display(u, 'out')
        |""".stripMargin)
    assert(stmts.length == 7)
  }

  test("verbatim http_request_stats/stats.pxl parses and executes") {
    val script = Pxl.readRef(Pxl.StatsPxlPath)
    assert(PxlParser.parse(script).nonEmpty)
    val now = graft.core.Tables(spark, dir, "events")
      .agg(max(col("ts"))).head().getLong(0) / 1000 * 1000 + 1000
    val out = PxlRunner.run(script, Pxl.env(spark, dir, now))("output")
    assert(out.columns.toSeq == Seq("service", "latency(p50)", "latency(p90)",
      "latency(p99)", "errors", "throughput", "throughput total"))
    assert(out.count() >= 1)
  }

  test("a missing reference script raises one typed error naming its path and SPARK_GRAFT_REF_DIR") {
    val rel = "no_such_ref_checkout/px/none.pxl"
    val e = intercept[Pxl.MissingReference](Pxl.readRef(rel))
    assert(e.getMessage.contains(new java.io.File(rel).getAbsolutePath), e.getMessage)
    assert(e.getMessage.contains("SPARK_GRAFT_REF_DIR=" +
      sys.env.getOrElse("SPARK_GRAFT_REF_DIR", "<unset>")), e.getMessage)
  }

  test("evaluator: filter, projection, head, ctx resolution, time window") {
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |df.service = df.ctx['service']
        |df.ok = px.select(df.resp_status < 400, 'ok', 'err')
        |small = df[df.resp_status == 101][['service', 'ok', 'resp_status']]
        |px.display(small.head(5), 'a')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val out = PxlRunner.run(script, Pxl.env(spark, dir, now))("a")
    val rows = out.collect()
    assert(rows.length <= 5 && rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("ok") == "ok"))
    assert(rows.forall(_.getAs[String]("service").startsWith("svc-")))
  }

  test("head/drop accept keyword arguments (df.head(n=...), df.drop(columns=...))") {
    // http_data_filtered/data.pxl's exact forms: a silent head(n=) default
    // of 5 truncated results before this was pinned.
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |df = df.drop(columns=['upid'])
        |df = df.head(n=1000000)
        |px.display(df, 'a')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val out = PxlRunner.run(script, Pxl.env(spark, dir, now))("a")
    assert(!out.columns.contains("upid"))
    assert(out.count() > 5)
  }

  test("ctx resolves through upid asid when select=[...] drops the raw key") {
    val script =
      """import px
        |df = px.DataFrame(table='http_events', select=['time_', 'upid', 'resp_status'], start_time='-60d')
        |df.svc = df.ctx['service']
        |px.display(df, 'a')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val out = PxlRunner.run(script, Pxl.env(spark, dir, now))("a")
    val rows = out.limit(10).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[String]("svc").startsWith("svc-")))
  }

  test("evaluator: quantiles JSON + pluck_float64 round-trip") {
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |q = df.groupby('user_id').agg(lat=('latency', px.quantiles))
        |q.p50 = px.pluck_float64(q.lat, 'p50')
        |px.display(q[['user_id', 'p50']], 'q')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val out = PxlRunner.run(script, Pxl.env(spark, dir, now))("q")
    assert(out.where(col("p50").isNull).count() == 0)
  }

  test("every bundled reference script parses (67/67 of pxl_scripts/px)") {
    val root = Pxl.refPath(Pxl.RefPx)
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".pxl")).toSeq
    assert(files.size == 67)
    val failures = files.flatMap { f =>
      val src = Pxl.readRef(f.toString)
      try { PxlParser.parse(src); None }
      catch { case e: Throwable => Some(s"$f: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("def/return/exec_funcs: verbatim service_stats.pxl functions run") {
    val script = Pxl.readRef(Pxl.ServiceStatsPxlPath)
    val stmts = PxlParser.parse(script)
    assert(stmts.count(_.isInstanceOf[PxlParser.DefS]) == 14)
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val out = PxlRunner.runFunction(script, Pxl.env(spark, dir, now),
      "svc_let", Seq("-45d", "svc-1"))
    assert(out.columns.toSeq == Seq("time_", "k8s", "latency_p50",
      "latency_p90", "latency_p99", "error_rate", "request_throughput",
      "bytes_throughput"))
    assert(out.where(col("k8s") =!= "svc-1").count() == 0 && out.count() > 0)
  }

  test("nested metadata scalar calls expand to dimension joins") {
    // ip_to_pod_id then pod_id_to_service_name, as ip_to_svc_name does
    val script =
      """import px
        |def f(start_time: str):
        |    df = px.DataFrame(table='http_events', start_time=start_time)
        |    df = df[df.remote_addr != '-']
        |    df.svc = px.pod_id_to_service_name(px.ip_to_pod_id(df.remote_addr))
        |    return df[['user_id', 'svc']]
        |px.display(f('-60d'), 'x')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val out = PxlRunner.run(script, Pxl.env(spark, dir, now))("x")
    val bad = out.where(col("svc").isNull ||
      col("svc") =!= concat(lit("svc-"), pmod(col("user_id"), lit(10))))
    assert(bad.count() == 0)
  }

  test("px module long tail: string/regex/duration/upid/semantic-cast builtins") {
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |df.dur = px.DurationNanos(px.parse_duration('90m'))
        |df.pod_typed = px.Pod(px.Service(df.req_path))
        |df.low = px.tolower(px.substring(df.req_path, 1, 3))
        |df.pos = px.find(df.req_path, 'api')
        |df.clean = px.replace('[0-9]+', df.req_path, 'N')
        |df.m = px.regex_match('^/api.*', df.req_path)
        |df.grpc = px.grpc_status_code_to_str(df.resp_status % 17)
        |df.upid = px.uint128('00000007000000090000000000000011')
        |df.asid = px.upid_to_asid(df.upid)
        |out = df[['req_path', 'dur', 'low', 'pos', 'clean', 'm', 'grpc', 'asid']]
        |px.display(out.head(200), 'x')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val rows = PxlRunner.run(script, Pxl.env(spark, dir, now))("x").collect()
    assert(rows.nonEmpty)
    val api = rows.find(_.getAs[String]("req_path").startsWith("/api")).get
    assert(api.getAs[Long]("dur") == 90L * 60 * 1000000000L)
    assert(api.getAs[String]("low") == "api")   // substring(1,3) of /api...
    assert(api.getAs[Int]("pos") == 1)          // 0-based find
    assert(api.getAs[String]("clean") == "/api/vN/users/N")
    assert(api.getAs[Boolean]("m"))
    assert(api.getAs[Long]("asid") == 7L)
  }

  test("px.quantiles DEFAULT plans the t-digest; exact is opt-in for the gate") {
    // A naive deployer must get the scale-safe sketch, not buffer-all
    // `percentile` — the gate (Verify) asks for exact explicitly.
    assert(graft.queries.Pxl.defaultSketchQuantiles,
      "env/prop leaked into the test JVM?")
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |q = df.groupby('user_id').agg(lat=('latency', px.quantiles))
        |px.display(q, 'q')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val dflt = PxlRunner.run(script, Pxl.env(spark, dir, now))("q")
    val plan = dflt.queryExecution.executedPlan.toString
    assert(!plan.contains("percentile("))
    assert(plan.toLowerCase.contains("quantilesagg"))
  }

  test("px.quantiles sketch mode plans the t-digest, not buffer-all percentile") {
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |q = df.groupby('user_id').agg(lat=('latency', px.quantiles))
        |q.p50 = px.pluck_float64(q.lat, 'p50')
        |px.display(q[['user_id', 'p50']], 'q')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val exact = PxlRunner.run(script,
      Pxl.env(spark, dir, now, sketchQuantiles = false))("q")
    val sketch = PxlRunner.run(script,
      Pxl.env(spark, dir, now, sketchQuantiles = true))("q")
    // The scale-mode plan must not carry the exact `percentile` aggregate
    // (its buffer holds every group value); the t-digest aggregator's
    // buffer is O(compression) no matter how hot the group.
    val plan = sketch.queryExecution.executedPlan.toString
    assert(!plan.contains("percentile("))
    assert(plan.toLowerCase.contains("quantilesagg"))
    val e = exact.select("user_id", "p50").as[(Long, Double)].collect().toMap
    val sk = sketch.select("user_id", "p50").as[(Long, Double)].collect().toMap
    assert(e.keySet == sk.keySet)
    // t-digest is exact at these group sizes' mid-quantiles to within a
    // small relative tolerance
    e.foreach { case (k, v) =>
      assert(math.abs(sk(k) - v) <= math.max(1.0, 0.05 * math.abs(v)),
        s"user $k: sketch ${sk(k)} vs exact $v") }
  }

  test("scalar float arithmetic evaluates as doubles, not truncated longs") {
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |half = 0.5 * 2.0
        |df.x = half
        |df.frac = 3.0 / 2
        |df.fdiv = 7.0 // 2.0
        |df.cmp = px.select(2.5 >= 2, 'yes', 'no')
        |px.display(df[['x', 'frac', 'fdiv', 'cmp']].head(1), 'f')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val r = PxlRunner.run(script, Pxl.env(spark, dir, now))("f").head()
    assert(r.getAs[Double]("x") == 1.0)
    assert(r.getAs[Double]("frac") == 1.5)
    assert(r.getAs[Double]("fdiv") == 3.0)
    assert(r.getAs[String]("cmp") == "yes")
  }

  test("start_time accepts absolute-ns numerics like px.now() - px.minutes(N)") {
    def cnt(startExpr: String): Long = {
      val script =
        s"""import px
           |df = px.DataFrame(table='http_events', start_time=$startExpr)
           |px.display(df, 'w')
           |""".stripMargin
      val now = graft.functions.PixieFunctions.tsNsLit("2024-01-02")
      PxlRunner.run(script, Pxl.env(spark, dir, now))("w").count()
    }
    val viaInt = cnt("px.now() - px.minutes(30)")
    assert(viaInt == cnt("'-30m'")) // numeric and string forms agree
  }

  test("parser rejects a missing comma between call arguments") {
    intercept[PxlParser.ParseError](PxlParser.parse("f(a b)"))
  }

  test("non-oracle script functions execute: let summaries, cluster services, http_graph") {
    // These verbatim functions emit a raw quantiles-JSON column or use
    // px.any over it (non-deterministic pick — the script's own TODO), so
    // they cannot be hash-gated; prove they run and carry the documented
    // shape instead.
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    def run(path: String, fn: String, args: Seq[String]) = {
      val src = Pxl.readRef(path)
      PxlRunner.runFunction(src, Pxl.env(spark, dir, now), fn, args)
    }
    val s1 = run(graft.queries.Pxl2.PodsPxlPath, "inbound_let_summary",
      Seq("-45d", "ns1"))
    assert(s1.count() > 0 && s1.columns.contains("requesting_svc"))
    val s2 = run(graft.queries.Pxl2.ClusterPxlPath, "services_for_cluster",
      Seq("-45d"))
    assert(s2.count() > 0 && s2.columns.contains("inbound_conns"))
    val s3 = run(graft.queries.Pxl2.ClusterPxlPath, "service_let_graph",
      Seq("-45d"))
    assert(s3.count() > 0 && s3.columns.toSeq.contains("responder_pod"))
  }

  test("builtin long tail: string/math/regex/protocol scalars resolve and compute") {
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |df.n = px.atoi('42')
        |df.s = px.itoa(df.resp_status)
        |df.hx = px.bytes_to_hex(px.substring(df.req_path, 0, 1))
        |df.asc = px.hex_to_ascii('2f')
        |df.t = px.trim('  x ')
        |df.sp = px.strip_prefix('/api', df.req_path)
        |df.parts = px.split(df.req_path, '/')
        |df.neg = px.negate(df.resp_status)
        |df.md = px.modulo(df.resp_status, 7)
        |df.ti = px.time_to_int64(df.time_)
        |df.rule = px._match_regex_rule('{"api": "/api/.*", "health": "/healthz"}', df.req_path)
        |df.mux = px.mux_frame_type_name(2)
        |df.amqf = px.amqp_frame_type_name(1)
        |df.amqc = px.amqp_class_name(10)
        |df.amqm = px.amqp_method_name(10, 10)
        |out = df[['req_path', 'n', 's', 'hx', 'asc', 't', 'sp', 'parts',
        |          'neg', 'md', 'ti', 'rule', 'mux', 'amqf', 'amqc', 'amqm']]
        |px.display(out.head(50), 'x')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val rows = PxlRunner.run(script, Pxl.env(spark, dir, now))("x").collect()
    val api = rows.find(_.getAs[String]("req_path").startsWith("/api")).get
    assert(api.getAs[Long]("n") == 42L)
    assert(api.getAs[String]("asc") == "/")
    assert(api.getAs[String]("t") == "x")
    assert(api.getAs[String]("sp").startsWith("/v"))
    assert(api.getAs[String]("parts").startsWith("[\"\",\"api\""))
    assert(api.getAs[Long]("neg") < 0)
    assert(api.getAs[String]("rule") == "api")
    val health = rows.find(_.getAs[String]("req_path") == "/healthz")
    health.foreach(h => assert(h.getAs[String]("rule") == "health"))
    assert(api.getAs[String]("amqc") == "Connection")
  }

  test("sample/pprof/_kmeans bind as PxL aggregates") {
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |g = df.groupby('user_id').agg(
        |    ids=('resp_status', px.sample),
        |    prof=('req_path', px.pprof),
        |)
        |px.display(g.head(20), 'a')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val rows = PxlRunner.run(script, Pxl.env(spark, dir, now))("a").collect()
    assert(rows.nonEmpty)
    assert(rows.head.getAs[scala.collection.Seq[Long]]("ids").nonEmpty)
    assert(rows.head.getAs[String]("prof").nonEmpty)
  }

  test("UDTF sources bind: verbatim collect_agent_heaps runs end-to-end") {
    val src = Pxl.readRef(graft.queries.Pxl15.HeapsPath)
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val out = PxlRunner.runFunction(src, Pxl.env(spark, dir, now),
      "collect_pprofs", Seq("1"))
    val rows = out.collect()
    assert(out.columns.toSeq == Seq("asid", "hostname", "heap"))
    assert(rows.length == 2 && rows.forall(_.getAs[Long]("asid") == 1L))
    // ip 10.11.1.1 resolves to a pod whose node the ctx chain finds
    assert(rows.forall(r => r.getAs[String]("hostname").startsWith("node-") ||
      r.getAs[String]("hostname") == "host-local"))
  }

  test("pod.pxl processes(): upid-keyed process list (binary upid — spec-gated)") {
    val src = Pxl.readRef(graft.queries.Pxl2.PodPxlPath)
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val out = PxlRunner.runFunction(src, Pxl.env(spark, dir, now),
      "processes", Seq("-45d", "pod-7-gen1"))
    assert(out.columns.toSeq == Seq("pid", "cmd", "upid"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("cmd") == "/bin/app --id=7"))
    // pid decodes from the upid bytes (ctx['pid'] = upid_to_pid)
    assert(rows.forall { r =>
      val hex = r.getAs[Array[Byte]]("upid").map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(8, 16), 16) == r.getAs[Long]("pid")
    })
  }

  test("`not` binds below comparisons (not x == y negates the comparison)") {
    // dns_flow_graph.pxl relies on `df[not df.pod == ""]`; the wrong
    // precedence casts the string column to boolean and crashes.
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |df = df[not df.remote_addr == '-']
        |df = df[not px.contains(df.req_path, 'healthz')]
        |px.display(df[['remote_addr', 'req_path']], 'x')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val rows = PxlRunner.run(script, Pxl.env(spark, dir, now))("x").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[String]("remote_addr") != "-" &&
      !r.getAs[String]("req_path").contains("healthz")))
  }

  test("string + concatenates (literal-column and chained column forms)") {
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |df.a = "topic" + "/" + df.req_method
        |df.b = df.req_method + "/routing_key/" + df.req_path
        |px.display(df[['req_method', 'req_path', 'a', 'b']].head(5), 'x')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val rows = PxlRunner.run(script, Pxl.env(spark, dir, now))("x").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      r.getAs[String]("a") == "topic/" + r.getAs[String]("req_method") &&
        r.getAs[String]("b") == r.getAs[String]("req_method") +
          "/routing_key/" + r.getAs[String]("req_path")
    })
  }

  test("global df.agg() + keyless merge broadcast the scalar time window") {
    // net_flow_graph / kafka get_time_window: a 1-row global aggregate
    // cross-joined onto every row.
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |tw = df.agg(tmin=('time_', px.min), tmax=('time_', px.max))
        |tw.window = tw.tmax - tw.tmin
        |tw = tw[['window']]
        |per = df.groupby('user_id').agg(n=('latency', px.count))
        |per = per.merge(tw, how='inner', left_on=[], right_on=[])
        |per.rate = per.n / per.window
        |px.display(per, 'x')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val out = PxlRunner.run(script, Pxl.env(spark, dir, now))("x")
    val rows = out.collect()
    assert(rows.nonEmpty)
    val w = rows.head.getAs[Long]("window")
    assert(w > 0 && rows.forall(_.getAs[Long]("window") == w))
    assert(rows.forall(r =>
      r.getAs[Double]("rate") == r.getAs[Long]("n").toDouble / w))
  }

  test("exec arg coercion by declared annotation (int/float params)") {
    val script =
      """import px
        |def f(start_time: str, thresh: float, n: int):
        |    df = px.DataFrame(table='http_events', start_time=start_time)
        |    df = df[df.latency > thresh / 1000000000]
        |    return df.head(n)
        |px.display(f('-60d', '500', '7'), 'x')
        |""".stripMargin
    // "500"/1e9 only works if the float annotation coerces the string
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val out = PxlRunner.run(script, Pxl.env(spark, dir, now))("x")
    assert(out.count() == 7)
  }

  test("verbatim flow-graph scripts run end-to-end (shape checks)") {
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val net = PxlRunner.runFunction(
      Pxl.readRef(graft.queries.Pxl4.NetFlowPath),
      Pxl.env(spark, dir, now), "net_flow_graph", Seq("-45d", "ns1", "", "", "0"))
    assert(net.columns.toSeq == Seq("from_entity", "to_entity",
      "bytes_sent", "bytes_recv", "bytes_total"))
    assert(net.count() > 0)
    val mysql = PxlRunner.runFunction(
      Pxl.readRef(graft.queries.Pxl4.MysqlFlowPath),
      Pxl.env(spark, dir, now), "mysql_flow_graph", Seq("-45d", "ns1", "", ""))
    assert(mysql.columns.toSet == Set("source", "destination",
      "is_source_pod_type", "is_dest_pod_type", "namespace", "latency_p50",
      "latency_p90", "latency_p99", "request_throughput", "throughput_total"))
    assert(mysql.count() > 0)
  }

  test("forked script variables materialize once (MergeNodesRule analog)") {
    // `a` is read by two later statements -> eagerly localCheckpointed
    // (computed once, lineage truncated); the linear df chain rebinding
    // every statement must NOT be (no raw scan materialized wholesale).
    // The runner must leave NO CacheManager entries behind: its blocks
    // are RDD-level and ContextCleaner-owned, so a long-lived session
    // running many scripts accumulates no pinned storage.
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |a = df.groupby('user_id').agg(n=('latency', px.count))
        |b = a.groupby('n').agg(m=('user_id', px.count))
        |c = a.merge(b, how='inner', left_on=['n'], right_on=['n'],
        |            suffixes=['', '_x'])
        |px.display(c, 'x')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val out = PxlRunner.run(script, Pxl.env(spark, dir, now))("x")
    // Both fork branches plan against the checkpointed leaf, not the
    // scan->aggregate subtree.
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
      s"forked aggregate should execute from the checkpointed leaf:\n$plan")
    assert(!plan.contains("parquet"),
      s"fork branches must not re-plan the parquet scan:\n$plan")
    assert(out.count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "runner must leave no CacheManager entries after run()")
  }

  test("forked function PARAMS materialize once (json_unnest_first5 shape)") {
    // A table param read by 2+ body statements before rebinding is the
    // same fork as a module-level variable — kafka_overview's
    // json_unnest_first5 reads its param 5x, nested twice = 25 copies of
    // the caller's whole subplan without truncation (~20 s of Catalyst
    // analysis at any data size). The param must plan as a leaf; a param
    // that is immediately rebound (linear chain) must NOT checkpoint, so
    // a raw scan is never materialized wholesale.
    val script =
      """import px
        |def fanout(df):
        |    a = df[df.n > 1]
        |    b = df[df.n <= 1]
        |    return a.append(b)
        |def linear(df):
        |    df = df[df.latency > 0]
        |    return df
        |base = px.DataFrame(table='http_events', start_time='-60d')
        |agg = base.groupby('user_id').agg(n=('resp_status', px.count),
        |                                  latency=('latency', px.max))
        |out = fanout(agg)
        |px.display(out, 'x')
        |base2 = px.DataFrame(table='http_events', start_time='-60d')
        |lin = linear(base2)
        |px.display(lin, 'y')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val res = PxlRunner.run(script, Pxl.env(spark, dir, now))
    val forked = res("x").queryExecution.optimizedPlan.toString
    assert(forked.contains("LogicalRDD") || forked.contains("ExistingRDD"),
      s"fanout branches should plan against the checkpointed param leaf:\n$forked")
    assert(!forked.contains("parquet"),
      s"fanout branches must not re-plan the scan->aggregate subtree:\n$forked")
    assert(res("x").count() > 0 && res("y").count() > 0)
    // The linear-chain scan-pushdown contract is a PRODUCTION-shape pin:
    // where the events scan is narrow (Tables.narrow), the per-query
    // events base (Pxl.env) is a checkpoint leaf by design. Splitting the
    // file into `cores` scan partitions makes it not narrow at any
    // fixture size, so the plan takes its production shape.
    val k = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(k)
    val evBytes = new java.io.File(s"$dir/events.parquet").length
    spark.conf.set(k, math.max(1L, evBytes / spark.sparkContext.defaultParallelism))
    try {
      assert(!graft.core.Tables.narrow(spark, s"$dir/events.parquet"))
      val res2 = PxlRunner.run(script, Pxl.env(spark, dir, now))
      val lin = res2("y").queryExecution.optimizedPlan.toString
      assert(lin.contains("parquet") &&
          !lin.contains("LogicalRDD") && !lin.contains("ExistingRDD"),
        s"linear param chain must stay a pushed-down scan:\n$lin")
    } finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("string typing: schema-typed + concats, string+numeric rejects") {
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    // Two string-TYPED table columns added directly (no literal anywhere
    // in the chain) must CONCAT — Carnot resolves the overload from the
    // column types, not from literal presence.
    val concatScript =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |df.both = df.req_method + df.req_path
        |px.display(df[['both']].head(3), 'x')
        |""".stripMargin
    val out = PxlRunner.run(concatScript, Pxl.env(spark, dir, now))("x").collect()
    assert(out.nonEmpty && out.forall { r =>
      val s = r.getAs[String]("both")
      s != null && s.matches("(GET|POST|PUT|DELETE)/.*")
    })
    // string column + numeric column: no add overload in the reference
    // registry -> must fail at script build, not silently null.
    val mixedScript =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |df.bad = df.req_method + df.resp_status
        |px.display(df, 'x')
        |""".stripMargin
    val e = intercept[PxlRunner.PxlError] {
      PxlRunner.run(mixedScript, Pxl.env(spark, dir, now))
    }
    assert(e.getMessage.contains("string"))
    // string column + int literal likewise.
    val mixedLit =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |df.bad = df.req_method + 1
        |px.display(df, 'x')
        |""".stripMargin
    intercept[PxlRunner.PxlError] {
      PxlRunner.run(mixedLit, Pxl.env(spark, dir, now))
    }
  }

  test("exec-arg coercion rejects malformed numerics at the call site") {
    val script =
      """import px
        |def f(start_time: str, n: int):
        |    df = px.DataFrame(table='http_events', start_time=start_time)
        |    return df.head(n)
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val e = intercept[PxlRunner.PxlError] {
      PxlRunner.runFunction(script, Pxl.env(spark, dir, now), "f",
        Seq("-60d", "abc"))
    }
    assert(e.getMessage.contains("not a valid int"))
    // the valid form still coerces
    assert(PxlRunner.runFunction(script, Pxl.env(spark, dir, now), "f",
      Seq("-60d", "3")).count() == 3)
  }

  test("keyless merge accepts how='outer' (zero-key equijoin = cross)") {
    // service_endpoints.pxl merges a 1-row global agg with how='outer',
    // left_on=[] — Carnot's zero-key equijoin matches all row pairs, so
    // with both sides non-empty the result is the same cross product as
    // how='inner' (and keeps the non-empty side when one side is empty).
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |tw = df.agg(lo=('time_', px.min), hi=('time_', px.max))
        |out = df.merge(tw, how='outer', left_on=[], right_on=[])
        |px.display(out, 'x')
        |""".stripMargin
    val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
    val out = PxlRunner.run(script, Pxl.env(spark, dir, now))("x")
    val n = PxlRunner.run(
      """import px
        |df = px.DataFrame(table='http_events', start_time='-60d')
        |px.display(df, 'x')
        |""".stripMargin, Pxl.env(spark, dir, now))("x").count()
    assert(out.count() == n)
    assert(out.columns.contains("lo") && out.columns.contains("hi"))
  }

  test("relative time strings gate the scan window") {
    val script =
      """import px
        |df = px.DataFrame(table='http_events', start_time='-30s')
        |px.display(df, 'w')
        |""".stripMargin
    // now = just after the first event: the -30s window sees only the tail
    val tiny = PxlRunner.run(script,
      Pxl.env(spark, dir, graft.functions.PixieFunctions.tsNsLit("2024-01-01")))("w")
    assert(tiny.count() == 0)
  }
}
