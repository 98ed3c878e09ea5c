package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.meta.K8sMetadata
import graft.pxl.PxlRunner
import graft.pxl.PxlRunner.PxlEnv
import Q._

/** PxL front-end gate: real PxL script text parsed and executed against
  * the engine (SURVEY §2.3 — the reference's parser/ast_visitor path).
  * q65 runs the verbatim reference script
  * src/pxl_scripts/px/http_request_stats/stats.pxl; q66 runs an authored
  * script of the same canonical shape over the whole table so the
  * front-end is value-checked at full row count.
  */
object Pxl {

  private val SplitTs = "2024-01-15"
  private def splitNs = graft.functions.PixieFunctions.tsNsLit(SplitTs)

  /** The reference's http_events shape synthesized from the events
    * fixture: time_ (ns), upid stand-in (user_id), resp_status, latency.
    */
  def httpEvents(s: SparkSession, dir: String,
                 src: Option[DataFrame] = None): DataFrame = {
    val g = when(col("ts") < splitNs, lit(0)).otherwise(lit(1))
    val selfIp = concat(lit("10."), g + 10, lit("."),
      pmod(col("user_id"), lit(250)), lit("."),
      lit(1) + call_function("div", col("user_id"), lit(250L)))
    val status = lit(100) + pmod(col("event_id"), lit(460))
    src.getOrElse(t(s, dir, "events")).select(
      // the engine stores ns; this table models stirling's µs-resolution
      // capture (also what keeps raw time_ outputs oracle-comparable)
      (graft.functions.PixieFunctions.idiv(col("ts"), 1000L) * 1000L).as("time_"),
      col("user_id"),
      graft.types.Upid.makeUpid(col("user_id"), col("event_id"),
        graft.functions.PixieFunctions.nsToUs(col("ts"))).as("upid"),
      status.as("resp_status"),
      col("value").as("latency"),
      when(pmod(col("event_id"), lit(25)) === 0, lit("/healthz"))
        .when(pmod(col("event_id"), lit(25)) === 1, lit("/readyz"))
        .otherwise(concat(lit("/api/v1/users/"), col("user_id"))).as("req_path"),
      // requester address: '-' for unresolved (every 5th event), else
      // the pod IP of the event's own pod incarnation
      when(pmod(col("event_id"), lit(5)) === 0, lit("-"))
        .otherwise(selfIp).as("remote_addr"),
      (lit(1024) + pmod(col("event_id"), lit(32768))).as("remote_port"),
      (lit(100) + pmod(col("event_id"), lit(1000))).as("resp_body_size"),
      // server-side tracing unless the event is client-traced (%3 == 0)
      when(pmod(col("event_id"), lit(3)) === 0, lit(1)).otherwise(lit(2))
        .as("trace_role"),
      (lit(1) + pmod(col("event_id"), lit(2))).as("major_version"),
      when(pmod(col("event_id"), lit(4)) === 0, "GET")
        .when(pmod(col("event_id"), lit(4)) === 1, "POST")
        .when(pmod(col("event_id"), lit(4)) === 2, "PUT")
        .otherwise("DELETE").as("req_method"),
      // even events carry an Otel traceparent (http_trace_id parses it;
      // ids are md5-derived so any engine reproduces them)
      when(pmod(col("event_id"), lit(2)) === 0,
        concat(lit("""{"host":"svc","traceparent":"00-"""),
          md5(col("event_id").cast("string").cast("binary")), lit("-"),
          substring(md5((col("event_id") + 1).cast("string").cast("binary")),
            1, 16),
          lit("""-01"}""")))
        .otherwise(lit("""{"host":"svc"}""")).as("req_headers"),
      concat(lit("req-"), col("event_id")).as("req_body"),
      pmod(col("event_id"), lit(512)).as("req_body_size"),
      graft.functions.ProtocolOps.httpRespMessage.column(status).as("resp_message"),
      lit("{}").as("resp_headers"),
      concat(lit("resp-"), col("event_id")).as("resp_body"))
  }

  /** Shared tracer-table base (every stirling protocol table carries
    * these): µs-aligned time_, the upid stand-in key, trace role,
    * requester address (+port) with the '-'/own-pod-IP convention of
    * [[httpEvents]], and the event latency.
    */
  private def tracerBase(s: SparkSession, dir: String,
                         src: Option[DataFrame]): DataFrame = {
    val g = when(col("ts") < splitNs, lit(0)).otherwise(lit(1))
    val selfIp = concat(lit("10."), g + 10, lit("."),
      pmod(col("user_id"), lit(250)), lit("."),
      lit(1) + call_function("div", col("user_id"), lit(250L)))
    src.getOrElse(t(s, dir, "events")).select(
      (graft.functions.PixieFunctions.idiv(col("ts"), 1000L) * 1000L).as("time_"),
      col("user_id"), col("event_id"),
      graft.types.Upid.makeUpid(col("user_id"), col("event_id"),
        graft.functions.PixieFunctions.nsToUs(col("ts"))).as("upid"),
      when(pmod(col("event_id"), lit(3)) === 0, lit(1)).otherwise(lit(2))
        .as("trace_role"),
      when(pmod(col("event_id"), lit(5)) === 0, lit("-"))
        .otherwise(selfIp).as("remote_addr"),
      (lit(1024) + pmod(col("event_id"), lit(32768))).as("remote_port"),
      col("value").as("latency"))
  }

  /** mysql_events shape (stirling's mysql table): command byte, response
    * code/status, bodies, latency + the tracer base columns.
    */
  def mysqlEvents(s: SparkSession, dir: String,
                  src: Option[DataFrame] = None): DataFrame =
    tracerBase(s, dir, src)
      .withColumn("req_cmd", pmod(col("event_id"), lit(32)))
      .withColumn("resp_code", pmod(col("event_id"), lit(4)))
      .withColumn("resp_status", pmod(col("event_id"), lit(4)))
      .withColumn("req_body",
        concat(lit("SELECT * FROM t"), pmod(col("event_id"), lit(5)),
          lit(" WHERE id="), pmod(col("event_id"), lit(100))))
      .withColumn("resp_body", concat(lit("resp-"), col("event_id")))
      .withColumn("latency_ns", col("latency"))

  /** redis_events shape (stirling's redis table): command string, args,
    * response, latency + the tracer base columns.
    */
  def redisEvents(s: SparkSession, dir: String,
                  src: Option[DataFrame] = None): DataFrame = {
    val cmds = Seq("GET", "SET", "DEL", "INCR", "EXPIRE", "HGETALL")
    val cmd = cmds.zipWithIndex.foldLeft(lit(cmds.last)) { case (acc, (c, i)) =>
      when(pmod(col("event_id"), lit(6)) === i, lit(c)).otherwise(acc)
    }
    tracerBase(s, dir, src)
      .withColumn("req_cmd", cmd)
      .withColumn("req_args",
        concat(lit("""["k"""), col("event_id"), lit(""""]""")))
      .withColumn("resp",
        when(pmod(col("event_id"), lit(2)) === 0, lit("OK"))
          .otherwise(concat(lit("v-"), col("event_id"))))
      .withColumn("latency_ns", col("latency"))
  }

  /** pgsql_events shape (stirling's pgsql table): request tag + query
    * text with an id literal (sql_queries normalizes it to $1).
    */
  def pgsqlEvents(s: SparkSession, dir: String,
                  src: Option[DataFrame] = None): DataFrame =
    tracerBase(s, dir, src)
      .withColumn("req_cmd",
        when(pmod(col("event_id"), lit(4)) === 0, "Query")
          .when(pmod(col("event_id"), lit(4)) === 1, "Execute")
          .when(pmod(col("event_id"), lit(4)) === 2, "Parse")
          .otherwise("Bind"))
      .withColumn("req",
        concat(lit("SELECT * FROM rel"), pmod(col("event_id"), lit(7)),
          lit(" WHERE id="), pmod(col("event_id"), lit(100))))
      .withColumn("resp",
        concat(lit("SELECT "), pmod(col("event_id"), lit(100))))

  /** mongodb_events shape (stirling's mongodb table). */
  def mongodbEvents(s: SparkSession, dir: String,
                    src: Option[DataFrame] = None): DataFrame = {
    val cmds = Seq("find", "insert", "update", "delete")
    val cmd = cmds.zipWithIndex.foldLeft(lit(cmds.last)) { case (acc, (c, i)) =>
      when(pmod(col("event_id"), lit(4)) === i, lit(c)).otherwise(acc)
    }
    tracerBase(s, dir, src)
      .withColumn("req_cmd", cmd)
      .withColumn("req_body",
        concat(lit("""{"q":"""), pmod(col("event_id"), lit(9)), lit("}")))
      .withColumn("resp_status", pmod(col("event_id"), lit(2)))
      .withColumn("resp_body", lit("""{"ok":1}"""))
  }

  /** cql_events shape (stirling's cassandra table): opcodes decoded by
    * px.cql_opcode_name in the script.
    */
  def cqlEvents(s: SparkSession, dir: String,
                src: Option[DataFrame] = None): DataFrame =
    tracerBase(s, dir, src)
      .withColumn("req_op", pmod(col("event_id"), lit(20)))
      .withColumn("resp_op", pmod(col("event_id") + 3, lit(20)))
      .withColumn("req_body",
        concat(lit("SELECT * FROM ks.tbl"), pmod(col("event_id"), lit(6))))
      .withColumn("resp_body", concat(lit("rows-"), pmod(col("event_id"), lit(50))))

  /** mux_events shape (stirling's mux table): frame type over the full
    * signed mux domain (decoded by px.mux_frame_type_name).
    */
  def muxEvents(s: SparkSession, dir: String,
                src: Option[DataFrame] = None): DataFrame =
    tracerBase(s, dir, src)
      .withColumn("req_type", pmod(col("event_id"), lit(260)) - 130)

  /** nats_events.beta shape (stirling's nats table). */
  def natsEvents(s: SparkSession, dir: String,
                 src: Option[DataFrame] = None): DataFrame = {
    val cmds = Seq("PUB", "SUB", "MSG", "PING")
    val cmd = cmds.zipWithIndex.foldLeft(lit(cmds.last)) { case (acc, (c, i)) =>
      when(pmod(col("event_id"), lit(4)) === i, lit(c)).otherwise(acc)
    }
    tracerBase(s, dir, src)
      .withColumn("cmd", cmd)
      .withColumn("body", concat(lit("msg-"), col("event_id")))
      .withColumn("resp", lit("+OK"))
  }

  /** kafka_events.beta shape (stirling's kafka table): api key decoded
    * by px.kafka_api_key_name; client_id plus the nested
    * topics/partitions/message_set JSON bodies kafka_overview.pxl
    * unnests (req_cmd 0 = produce, 1 = fetch).
    */
  def kafkaEvents(s: SparkSession, dir: String,
                  src: Option[DataFrame] = None): DataFrame = {
    def topicsJson(name: Column, idx: Column, size: Column): Column =
      concat(lit("""{"topics":[{"name":""""), name,
        lit("""","partitions":[{"index":"""), idx,
        lit(""","message_set":{"size":"""), size, lit("}}]}]}"))
    // JoinGroup (11) / SyncGroup (14) events carry consumer-group bodies
    // (kafka_consumer_rebalancing joins them on group/generation/member)
    val e70 = pmod(col("event_id"), lit(70))
    val groupId = concat(lit("""{"group_id":"cg-"""), pmod(col("user_id"), lit(4)))
    tracerBase(s, dir, src)
      .withColumn("req_cmd", e70)
      .withColumn("client_id",
        concat(lit("client-"), pmod(col("user_id"), lit(20))))
      .withColumn("req_body",
        when(e70 === 11, concat(groupId, lit(""""}""")))
          .when(e70 === 14, concat(groupId,
            lit("""","generation_id":"""), pmod(col("user_id"), lit(3)),
            lit(""","member_id":"m-"""), col("user_id"), lit(""""}""")))
          .otherwise(topicsJson(
            concat(lit("t"), pmod(col("user_id"), lit(4))),
            pmod(col("event_id"), lit(3)),
            lit(100) + pmod(col("event_id"), lit(900)))))
      .withColumn("resp",
        when(e70 === 11,
          concat(lit("""{"generation_id":"""), pmod(col("user_id"), lit(3)),
            lit(""","member_id":"m-"""), col("user_id"), lit(""""}""")))
          .otherwise(topicsJson(
            concat(lit("t"), pmod(col("user_id") + 1, lit(4))),
            pmod(col("event_id") + 1, lit(3)),
            lit(100) + pmod(col("event_id") * 2, lit(900)))))
  }

  /** amqp_events shape (stirling's amqp table): frame/class/method ids
    * decoded by the px.amqp_* family in the script.
    */
  def amqpEvents(s: SparkSession, dir: String,
                 src: Option[DataFrame] = None): DataFrame =
    tracerBase(s, dir, src)
      .withColumn("frame_type", pmod(col("event_id"), lit(10)))
      .withColumn("channel", pmod(col("event_id"), lit(8)))
      .withColumn("req_class_id", pmod(col("event_id"), lit(100)))
      .withColumn("req_method_id", pmod(col("event_id"), lit(120)))
      .withColumn("resp_class_id", pmod(col("event_id") + 1, lit(100)))
      .withColumn("resp_method_id", pmod(col("event_id") + 1, lit(120)))
      .withColumn("req_msg",
        concat(lit("""{"routing_key":"rk"""), pmod(col("event_id"), lit(6)),
          lit("""","consumer_tag":"c"""), pmod(col("event_id"), lit(3)),
          lit(""""}""")))
      .withColumn("resp_msg",
        concat(lit("""{"routing_key":"rk"""), pmod(col("event_id"), lit(6)),
          lit("""","consumer_tag":"c"""), pmod(col("event_id"), lit(3)),
          lit(""""}""")))

  /** network_stats shape (stirling's network_stats table, sharded by
    * pod): pod_id keyed with MONOTONE interface counters — the pod.pxl
    * network_timeseries max-min rollup does real work.
    */
  def networkStats(s: SparkSession, dir: String,
                   src: Option[DataFrame] = None): DataFrame = {
    val g = when(col("ts") < splitNs, lit(0)).otherwise(lit(1))
    val us = graft.functions.PixieFunctions.idiv(col("ts"), 1000L)
    src.getOrElse(t(s, dir, "events")).select(
      (us * 1000L).as("time_"),
      concat(lit("pid-"), col("user_id"), lit("-g"), g).as("pod_id"),
      us.as("rx_bytes"),
      graft.functions.PixieFunctions.idiv(us, 2L).as("tx_bytes"),
      graft.functions.PixieFunctions.idiv(us, 700L).as("rx_packets"),
      graft.functions.PixieFunctions.idiv(us, 800L).as("tx_packets"),
      graft.functions.PixieFunctions.idiv(us, 1000L).as("tx_errors"),
      graft.functions.PixieFunctions.idiv(us, 1500L).as("rx_errors"),
      graft.functions.PixieFunctions.idiv(us, 2000L).as("tx_drops"),
      graft.functions.PixieFunctions.idiv(us, 3000L).as("rx_drops"))
  }

  /** process_stats shape (stirling's process table): per-process
    * counters keyed by upid, synthesized deterministically.
    */
  def processStats(s: SparkSession, dir: String,
                   src: Option[DataFrame] = None): DataFrame =
    src.getOrElse(t(s, dir, "events")).select(
      (graft.functions.PixieFunctions.idiv(col("ts"), 1000L) * 1000L).as("time_"),
      col("user_id"),
      graft.types.Upid.makeUpid(col("user_id"), col("event_id"),
        graft.functions.PixieFunctions.nsToUs(col("ts"))).as("upid"),
      ((lit(100) + pmod(col("event_id"), lit(900))) * 1048576L).as("vsize_bytes"),
      ((lit(50) + pmod(col("event_id"), lit(450))) * 1048576L).as("rss_bytes"),
      (pmod(col("event_id"), lit(1000)) * 1000000L).as("cpu_utime_ns"),
      (pmod(col("event_id"), lit(500)) * 1000000L).as("cpu_ktime_ns"),
      (lit(1) + pmod(col("event_id"), lit(32))).as("num_threads"),
      pmod(col("event_id"), lit(10)).as("major_faults"),
      pmod(col("event_id"), lit(1000)).as("minor_faults"),
      (pmod(col("event_id"), lit(4096)) * 512L).as("rchar_bytes"),
      (pmod(col("event_id"), lit(2048)) * 512L).as("wchar_bytes"),
      (pmod(col("event_id"), lit(1024)) * 512L).as("read_bytes"),
      (pmod(col("event_id"), lit(512)) * 512L).as("write_bytes"))

  /** dns_events shape (stirling's dns table — reference
    * src/stirling/source_connectors/socket_tracer/dns_table.h): query and
    * response headers/bodies as JSON text, trace role, requester address.
    */
  def dnsEvents(s: SparkSession, dir: String,
                src: Option[DataFrame] = None): DataFrame = {
    val g = when(col("ts") < splitNs, lit(0)).otherwise(lit(1))
    val selfIp = concat(lit("10."), g + 10, lit("."),
      pmod(col("user_id"), lit(250)), lit("."),
      lit(1) + call_function("div", col("user_id"), lit(250L)))
    src.getOrElse(t(s, dir, "events")).select(
      (graft.functions.PixieFunctions.idiv(col("ts"), 1000L) * 1000L).as("time_"),
      col("user_id"),
      graft.types.Upid.makeUpid(col("user_id"), col("event_id"),
        graft.functions.PixieFunctions.nsToUs(col("ts"))).as("upid"),
      when(pmod(col("event_id"), lit(3)) === 0, lit(1)).otherwise(lit(2))
        .as("trace_role"),
      when(pmod(col("event_id"), lit(5)) === 0, lit("-"))
        .otherwise(selfIp).as("remote_addr"),
      (lit(1024) + pmod(col("event_id"), lit(32768))).as("remote_port"),
      col("value").as("latency"),
      concat(lit("""{"qname":"svc-"""), pmod(col("user_id"), lit(10)),
        lit(""".local"}""")).as("req_header"),
      // dns_table.h body shapes: queries/answers JSON arrays
      // (dns_query_summary plucks + prefix-parses these)
      concat(lit("""{"queries":[{"name":"svc-"""), pmod(col("user_id"), lit(10)),
        lit(""".local"}]}""")).as("req_body"),
      concat(lit("""{"rcode":"""), pmod(col("event_id"), lit(4)), lit("}"))
        .as("resp_header"),
      when(pmod(col("event_id"), lit(4)) === 0,
        concat(lit("""{"answers":[{"name":"svc-"""), pmod(col("user_id"), lit(10)),
          lit(""".local","addr":"203.0.113."""), pmod(col("event_id"), lit(250)),
          lit(""""}]}""")))
        .otherwise(lit("""{"answers":[]}""")).as("resp_body"))
  }

  /** conn_stats shape (stirling's conn_stats table): per-connection
    * MONOTONE byte counters — pxviews.connection_throughput_stats takes
    * max-min deltas per connection key, so the counters are synthesized
    * as monotone functions of event time and the upid is
    * connection-stable (per user), giving the deltas real work.
    */
  def connStats(s: SparkSession, dir: String,
                src: Option[DataFrame] = None): DataFrame =
    src.getOrElse(t(s, dir, "events")).select(
      (graft.functions.PixieFunctions.idiv(col("ts"), 1000L) * 1000L).as("time_"),
      col("user_id"),
      graft.types.Upid.makeUpid(col("user_id"), lit(1000) + col("user_id"),
        lit(1700000000000000000L)).as("upid"),
      (lit(1) + pmod(col("event_id"), lit(2))).as("trace_role"),
      concat(lit("10.9."), pmod(col("user_id"), lit(50)), lit(".7"))
        .as("remote_addr"),
      (lit(3000) + pmod(col("user_id"), lit(7))).as("remote_port"),
      pmod(col("event_id"), lit(2)).as("ssl"),
      pmod(col("event_id"), lit(5)).as("protocol"),
      graft.functions.PixieFunctions.idiv(col("ts"), 1000L).as("bytes_sent"),
      graft.functions.PixieFunctions.idiv(
        graft.functions.PixieFunctions.idiv(col("ts"), 1000L), 3L).as("bytes_recv"),
      graft.functions.PixieFunctions.idiv(
        graft.functions.PixieFunctions.idiv(col("ts"), 1000L), 1000L).as("conn_open"))

  /** stirling_error shape (stirling's stirling_error table — reference
    * src/stirling/source_connectors/stirling_error/): per-node source
    * connector status reports. Carries user_id + time_ so ctx['node']
    * resolves through the standard as-of dimension path.
    */
  def stirlingError(s: SparkSession, dir: String,
                    src: Option[DataFrame] = None): DataFrame =
    src.getOrElse(t(s, dir, "events")).select(
      (graft.functions.PixieFunctions.idiv(col("ts"), 1000L) * 1000L).as("time_"),
      col("user_id"),
      when(pmod(col("event_id"), lit(5)) === 0, "socket_tracer")
        .when(pmod(col("event_id"), lit(5)) === 1, "perf_profiler")
        .when(pmod(col("event_id"), lit(5)) === 2, "jvm_stats")
        .when(pmod(col("event_id"), lit(5)) === 3, "process_stats")
        .otherwise("dns_probe").as("source_connector"),
      when(pmod(col("event_id"), lit(3)) === 0, "OK")
        .when(pmod(col("event_id"), lit(3)) === 1, "INTERNAL")
        .otherwise("FAILED_PRECONDITION").as("status"),
      when(pmod(col("event_id"), lit(3)) === 0, lit(""))
        .otherwise(concat(lit("error-"), col("event_id"))).as("error"),
      concat(lit("""{"probe":"p"""), pmod(col("event_id"), lit(10)), lit("\"}"))
        .as("context"))

  /** stack_traces.beta shape (stirling's perf-profiler table — reference
    * src/stirling/source_connectors/perf_profiler/stack_traces_table.h):
    * folded stack string + sample count keyed by (upid, stack_trace_id);
    * stack_trace is functionally dependent on stack_trace_id so the
    * script's px.any over it is deterministic.
    */
  def stackTraces(s: SparkSession, dir: String,
                  src: Option[DataFrame] = None): DataFrame = {
    val id = pmod(col("event_id"), lit(20))
    src.getOrElse(t(s, dir, "events")).select(
      (graft.functions.PixieFunctions.idiv(col("ts"), 1000L) * 1000L).as("time_"),
      col("user_id"),
      graft.types.Upid.makeUpid(col("user_id"), col("event_id"),
        graft.functions.PixieFunctions.nsToUs(col("ts"))).as("upid"),
      id.as("stack_trace_id"),
      concat(lit("app;frame_"), id, lit(";leaf_"), pmod(id, lit(5)))
        .as("stack_trace"),
      (lit(1) + pmod(col("event_id"), lit(7))).as("count"))
  }

  /** probe_status shape (stirling's probe_status table): per-node eBPF
    * tracepoint deployment statuses.
    */
  def probeStatus(s: SparkSession, dir: String,
                  src: Option[DataFrame] = None): DataFrame =
    src.getOrElse(t(s, dir, "events")).select(
      (graft.functions.PixieFunctions.idiv(col("ts"), 1000L) * 1000L).as("time_"),
      col("user_id"),
      concat(lit("tp-"), pmod(col("event_id"), lit(8))).as("tracepoint"),
      when(pmod(col("event_id"), lit(3)) === 0, "OK")
        .when(pmod(col("event_id"), lit(3)) === 1, "INTERNAL")
        .otherwise("FAILED_PRECONDITION").as("status"),
      when(pmod(col("event_id"), lit(3)) === 0, lit(""))
        .otherwise(concat(lit("error-"), col("event_id"))).as("error"),
      concat(lit("""{"binary":"/bin/app"""), pmod(col("event_id"), lit(4)),
        lit("\"}")).as("info"))

  /** jvm_stats shape (stirling's jvm table): per-process monotonic GC
    * counters + heap gauges, upid per PROCESS (q60 convention) so the
    * script's two-level upid-then-pod aggregation does real work.
    */
  def jvmStats(s: SparkSession, dir: String,
               src: Option[DataFrame] = None): DataFrame =
    src.getOrElse(t(s, dir, "events")).select(
      (graft.functions.PixieFunctions.idiv(col("ts"), 1000L) * 1000L).as("time_"),
      col("user_id"),
      graft.types.Upid.makeUpid(col("user_id"), col("user_id") * 2,
        lit(1700000000000000000L)).as("upid"),
      (col("event_id") * 1000000L).as("young_gc_time"),
      (col("event_id") * 250000L).as("full_gc_time"),
      ((lit(100) + pmod(col("event_id"), lit(400))) * 1048576L).as("used_heap_size"),
      ((lit(600) + pmod(col("user_id"), lit(100))) * 1048576L).as("total_heap_size"),
      lit(1073741824L).as("max_heap_size"))

  /** Script-execution environment over the fixture catalog. ctx
    * properties resolve through the point-in-time pod dimension
    * (ConvertMetadataRule's expansion, as a broadcast as-of join).
    * sketchQuantiles: DEFAULT is the t-digest sketch — the only mapping
    * whose per-group state stays O(compression) on a hot (service,
    * window) group at 100 TB (PxlRunner notes; reference
    * math_sketches.h:42-129). Exact interpolated percentiles are opt-in
    * (SPARK_GRAFT_SKETCH_QUANTILES=0 or -Dgraft.sketchQuantiles=0) and
    * exist for the DuckDB-hash gate, which Verify requests explicitly.
    */
  def defaultSketchQuantiles: Boolean =
    sys.env.get("SPARK_GRAFT_SKETCH_QUANTILES")
      .orElse(sys.props.get("graft.sketchQuantiles"))
      .forall(_ != "0")

  def env(s: SparkSession, dir: String, nowNs: Long,
          sketchQuantiles: Boolean = defaultSketchQuantiles,
          spreadBase: Boolean = true): PxlEnv = {
    // One dimension snapshot per script run: every ctx/metadata call
    // reuses the same frame, so chained lookups share one broadcast
    // build (ReuseExchange dedups identical BroadcastExchanges). The
    // frames memoize per (session, dir) through Q.memoDf — the synth
    // tables are wide projections whose repeated ANALYSIS was pure
    // driver CPU re-paid on every query build.
    lazy val fullDim = Q.memoDf(s, dir, "__fullDim")(
      graft.meta.MetadataOps.fullEntityDim(t(s, dir, "events"), splitNs))
    lazy val podDim = Q.memoDf(s, dir, "__podDim")(
      K8sMetadata.syntheticPodDim(t(s, dir, "events"), splitNs))
    // PER-QUERY protocol base (guide §8 / §2.4): the synth protocol
    // tables are wide expression projections (md5 trace ids, JSON
    // bodies) over ONE events scan, and a script that references its
    // table N times (or resolves ctx through the events-derived dims)
    // re-evaluated that scan+projection subtree N times. A lazy
    // localCheckpoint of the raw scan evaluates it ONCE per query;
    // every synth projection above it reads executor-local blocks.
    // The base is additionally SPREAD to core count below the
    // checkpoint (the §8 move: raw narrow rows cross the exchange once;
    // every wide projection runs post-spread at full parallelism) —
    // EXCEPT for queries whose hash-checked output contains a plain
    // float mean over events values (q122's avg(latency)): IEEE
    // summation order matches DuckDB only at the scan's original
    // row-per-partition layout, so those pass `spreadBase = false` and
    // keep the order-preserving checkpoint alone (still one
    // evaluation). Gated by Tables.narrow (at production scale the scan
    // is already parallel and materializing it wholesale would be wrong —
    // the base is absent and plans are unchanged). Scoped per env = per
    // query build: nothing is shared across measured queries.
    val evPath = s"$dir/events.parquet"
    val evBase: Option[DataFrame] =
      if (graft.core.Tables.narrow(s, evPath)) {
        val raw = t(s, dir, "events")
        Some((if (spreadBase) graft.core.Tables.spread(s, raw, evPath)
        else raw).localCheckpoint(false))
      } else None
    val localTabs = new java.util.concurrent.ConcurrentHashMap[
      String, DataFrame]()
    val synths: Map[String, () => DataFrame] = Map(
      "http_events" -> (() => httpEvents(s, dir, evBase)),
      "mysql_events" -> (() => mysqlEvents(s, dir, evBase)),
      "redis_events" -> (() => redisEvents(s, dir, evBase)),
      "process_stats" -> (() => processStats(s, dir, evBase)),
      "jvm_stats" -> (() => jvmStats(s, dir, evBase)),
      "dns_events" -> (() => dnsEvents(s, dir, evBase)),
      "conn_stats" -> (() => connStats(s, dir, evBase)),
      "pgsql_events" -> (() => pgsqlEvents(s, dir, evBase)),
      "mongodb_events" -> (() => mongodbEvents(s, dir, evBase)),
      "cql_events" -> (() => cqlEvents(s, dir, evBase)),
      "mux_events" -> (() => muxEvents(s, dir, evBase)),
      "nats_events.beta" -> (() => natsEvents(s, dir, evBase)),
      "kafka_events.beta" -> (() => kafkaEvents(s, dir, evBase)),
      "amqp_events" -> (() => amqpEvents(s, dir, evBase)),
      "network_stats" -> (() => networkStats(s, dir, evBase)),
      "stirling_error" -> (() => stirlingError(s, dir, evBase)),
      "probe_status" -> (() => probeStatus(s, dir, evBase)),
      "stack_traces.beta" -> (() => stackTraces(s, dir, evBase)))
    PxlEnv(
      nowNs,
      tables = name => synths.get(name) match {
        // with a per-query base the frame must NOT cross queries (its
        // checkpoint blocks carry data) — cache per env, not in memoDf
        case Some(build) if evBase.isDefined =>
          localTabs.computeIfAbsent(name, _ => build())
        case Some(build) => Q.memoDf(s, dir, name)(build())
        case None => Q.memoDf(s, dir, name)(graft.core.Tables(s, dir, name))
      },
      ctx = (df, prop, out) => {
        // ConvertMetadataRule semantics: resolution is keyed by whatever
        // key columns the frame still carries — the raw fact key (as-of
        // by event time) before aggregation, or pod_id after. ctx['pid']
        // is upid-derived, no dimension involved.
        val cols = df.columns.toSet
        // Entity-keyed as-of resolution, parameterized by the key column
        // (the raw fact key, or the asid extracted from a upid).
        def asOfResolve(in: DataFrame, keyCol: String): DataFrame = {
          val (dim, attr) = prop match {
            case "service" => (podDim, "service_name")
            case "pod" | "pod_name" => (podDim, "pod_name")
            case "namespace" => (fullDim, "namespace")
            case "node" | "node_name" => (fullDim, "node_name")
            case "container" | "container_name" => (fullDim, "container_name")
            case "container_id" => (fullDim, "container_id")
            case "cmdline" => (fullDim, "cmdline")
            case "pod_id" => (fullDim, "pod_id")
            case other => throw new IllegalArgumentException(s"ctx['$other']")
          }
          blankOnMiss(K8sMetadata.resolveAsOf(in,
            dim.select(col("owner_id"), col("start_ns"), col("stop_ns"), col(attr)),
            keyCol, "owner_id", "time_", Seq(attr))
            .withColumnRenamed(attr, out), out)
        }
        if (prop == "pid" && cols("upid"))
          df.withColumn(out, graft.types.Upid.upidToPid(col("upid")))
        else if (cols("user_id") && cols("time_"))
          asOfResolve(df, "user_id")
        else if (cols("upid") && cols("time_"))
          // select=[...] projections can drop the raw key but keep upid:
          // the asid field IS the entity key (upid-family convention), so
          // resolution extracts it and rejoins the as-of path.
          asOfResolve(df.withColumn("__ctx_uid",
            graft.types.Upid.upidToAsid(col("upid"))), "__ctx_uid")
            .drop("__ctx_uid")
        else if (cols("pod_id")) {
          val fn = prop match {
            case "pod" | "pod_name" => "pod_id_to_pod_name"
            case "service" => "pod_id_to_service_name"
            case "namespace" => "pod_id_to_namespace"
            case "node" | "node_name" => "pod_id_to_node_name"
            case other => throw new IllegalArgumentException(s"ctx['$other'] via pod_id")
          }
          blankOnMiss(graft.meta.MetadataOps.resolve(fn, df, fullDim, "pod_id", out), out)
        } else throw new IllegalArgumentException(s"ctx['$prop']: no key column")
      },
      metaFns = graft.meta.MetadataOps.bindings.keySet,
      meta = (df, fn, in, out) => {
        // upid-family bindings are generation-scoped: extract the asid
        // from the upid bytes and resolve as-of the row's event time.
        val resolved =
          if (graft.meta.MetadataOps.bindings(fn)._1 == "owner_id")
            graft.meta.MetadataOps.resolve(fn,
              df.withColumn("__meta_asid", graft.types.Upid.upidToAsid(col(in))),
              fullDim, "__meta_asid", out, Some("time_"))
              .drop("__meta_asid")
          else
            graft.meta.MetadataOps.resolve(fn, df, fullDim, in, out)
        blankOnMiss(resolved, out)
      },
      modules = Map("pxviews" -> (() => pxviewsSource)),
      sketchQuantiles = sketchQuantiles,
      udtfs = (name, args) => {
        import graft.sources.CatalogUdtfs
        name match {
          case "GetTables" => CatalogUdtfs.getTables(s, dir)
          case "GetSchemas" => CatalogUdtfs.getSchemas(s, dir)
          case "GetUDFList" => CatalogUdtfs.getUdfList(s)
          case "GetUDAList" => CatalogUdtfs.getUdaList(s)
          case "GetUDTFList" => CatalogUdtfs.getUdtfList(s)
          case "GetAgentStatus" => CatalogUdtfs.getAgentStatus(s)
          case "GetProfilerSamplingPeriodMS" =>
            CatalogUdtfs.getProfilerSamplingPeriodMS(s)
          case "GetLinuxHeadersStatus" => CatalogUdtfs.getLinuxHeadersStatus(s)
          case "GetTracepointStatus" => CatalogUdtfs.getTracepointStatus(s)
          case "GetCronScriptHistory" => CatalogUdtfs.getCronScriptHistory(s)
          case "_DebugMDState" => CatalogUdtfs.debugMDState(s)
          case "_DebugMDGetWithPrefix" =>
            CatalogUdtfs.debugMDGetWithPrefix(s, args.headOption.getOrElse(""))
          case "_DebugTableInfo" => CatalogUdtfs.debugTableInfo(s)
          case "_HeapGrowthStacks" =>
            CatalogUdtfs.heapGrowthStacks(s, args.headOption.map(_.toLong).getOrElse(1L))
          case other => throw new IllegalArgumentException(s"UDTF $other")
        }
      })
  }

  /** The REAL bundled helper library, loaded verbatim (it ships embedded
    * in a C++ raw string literal — strip the R"( ... )" wrapper).
    */
  lazy val pxviewsSource: String = {
    val raw = readRef(s"$RefDir/src/carnot/planner/pxl_lib/pxviews.pxl")
    raw.linesIterator
      .filterNot(l => l.trim == "R\"(" || l.trim == ")\"").mkString("\n")
  }

  /** The reference's metadata UDFs return '' (not null) on a miss
    * (metadata_ops.cc lookups default-construct); scripts branch on
    * `x != ''`, so the runner matches that contract for string attrs.
    */
  private def blankOnMiss(df: DataFrame, out: String): DataFrame =
    if (df.schema(out).dataType == org.apache.spark.sql.types.StringType)
      df.withColumn(out, coalesce(col(out), lit("")))
    else df

  /** Root of the reference checkout the verbatim scripts are read from
    * at runtime (they are test INPUTS, not copied sources). Point
    * SPARK_GRAFT_REF_DIR elsewhere to run against another checkout.
    */
  val RefDir: String =
    sys.env.getOrElse("SPARK_GRAFT_REF_DIR", "/root/reference")
  /** The bundled `px/` script collection every PxL query module reads. */
  val RefPx = s"$RefDir/src/pxl_scripts/px"
  val StatsPxlPath = s"$RefPx/http_request_stats/stats.pxl"
  val ServiceStatsPxlPath = s"$RefPx/service_stats/service_stats.pxl"
  val HttpDataPxlPath = s"$RefPx/http_data/data.pxl"
  val PidMemoryPxlPath = s"$RefPx/pid_memory_usage/usage.pxl"
  val JvmStatsPxlPath = s"$RefPx/jvm_stats/jvm_stats.pxl"
  val NamespacesPxlPath = s"$RefPx/namespaces/namespaces.pxl"

  /** A reference file that is not on disk: the one failure every
    * verbatim-script query and spec reports when the checkout is absent.
    */
  final class MissingReference(path: String) extends java.io.FileNotFoundException(
    s"reference file $path not found; SPARK_GRAFT_REF_DIR=" +
      sys.env.getOrElse("SPARK_GRAFT_REF_DIR", s"<unset> (default $RefDir)"))

  /** The absolute path of a reference file or directory, or a
    * [[MissingReference]] when it does not exist.
    */
  def refPath(path: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(path).toAbsolutePath.normalize
    if (!java.nio.file.Files.exists(p)) throw new MissingReference(p.toString)
    p
  }

  /** The UTF-8 text of a reference script: the one read path for every
    * verbatim script.
    */
  def readRef(path: String): String =
    new String(java.nio.file.Files.readAllBytes(refPath(path)), "UTF-8")

  /** Deterministic "now" for relative start_time strings: the fixture's
    * max event time ceiled to the next µs. Scans bound time_ < now
    * strictly, so this includes the max event, and a µs-multiple bound
    * compares identically against the oracle's µs-truncated view of the
    * ns column.
    */
  private def nowNs(s: SparkSession, dir: String): Long = Q.tailNowNs(s, dir)

  /** Authored PxL (same canonical shape as service_stats scripts) — runs
    * over the full fixture range so every operator path carries weight.
    */
  val ServiceStatsScript: String =
    """import px
      |
      |df = px.DataFrame(table='http_events', start_time='-45d')
      |df.service = df.ctx['service']
      |df.failure = df.resp_status >= 400
      |df.range_group = px.bin(df.time_, px.hours(1))
      |
      |per_win = df.groupby(['service', 'range_group']).agg(
      |    n=('resp_status', px.count),
      |)
      |per_svc = per_win.groupby('service').agg(
      |    windows=('n', px.count),
      |    avg_per_window=('n', px.mean),
      |)
      |err = df.groupby('service').agg(
      |    err_rate=('failure', px.mean),
      |    total=('resp_status', px.count),
      |    max_latency=('latency', px.max),
      |)
      |joined = per_svc.merge(err, how='inner', left_on=['service'],
      |                       right_on=['service'], suffixes=['', '_x'])
      |joined['req_per_hour'] = joined.total / joined.windows
      |joined = joined[joined.total > 0]
      |out = joined[['service', 'windows', 'avg_per_window', 'err_rate',
      |              'total', 'max_latency', 'req_per_hour']]
      |px.display(out, 'svc')
      |""".stripMargin

  /** service_stats/service_stats.pxl `svc_let` shape: health-check
    * filter, 10s LET windows per service with latency quantiles.
    */
  val ServiceLetScript: String =
    """import px
      |df = px.DataFrame(table='http_events', start_time='-45d')
      |df.service = df.ctx['service']
      |df = df[px.contains(df.req_path, 'healthz') == False]
      |df = df[px.contains(df.req_path, 'readyz') == False]
      |df.timestamp = px.bin(df.time_, px.seconds(10))
      |df.failure = df.resp_status >= 400
      |per = df.groupby(['service', 'timestamp']).agg(
      |    latency_quantiles=('latency', px.quantiles),
      |    error_rate=('failure', px.mean),
      |    throughput_total=('resp_status', px.count),
      |)
      |per.latency_p50 = px.pluck_float64(per.latency_quantiles, 'p50')
      |per.latency_p90 = px.pluck_float64(per.latency_quantiles, 'p90')
      |per.latency_p99 = px.pluck_float64(per.latency_quantiles, 'p99')
      |per['time_'] = per.timestamp
      |out = per[['time_', 'service', 'latency_p50', 'latency_p90',
      |           'latency_p99', 'error_rate', 'throughput_total']]
      |px.display(out, 'let')
      |""".stripMargin

  /** namespaces/namespaces.pxl shape: pod + service counts and resource
    * rollup per namespace.
    */
  val NamespacesScript: String =
    """import px
      |df = px.DataFrame(table='http_events', start_time='-45d')
      |df.namespace = df.ctx['namespace']
      |df.pod = df.ctx['pod']
      |df.service = df.ctx['service']
      |pods = df.groupby(['namespace', 'pod']).agg()
      |pod_count = pods.groupby('namespace').agg(pod_count=('pod', px.count))
      |svcs = df.groupby(['namespace', 'service']).agg()
      |svc_count = svcs.groupby('namespace').agg(service_count=('service', px.count))
      |io = df.groupby('namespace').agg(
      |    total_bytes=('resp_status', px.sum),
      |    requests=('resp_status', px.count),
      |)
      |joined = pod_count.merge(svc_count, how='inner', left_on=['namespace'],
      |                         right_on=['namespace'], suffixes=['', '_x'])
      |joined = joined.merge(io, how='inner', left_on=['namespace'],
      |                      right_on=['namespace'], suffixes=['', '_y'])
      |out = joined[['namespace', 'pod_count', 'service_count',
      |              'total_bytes', 'requests']]
      |px.display(out, 'ns')
      |""".stripMargin

  /** mysql_stats/mysql_stats.pxl `pod_mysql_let` shape: none-response
    * filter, command decode, 10min LET windows per (pod, command).
    */
  val MysqlLetScript: String =
    """import px
      |df = px.DataFrame(table='mysql_events', start_time='-45d')
      |df.pod = df.ctx['pod']
      |df = df[df.resp_code != 1]
      |df.cmd = px.mysql_command_name(df.req_cmd)
      |df.failure = df.resp_code == 3
      |df.timestamp = px.bin(df.time_, px.seconds(600))
      |per = df.groupby(['pod', 'cmd', 'timestamp']).agg(
      |    n=('req_cmd', px.count),
      |    error_rate=('failure', px.mean),
      |    latency_quantiles=('latency_ns', px.quantiles),
      |)
      |per.latency_p50 = px.pluck_float64(per.latency_quantiles, 'p50')
      |out = per[['timestamp', 'pod', 'cmd', 'n', 'error_rate', 'latency_p50']]
      |px.display(out, 'mysql')
      |""".stripMargin

  /** pods/pods.pxl overview shape: per-(namespace, pod) request rollup. */
  val PodsScript: String =
    """import px
      |df = px.DataFrame(table='http_events', start_time='-45d')
      |df.pod = df.ctx['pod']
      |df.namespace = df.ctx['namespace']
      |df.failure = df.resp_status >= 400
      |per_pod = df.groupby(['namespace', 'pod']).agg(
      |    requests=('resp_status', px.count),
      |    error_rate=('failure', px.mean),
      |    max_latency=('latency', px.max),
      |)
      |out = per_pod[per_pod.requests > 0]
      |px.display(out, 'pods')
      |""".stripMargin

  /** redis_stats LET shape: per (pod, command, day) windows. */
  val RedisLetScript: String =
    """import px
      |df = px.DataFrame(table='redis_events', start_time='-45d')
      |df.pod = df.ctx['pod']
      |df.timestamp = px.bin(df.time_, px.hours(24))
      |per = df.groupby(['pod', 'req_cmd', 'timestamp']).agg(
      |    n=('req_cmd', px.count),
      |    lat=('latency_ns', px.quantiles),
      |)
      |per.latency_p50 = px.pluck_float64(per.lat, 'p50')
      |out = per[['timestamp', 'pod', 'req_cmd', 'n', 'latency_p50']]
      |px.display(out, 'redis')
      |""".stripMargin

  val queries: Map[String, QFn] = Map(
    // The verbatim reference script, end-to-end through parser+runner.
    // now = max event time, so its '-30s' window covers the data tail.
    "q65_pxl_http_stats" -> ((s, dir) => {
      val script = readRef(StatsPxlPath)
      PxlRunner.run(script, env(s, dir, nowNs(s, dir)))("output")
        .orderBy("service")
    }),

    "q66_pxl_service_stats" -> ((s, dir) => {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      PxlRunner.run(ServiceStatsScript, env(s, dir, now))("svc")
        .orderBy("service")
    }),

    "q67_pxl_service_let" -> ((s, dir) => {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      PxlRunner.run(ServiceLetScript, env(s, dir, now))("let")
        .orderBy("time_", "service")
    }),

    "q68_pxl_namespaces" -> ((s, dir) => {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      PxlRunner.run(NamespacesScript, env(s, dir, now))("ns")
        .orderBy("namespace")
    }),

    "q69_pxl_mysql_let" -> ((s, dir) => {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      PxlRunner.run(MysqlLetScript, env(s, dir, now))("mysql")
        .orderBy("timestamp", "pod", "cmd")
    }),

    "q71_pxl_pods" -> ((s, dir) => {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      PxlRunner.run(PodsScript, env(s, dir, now))("pods")
        .orderBy("namespace", "pod")
    }),

    "q72_pxl_redis_let" -> ((s, dir) => {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      PxlRunner.run(RedisLetScript, env(s, dir, now))("redis")
        .orderBy("timestamp", "pod", "req_cmd")
    }),

    // The VERBATIM def-based reference script, executed through the
    // exec_funcs entry point (SURVEY §3 entry 2): svc_let computes the
    // service LET time series; http_code_histogram the status rollup.
    "q73_pxl_svc_let" -> ((s, dir) => {
      val script = readRef(ServiceStatsPxlPath)
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      PxlRunner.runFunction(script, env(s, dir, now), "svc_let",
          Seq("-45d", "svc-1"))
        .orderBy("time_", "k8s")
    }),

    "q74_pxl_http_code_hist" -> ((s, dir) => {
      val script = readRef(ServiceStatsPxlPath)
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      PxlRunner.runFunction(script, env(s, dir, now), "http_code_histogram",
          Seq("-45d", "svc-3"))
        .orderBy("resp_status")
    }),

    // The verbatim HTTP Data Tracer (the most-used bundled script):
    // ctx node/pod/namespace, upid scalar, ip->pod->name fallback chain
    // with the ''-on-miss contract, script_reference deep links with
    // dict args, head cap — full row-level trace output, hash-checked.
    "q77_pxl_http_data" -> ((s, dir) => {
      val script = readRef(HttpDataPxlPath)
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      PxlRunner.runFunction(script, env(s, dir, now), "http_data",
          Seq("-45d", "", "", "1000000"))
        .orderBy("time_", "req_body")
    }),

    // Verbatim pid_memory_usage/usage.pxl over the process_stats table:
    // top-level script (no defs), upid-keyed groupby, upid_to_cmdline/
    // pid/asid scalars, spaced column names. The '-30s' window is the
    // data tail (now pinned to max event time, as q65).
    "q79_pxl_pid_memory" -> ((s, dir) => {
      val script = readRef(PidMemoryPxlPath)
      PxlRunner.run(script, env(s, dir, nowNs(s, dir)))("output")
        .orderBy("pid")
    }),

    // Verbatim jvm_stats/jvm_stats.pxl: monotonic GC counters resolved
    // max-min per (upid, window), then rolled up per pod — the two-level
    // sharded-by-UPID aggregation the script documents.
    "q80_pxl_jvm_stats" -> ((s, dir) => {
      val script = readRef(JvmStatsPxlPath)
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      PxlRunner.runFunction(script, env(s, dir, now), "jvm_stats",
          Seq("-45d", "", ""))
        .orderBy("timestamp", "pod")
    }),

    // Verbatim namespaces.pxl through the REAL pxviews helper library
    // (loaded as a module from the reference's pxl_lib): pod/service
    // counts per namespace from pxviews.pod_resource_stats.
    "q82_pxl_namespaces_lib" -> ((s, dir) => {
      val script = readRef(NamespacesPxlPath)
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      PxlRunner.runFunction(script, env(s, dir, now), "namespaces_for_cluster",
          Seq("-45d"))
        .orderBy("namespace")
    }),

    // Same script, the per-namespace resource rollup function.
    "q83_pxl_ns_process_stats" -> ((s, dir) => {
      val script = readRef(NamespacesPxlPath)
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      PxlRunner.runFunction(script, env(s, dir, now),
          "process_stats_by_namespace", Seq("-45d"))
        .orderBy("namespace")
    })
  )

  val oracles: Map[String, String] = Map(
    "q65_pxl_http_stats" ->
      """WITH mx AS (SELECT max(epoch_us(ts)) * 1000 + 1000 AS now_ns FROM events),
        |e AS (SELECT epoch_us(ts) * 1000 AS t, user_id,
        |        100 + event_id % 460 AS resp_status, value AS latency
        |      FROM events, mx WHERE epoch_us(ts) * 1000 >= mx.now_ns - 30000000000
        |        AND epoch_us(ts) * 1000 < mx.now_ns),
        |w AS (SELECT *, 'svc-' || (user_id % 10) AS service,
        |        CASE WHEN resp_status >= 400 THEN 1 ELSE 0 END AS failure,
        |        t - t % 5000000000 AS range_group FROM e),
        |qa AS (SELECT service,
        |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
        |        CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS p90,
        |        CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS p99,
        |        avg(CAST(failure AS DOUBLE)) AS errors,
        |        count(resp_status) AS throughput_total
        |      FROM w GROUP BY service),
        |ra AS (SELECT service, range_group, count(resp_status) AS rpw
        |       FROM w GROUP BY 1, 2),
        |rps AS (SELECT service, avg(CAST(rpw AS DOUBLE)) AS request_throughput
        |        FROM ra GROUP BY 1)
        |SELECT qa.service,
        |  p50 AS "latency(p50)", p90 AS "latency(p90)", p99 AS "latency(p99)",
        |  errors,
        |  request_throughput / 5000000000 AS throughput,
        |  throughput_total AS "throughput total"
        |FROM qa JOIN rps ON qa.service = rps.service
        |WHERE qa.service <> ''
        |ORDER BY qa.service""".stripMargin,

    "q67_pxl_service_let" -> {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      val start = now - 45L * 86400L * 1000000000L
      s"""WITH e AS (SELECT epoch_us(ts) * 1000 AS t, user_id,
         |        100 + event_id % 460 AS resp_status, value AS latency,
         |        CASE WHEN event_id % 25 = 0 THEN '/healthz'
         |             WHEN event_id % 25 = 1 THEN '/readyz'
         |             ELSE '/api/v1/users/' || user_id END AS req_path
         |      FROM events WHERE epoch_us(ts) * 1000 >= $start
         |        AND epoch_us(ts) * 1000 < $now),
         |w AS (SELECT *, 'svc-' || (user_id % 10) AS service,
         |        CASE WHEN resp_status >= 400 THEN 1 ELSE 0 END AS failure,
         |        t - t % 10000000000 AS ts_bin FROM e
         |      WHERE NOT contains(req_path, 'healthz')
         |        AND NOT contains(req_path, 'readyz'))
         |SELECT ts_bin AS time_, service,
         |  quantile_cont(latency, 0.50) AS latency_p50,
         |  quantile_cont(latency, 0.90) AS latency_p90,
         |  quantile_cont(latency, 0.99) AS latency_p99,
         |  avg(CAST(failure AS DOUBLE)) AS error_rate,
         |  count(resp_status) AS throughput_total
         |FROM w GROUP BY 1, 2 ORDER BY time_, service""".stripMargin
    },

    "q68_pxl_namespaces" -> {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      val start = now - 45L * 86400L * 1000000000L
      s"""WITH e AS (SELECT user_id, 100 + event_id % 460 AS resp_status,
         |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
         |      FROM events WHERE epoch_us(ts) * 1000 >= $start
         |        AND epoch_us(ts) * 1000 < $now),
         |w AS (SELECT *, 'ns' || (user_id % 10 % 3) AS namespace,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        'svc-' || (user_id % 10) AS service FROM e),
         |pc AS (SELECT namespace, count(pod) AS pod_count
         |       FROM (SELECT DISTINCT namespace, pod FROM w) GROUP BY 1),
         |sc AS (SELECT namespace, count(service) AS service_count
         |       FROM (SELECT DISTINCT namespace, service FROM w) GROUP BY 1),
         |io AS (SELECT namespace, CAST(sum(resp_status) AS BIGINT) AS total_bytes,
         |         count(resp_status) AS requests FROM w GROUP BY 1)
         |SELECT pc.namespace, pod_count, service_count, total_bytes, requests
         |FROM pc JOIN sc ON pc.namespace = sc.namespace
         |        JOIN io ON pc.namespace = io.namespace
         |ORDER BY pc.namespace""".stripMargin
    },

    "q69_pxl_mysql_let" -> {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      val start = now - 45L * 86400L * 1000000000L
      val cmdSql = graft.functions.ProtocolOps.mysqlCommandName.sql("req_cmd")
      s"""WITH e AS (SELECT epoch_us(ts) * 1000 AS t, user_id,
         |        event_id % 32 AS req_cmd, event_id % 4 AS resp_code,
         |        value AS latency_ns,
         |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
         |      FROM events WHERE epoch_us(ts) * 1000 >= $start
         |        AND epoch_us(ts) * 1000 < $now AND event_id % 4 <> 1),
         |w AS (SELECT *, 'pod-' || user_id || '-gen' || g AS pod,
         |        $cmdSql AS cmd,
         |        CASE WHEN resp_code = 3 THEN 1 ELSE 0 END AS failure,
         |        t - t % 600000000000 AS ts_bin FROM e)
         |SELECT ts_bin AS "timestamp", pod, cmd, count(req_cmd) AS n,
         |  avg(CAST(failure AS DOUBLE)) AS error_rate,
         |  quantile_cont(latency_ns, 0.50) AS latency_p50
         |FROM w GROUP BY 1, 2, 3 ORDER BY ts_bin, pod, cmd""".stripMargin
    },

    "q71_pxl_pods" -> {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      val start = now - 45L * 86400L * 1000000000L
      s"""WITH e AS (SELECT user_id, 100 + event_id % 460 AS resp_status,
         |        value AS latency,
         |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
         |      FROM events WHERE epoch_us(ts) * 1000 >= $start
         |        AND epoch_us(ts) * 1000 < $now),
         |w AS (SELECT *, 'ns' || (user_id % 10 % 3) AS namespace,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        CASE WHEN resp_status >= 400 THEN 1 ELSE 0 END AS failure FROM e)
         |SELECT namespace, pod, count(resp_status) AS requests,
         |  avg(CAST(failure AS DOUBLE)) AS error_rate, max(latency) AS max_latency
         |FROM w GROUP BY 1, 2 HAVING count(resp_status) > 0
         |ORDER BY namespace, pod""".stripMargin
    },

    "q72_pxl_redis_let" -> {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      val start = now - 45L * 86400L * 1000000000L
      s"""WITH e AS (SELECT epoch_us(ts) * 1000 AS t, user_id,
         |        CASE event_id % 6 WHEN 0 THEN 'GET' WHEN 1 THEN 'SET'
         |          WHEN 2 THEN 'DEL' WHEN 3 THEN 'INCR' WHEN 4 THEN 'EXPIRE'
         |          ELSE 'HGETALL' END AS req_cmd,
         |        value AS latency_ns,
         |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
         |      FROM events WHERE epoch_us(ts) * 1000 >= $start
         |        AND epoch_us(ts) * 1000 < $now),
         |w AS (SELECT *, 'pod-' || user_id || '-gen' || g AS pod,
         |        t - t % 86400000000000 AS ts_bin FROM e)
         |SELECT ts_bin AS "timestamp", pod, req_cmd, count(req_cmd) AS n,
         |  quantile_cont(latency_ns, 0.50) AS latency_p50
         |FROM w GROUP BY 1, 2, 3 ORDER BY ts_bin, pod, req_cmd""".stripMargin
    },

    "q77_pxl_http_data" -> {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      val start = now - 45L * 86400L * 1000000000L
      val respMsg = graft.functions.ProtocolOps.httpRespMessage
        .sql("(100 + event_id % 460)")
      def link(col0: String, flag: String): String =
        s"""CASE WHEN $flag
           |    THEN '{"label":"' || $col0 || '","script":"px/pod","args":{"start_time":"-45d","pod":"' || $col0 || '"}}'
           |    ELSE '{"label":"' || $col0 || '","script":"px/ip","args":{"start_time":"-45d","ip":"' || $col0 || '"}}'
           |  END""".stripMargin
      s"""WITH e AS (SELECT epoch_us(ts) * 1000 AS t, user_id, event_id,
         |        value AS latency,
         |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
         |      FROM events WHERE epoch_us(ts) * 1000 >= $start
         |        AND epoch_us(ts) * 1000 < $now),
         |w AS (SELECT *,
         |        CASE WHEN event_id % 25 = 0 THEN '/healthz'
         |             WHEN event_id % 25 = 1 THEN '/readyz'
         |             ELSE '/api/v1/users/' || user_id END AS req_path,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        event_id % 3 <> 0 AS is_server,
         |        event_id % 5 <> 0 AS is_ra_pod
         |      FROM e),
         |x AS (SELECT *,
         |        CASE WHEN is_ra_pod THEN pod ELSE '-' END AS ra_name,
         |        CASE WHEN is_server THEN is_ra_pod ELSE true END AS is_src_pod,
         |        CASE WHEN is_server THEN true ELSE is_ra_pod END AS is_dst_pod
         |      FROM w),
         |y AS (SELECT *,
         |        CASE WHEN is_server THEN ra_name ELSE pod END AS src0,
         |        CASE WHEN is_server THEN pod ELSE ra_name END AS dst0
         |      FROM x)
         |SELECT t AS time_,
         |  ${link("src0", "is_src_pod")} AS source,
         |  ${link("dst0", "is_dst_pod")} AS destination,
         |  latency,
         |  1 + event_id % 2 AS major_version,
         |  req_path,
         |  CASE event_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
         |       WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS req_method,
         |  CASE WHEN event_id % 2 = 0
         |    THEN '{"host":"svc","traceparent":"00-' ||
         |      md5(CAST(event_id AS VARCHAR)) || '-' ||
         |      substr(md5(CAST(event_id + 1 AS VARCHAR)), 1, 16) || '-01"}'
         |    ELSE '{"host":"svc"}' END AS req_headers,
         |  'req-' || event_id AS req_body,
         |  event_id % 512 AS req_body_size,
         |  100 + event_id % 460 AS resp_status,
         |  $respMsg AS resp_message,
         |  '{}' AS resp_headers,
         |  'resp-' || event_id AS resp_body,
         |  100 + event_id % 1000 AS resp_body_size
         |FROM y ORDER BY time_, req_body""".stripMargin
    },

    "q79_pxl_pid_memory" -> (
      s"""WITH mx AS (SELECT max(epoch_us(ts)) * 1000 + 1000 AS now_ns FROM events),
         |e AS (SELECT epoch_us(ts) * 1000 AS t, user_id, event_id
         |      FROM events, mx WHERE epoch_us(ts) * 1000 >= mx.now_ns - 30000000000
         |        AND epoch_us(ts) * 1000 < mx.now_ns)
         |SELECT event_id AS pid,
         |  '/bin/app --id=' || user_id AS "Process Name",
         |  user_id AS asid,
         |  t - t % 10000000000 AS "timestamp",
         |  CAST((100 + event_id % 900) * 1048576 AS DOUBLE) AS "Virtual Memory",
         |  CAST((50 + event_id % 450) * 1048576 AS DOUBLE) AS "Average Memory"
         |FROM e ORDER BY pid""".stripMargin),

    "q80_pxl_jvm_stats" -> {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      val start = now - 45L * 86400L * 1000000000L
      s"""WITH e AS (SELECT epoch_us(ts) * 1000 AS t, user_id, event_id,
         |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
         |      FROM events WHERE epoch_us(ts) * 1000 >= $start
         |        AND epoch_us(ts) * 1000 < $now),
         |w AS (SELECT *, t - t % 10000000000 AS ts_bin,
         |        'pod-' || user_id || '-gen' || g AS pod FROM e),
         |by_upid AS (SELECT user_id, pod, ts_bin,
         |        max(event_id * 1000000) - min(event_id * 1000000) AS young_gc,
         |        max(event_id * 250000) - min(event_id * 250000) AS full_gc,
         |        avg(CAST((100 + event_id % 400) * 1048576 AS DOUBLE)) AS used_heap,
         |        avg(CAST((600 + user_id % 100) * 1048576 AS DOUBLE)) AS total_heap,
         |        avg(CAST(1073741824 AS DOUBLE)) AS max_heap
         |      FROM w GROUP BY 1, 2, 3)
         |SELECT pod, ts_bin AS "timestamp",
         |  CAST(sum(young_gc) AS BIGINT) AS young_gc_time,
         |  CAST(sum(full_gc) AS BIGINT) AS full_gc_time,
         |  sum(used_heap) AS used_heap_size,
         |  sum(max_heap) AS max_heap_size,
         |  sum(total_heap) AS total_heap_size,
         |  ts_bin AS time_, pod AS k8s
         |FROM by_upid GROUP BY pod, ts_bin ORDER BY ts_bin, pod""".stripMargin
    },

    "q82_pxl_namespaces_lib" -> {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      val start = now - 45L * 86400L * 1000000000L
      s"""WITH e AS (SELECT user_id,
         |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
         |      FROM events WHERE epoch_us(ts) * 1000 >= $start
         |        AND epoch_us(ts) * 1000 < $now),
         |pods AS (SELECT DISTINCT 'ns' || (user_id % 10 % 3) AS namespace,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        'svc-' || (user_id % 10) AS service FROM e),
         |pc AS (SELECT namespace, count(pod) AS pod_count
         |       FROM (SELECT DISTINCT namespace, pod FROM pods) GROUP BY 1),
         |sc AS (SELECT namespace, count(service) AS service_count
         |       FROM (SELECT DISTINCT namespace, service FROM pods) GROUP BY 1)
         |SELECT pc.namespace, pod_count, service_count
         |FROM pc JOIN sc ON pc.namespace = sc.namespace
         |ORDER BY pc.namespace""".stripMargin
    },

    "q83_pxl_ns_process_stats" -> {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      val start = now - 45L * 86400L * 1000000000L
      s"""WITH e AS (SELECT user_id, event_id
         |      FROM events WHERE epoch_us(ts) * 1000 >= $start
         |        AND epoch_us(ts) * 1000 < $now)
         |SELECT 'ns' || (user_id % 10 % 3) AS namespace,
         |  SUM(CAST((100 + event_id % 900) * 1048576 AS DOUBLE)) AS vsize,
         |  SUM(CAST((50 + event_id % 450) * 1048576 AS DOUBLE)) AS rss,
         |  CAST(0 AS DOUBLE) AS actual_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS actual_disk_write_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_write_throughput
         |FROM e GROUP BY 1 ORDER BY namespace""".stripMargin
    },

    "q73_pxl_svc_let" -> {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      val start = now - 45L * 86400L * 1000000000L
      s"""WITH e AS (SELECT epoch_us(ts) * 1000 AS t, user_id,
         |        100 + event_id % 460 AS resp_status, value AS latency,
         |        CASE WHEN event_id % 25 = 0 THEN '/healthz'
         |             WHEN event_id % 25 = 1 THEN '/readyz'
         |             ELSE '/api/v1/users/' || user_id END AS req_path,
         |        CASE WHEN event_id % 5 = 0 THEN '-' ELSE
         |          '10.' || (CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 10 ELSE 11 END)
         |          || '.' || (user_id % 250) || '.' || (1 + user_id // 250) END AS remote_addr,
         |        100 + event_id % 1000 AS resp_body_size
         |      FROM events WHERE epoch_us(ts) * 1000 >= $start
         |        AND epoch_us(ts) * 1000 < $now),
         |f AS (SELECT *, 'svc-' || (user_id % 10) AS service,
         |        t - t % 10000000000 AS ts_bin,
         |        CASE WHEN resp_status >= 400 THEN 1 ELSE 0 END AS failure
         |      FROM e WHERE req_path <> '/healthz' AND req_path <> '/readyz'
         |        AND remote_addr <> '-'),
         |m AS (SELECT * FROM f WHERE contains(service, 'svc-1')),
         |a AS (SELECT service, ts_bin,
         |        quantile_cont(latency, 0.50) AS p50d,
         |        quantile_cont(latency, 0.90) AS p90d,
         |        quantile_cont(latency, 0.99) AS p99d,
         |        avg(CAST(failure AS DOUBLE)) AS erw,
         |        count(latency) AS tput,
         |        CAST(sum(resp_body_size) AS BIGINT) AS bytes_total
         |      FROM m GROUP BY 1, 2)
         |SELECT ts_bin AS time_, service AS k8s,
         |  CAST(floor(p50d) AS BIGINT) AS latency_p50,
         |  CAST(floor(p90d) AS BIGINT) AS latency_p90,
         |  CAST(floor(p99d) AS BIGINT) AS latency_p99,
         |  erw * (tput / 10000000000) / 1 AS error_rate,
         |  tput / 10000000000 AS request_throughput,
         |  bytes_total / 10000000000 AS bytes_throughput
         |FROM a ORDER BY time_, k8s""".stripMargin
    },

    "q74_pxl_http_code_hist" -> {
      val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
      val start = now - 45L * 86400L * 1000000000L
      s"""WITH e AS (SELECT epoch_us(ts) * 1000 AS t, user_id,
         |        100 + event_id % 460 AS resp_status, value AS latency,
         |        CASE WHEN event_id % 25 = 0 THEN '/healthz'
         |             WHEN event_id % 25 = 1 THEN '/readyz'
         |             ELSE '/api/v1/users/' || user_id END AS req_path,
         |        CASE WHEN event_id % 5 = 0 THEN '-' ELSE '10.x' END AS remote_addr
         |      FROM events WHERE epoch_us(ts) * 1000 >= $start
         |        AND epoch_us(ts) * 1000 < $now),
         |f AS (SELECT * FROM e
         |      WHERE req_path <> '/healthz' AND req_path <> '/readyz'
         |        AND remote_addr <> '-' AND contains('svc-' || (user_id % 10), 'svc-3'))
         |SELECT resp_status, count(latency) AS "count"
         |FROM f GROUP BY 1 ORDER BY resp_status""".stripMargin
    },

    "q66_pxl_service_stats" -> {
      val start = graft.functions.PixieFunctions.tsNsLit("2024-02-01") -
        45L * 86400L * 1000000000L
      s"""WITH e AS (SELECT epoch_us(ts) * 1000 AS t, user_id,
         |        100 + event_id % 460 AS resp_status, value AS latency
         |      FROM events WHERE epoch_us(ts) * 1000 >= $start),
         |w AS (SELECT *, 'svc-' || (user_id % 10) AS service,
         |        CASE WHEN resp_status >= 400 THEN 1 ELSE 0 END AS failure,
         |        t - t % 3600000000000 AS range_group FROM e),
         |pw AS (SELECT service, range_group, count(resp_status) AS n
         |       FROM w GROUP BY 1, 2),
         |ps AS (SELECT service, count(n) AS windows,
         |         avg(CAST(n AS DOUBLE)) AS avg_per_window FROM pw GROUP BY 1),
         |er AS (SELECT service, avg(CAST(failure AS DOUBLE)) AS err_rate,
         |         count(resp_status) AS total, max(latency) AS max_latency
         |       FROM w GROUP BY 1)
         |SELECT ps.service, windows, avg_per_window, err_rate, total,
         |  max_latency, CAST(total AS DOUBLE) / windows AS req_per_hour
         |FROM ps JOIN er ON ps.service = er.service
         |WHERE total > 0 ORDER BY ps.service""".stripMargin
    }
  )
}
