package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._

/** Round-5 verbatim-script tranche 2: the node/namespace/service
  * drill-down family (nodes.pxl, node.pxl via the real pxviews module,
  * namespace.pxl, services.pxl), slow_http_requests, and the external
  * connection lists (inbound_conns/outbound_conns) — each executed
  * UNMODIFIED from the reference checkout through the PxL runner and
  * hash-checked against a DuckDB oracle.
  *
  * Scale notes: every function here is scan -> broadcast ctx joins ->
  * keyed aggregation (at most two levels, each keyed by its group-by
  * columns); the conns scripts roll counters up per (pod, upid, peer)
  * then consolidate per (pod, peer) — both shuffles carry only group
  * keys. slow_http_requests joins a per-service p99 (tiny, broadcast)
  * back onto the row stream.
  */
object Pxl5 {

  import Pxl.{RefPx, readRef}

  val NodesPath = s"$RefPx/nodes/nodes.pxl"
  val NodePath = s"$RefPx/node/node.pxl"
  val NamespacePath = s"$RefPx/namespace/namespace.pxl"
  val ServicesPath = s"$RefPx/services/services.pxl"
  val SlowRequestsPath = s"$RefPx/slow_http_requests/slow_http_requests.pxl"
  val InboundConnsPath = s"$RefPx/inbound_conns/data.pxl"
  val OutboundConnsPath = s"$RefPx/outbound_conns/data.pxl"

  private val nowNs = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
  private val startNs = nowNs - 45L * 86400L * 1000000000L
  private val splitNs = graft.functions.PixieFunctions.tsNsLit("2024-01-15")

  /** Float-ulp canonicalization (Pxl4.canonThroughput convention) for
    * sums/means of per-window counter-delta rates: integer-valued after
    * rescaling by window_ns, so rounding there recovers a cross-engine
    * exact double.
    */
  private def canonRate(name: String): Column =
    round(col(name) * 1e10, 6) / 1e10

  private def canonRates(df: org.apache.spark.sql.DataFrame,
                         names: String*): org.apache.spark.sql.DataFrame =
    names.foldLeft(df)((d, n) => d.withColumn(n, canonRate(n)))

  val queries: Map[String, QFn] = Map(
    // nodes.pxl: the per-node cluster overview.
    "q136_pxl_nodes_list" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(NodesPath), Pxl.env(s, dir, nowNs),
          "nodes", Seq("-45d"))
        .orderBy("node")),

    "q137_pxl_nodes_pods" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(NodesPath), Pxl.env(s, dir, nowNs),
          "pods_by_node", Seq("-45d"))
        .orderBy("node", "pod")),

    "q138_pxl_nodes_process" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(NodesPath), Pxl.env(s, dir, nowNs),
          "process_stats", Seq("-45d"))
        .orderBy("node", "time_")),

    "q139_pxl_nodes_network" -> ((s, dir) =>
      canonRates(
        PxlRunner.runFunction(readRef(NodesPath), Pxl.env(s, dir, nowNs),
          "network_stats", Seq("-45d")),
        "rx_bytes_per_ns", "tx_bytes_per_ns", "rx_drop_per_ns",
        "tx_drops_per_ns", "rx_errors_per_ns", "tx_errors_per_ns")
        .orderBy("node", "time_")),

    // node.pxl: the single-node drill-down, through the REAL pxviews
    // helper library.
    "q140_pxl_node_pods" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(NodePath), Pxl.env(s, dir, nowNs),
          "pods_for_node", Seq("-45d", "node-2"))
        .orderBy("pod")),

    "q141_pxl_node_resource" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(NodePath), Pxl.env(s, dir, nowNs),
          "resource_timeseries", Seq("-45d", "node-2", "pod"))
        .orderBy("time_", "pod")),

    "q142_pxl_node_network" -> ((s, dir) =>
      canonRates(
        PxlRunner.runFunction(readRef(NodePath), Pxl.env(s, dir, nowNs),
          "network_stats", Seq("-45d", "node-2", "pod")),
        "rx_bytes_per_ns", "tx_bytes_per_ns", "rx_drops_per_ns",
        "tx_drops_per_ns", "rx_errors_per_ns", "tx_errors_per_ns")
        .orderBy("time_", "groupby_col")),

    // node.pxl stacktraces: pxviews.stacktraces profile merge +
    // percent-of-node (num_cpus-scaled).
    "q143_pxl_node_flamegraph" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(NodePath), Pxl.env(s, dir, nowNs),
          "stacktraces", Seq("-45d", "host-local"))
        .orderBy("pod", "stack_trace_id")),

    // namespace.pxl.
    "q144_pxl_ns_pods" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(NamespacePath), Pxl.env(s, dir, nowNs),
          "pods_for_namespace", Seq("-45d", "ns1"))
        .orderBy("pod")),

    // services_for_namespace embeds inbound_service_let_summary, whose
    // http_latency column is the RAW quantiles JSON and whose throughput
    // columns are means of per-window divisions. Canonicalized for the
    // hash (q120 convention): the JSON's double rendering and the mean's
    // last-ulp are engine-specific — pluck the percentiles to typed
    // doubles and round the means; values remain fully checked.
    "q145_pxl_ns_services" -> ((s, dir) =>
      canonRates(
        PxlRunner.runFunction(readRef(NamespacePath), Pxl.env(s, dir, nowNs),
          "services_for_namespace", Seq("-45d", "ns1"))
        .withColumn("latency_p50",
          get_json_object(col("http_latency"), "$.p50").cast("double"))
        .withColumn("latency_p99",
          get_json_object(col("http_latency"), "$.p99").cast("double"))
        .drop("http_latency"),
        "http_request_throughput", "inbound_http_throughput",
        "outbound_http_throughput")
        .orderBy("service")),

    "q146_pxl_ns_let_summary" -> ((s, dir) =>
      canonRates(
        PxlRunner.runFunction(readRef(NamespacePath), Pxl.env(s, dir, nowNs),
          "inbound_service_let_summary", Seq("-45d", "ns1"))
        .withColumn("latency_p50",
          get_json_object(col("http_latency"), "$.p50").cast("double"))
        .withColumn("latency_p99",
          get_json_object(col("http_latency"), "$.p99").cast("double"))
        .drop("http_latency"),
        "http_request_throughput", "inbound_http_throughput",
        "outbound_http_throughput")
        .orderBy("service")),

    // services.pxl.
    "q147_pxl_services_list" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(ServicesPath), Pxl.env(s, dir, nowNs),
          "services", Seq("-45d", "ns1"))
        .orderBy("service")),

    "q148_pxl_services_let" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(ServicesPath), Pxl.env(s, dir, nowNs),
          "inbound_service_let", Seq("-45d", "ns1"))
        .orderBy("time_", "service")),

    // slow_http_requests: the fixture's latencies never exceed the
    // script's 100ms floor, so this gates the 0-row schema round-trip of
    // the whole ctx/source-dest/p99-self-join chain (q78/q119 convention).
    "q149_pxl_slow_requests" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(SlowRequestsPath), Pxl.env(s, dir, nowNs),
          "namespace_slow_requests", Seq("-45d", "ns1"))
        .orderBy("time_")),

    // inbound/outbound_conns: conn_stats counter deltas for peers that
    // resolve to no known pod/service.
    "q150_pxl_inbound_conns" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(InboundConnsPath), Pxl.env(s, dir, nowNs),
          "inbound_conns", Seq("-45d", ""))
        .orderBy("pod", "remote_addr")),

    "q151_pxl_outbound_conns" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(OutboundConnsPath), Pxl.env(s, dir, nowNs),
          "outbound_conns", Seq("-45d", ""))
        .orderBy("pod", "remote_addr", "remote_port"))
  )

  // ---- oracles -------------------------------------------------------

  private def eventsCte: String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs)""".stripMargin

  private val podStatusSql =
    """CASE user_id % 4 WHEN 0 THEN 'Running' WHEN 1 THEN 'Pending'
      |     WHEN 2 THEN 'Succeeded' ELSE 'Failed' END""".stripMargin

  /** DuckDB side of [[canonRate]]. */
  private def canonSql(x: String): String =
    s"round(($x) * 10000000000, 6) / 10000000000"

  /** The http LET helper window (namespace/services/slow_http family):
    * ns-filtered server+client rows minus health/ready/unresolved.
    */
  private def httpHelperCte(nsIdx: Int): String =
    s"""h AS (SELECT t, value AS latency, user_id, event_id, g,
       |        t - t % 10000000000 AS ts_bin,
       |        'svc-' || (user_id % 10) AS service,
       |        'pod-' || user_id || '-gen' || g AS pod,
       |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END
       |          AS failure,
       |        event_id % 25 AS pathmod,
       |        100 + event_id % 512 AS noop_unused,
       |        event_id % 512 AS req_body_size0,
       |        100 + event_id % 1000 AS resp_body_size
       |      FROM e
       |      WHERE user_id % 10 % 3 = $nsIdx
       |        AND event_id % 25 <> 0 AND event_id % 25 <> 1
       |        AND event_id % 5 <> 0)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q136_pxl_nodes_list" ->
      s"""WITH $eventsCte
         |SELECT DISTINCT 'node-' || (user_id % 5) AS node FROM e
         |ORDER BY node""".stripMargin,

    "q137_pxl_nodes_pods" ->
      s"""WITH $eventsCte,
         |w AS (SELECT DISTINCT 'node-' || (user_id % 5) AS node,
         |        'pod-' || user_id || '-gen' || g AS pod, user_id, g FROM e)
         |SELECT node, pod,
         |  CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS pod_create_time,
         |  $podStatusSql AS pod_status
         |FROM w ORDER BY node, pod""".stripMargin,

    // process_stats groups by per-event upids first, so every counter
    // delta collapses to 0 and rss/vsize carry the real sums (q85/q91
    // convention on this fixture).
    "q138_pxl_nodes_process" ->
      s"""WITH $eventsCte,
         |w AS (SELECT t - t % 10000000000 AS ts_bin,
         |        'node-' || (user_id % 5) AS node,
         |        (50 + event_id % 450) * 1048576 AS rss_b,
         |        (100 + event_id % 900) * 1048576 AS vsize_b
         |      FROM e)
         |SELECT node,
         |  CAST(0 AS DOUBLE) AS actual_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS actual_disk_write_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_write_throughput,
         |  sum(CAST(rss_b AS DOUBLE)) AS rss,
         |  sum(CAST(vsize_b AS DOUBLE)) AS vsize,
         |  CAST(0 AS DOUBLE) AS cpu_usage,
         |  ts_bin AS time_
         |FROM w GROUP BY node, ts_bin ORDER BY node, time_""".stripMargin,

    "q139_pxl_nodes_network" ->
      s"""WITH $eventsCte,
         |p AS (SELECT 'node-' || (user_id % 5) AS node,
         |        'pid-' || user_id || '-g' || g AS pod_id,
         |        t - t % 10000000000 AS ts_bin,
         |        (max(us) - min(us)) / 10000000000 AS rxb,
         |        (max(us // 2) - min(us // 2)) / 10000000000 AS txb,
         |        (max(us // 3000) - min(us // 3000)) / 10000000000 AS rxd,
         |        (max(us // 2000) - min(us // 2000)) / 10000000000 AS txd,
         |        (max(us // 1500) - min(us // 1500)) / 10000000000 AS rxe,
         |        (max(us // 1000) - min(us // 1000)) / 10000000000 AS txe
         |      FROM e GROUP BY 1, 2, 3)
         |SELECT node, ts_bin AS "timestamp",
         |  ${canonSql("sum(rxb)")} AS rx_bytes_per_ns,
         |  ${canonSql("sum(txb)")} AS tx_bytes_per_ns,
         |  ${canonSql("sum(rxd)")} AS rx_drop_per_ns,
         |  ${canonSql("sum(txd)")} AS tx_drops_per_ns,
         |  ${canonSql("sum(rxe)")} AS rx_errors_per_ns,
         |  ${canonSql("sum(txe)")} AS tx_errors_per_ns,
         |  ts_bin AS time_
         |FROM p GROUP BY node, ts_bin ORDER BY node, time_""".stripMargin,

    "q140_pxl_node_pods" ->
      s"""WITH $eventsCte,
         |w AS (SELECT DISTINCT 'pod-' || user_id || '-gen' || g AS pod,
         |        user_id, g FROM e WHERE user_id % 5 = 2)
         |SELECT pod,
         |  CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS start_time,
         |  CAST(1 AS BIGINT) AS containers, $podStatusSql AS status
         |FROM w ORDER BY pod""".stripMargin,

    "q141_pxl_node_resource" ->
      s"""WITH $eventsCte,
         |w AS (SELECT t - t % 10000000000 AS ts_bin,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        (50 + event_id % 450) * 1048576 AS rss_b,
         |        (100 + event_id % 900) * 1048576 AS vsize_b
         |      FROM e WHERE user_id % 5 = 2)
         |SELECT ts_bin AS time_, pod,
         |  CAST(0 AS DOUBLE) AS cpu_usage,
         |  CAST(0 AS DOUBLE) AS actual_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS actual_disk_write_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_read_throughput,
         |  CAST(0 AS DOUBLE) AS total_disk_write_throughput,
         |  sum(CAST(rss_b AS DOUBLE)) AS rss,
         |  sum(CAST(vsize_b AS DOUBLE)) AS vsize,
         |  pod AS groupby_col
         |FROM w GROUP BY ts_bin, pod ORDER BY time_, pod""".stripMargin,

    "q142_pxl_node_network" ->
      s"""WITH $eventsCte,
         |p AS (SELECT 'pid-' || user_id || '-g' || g AS pod_id,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        t - t % 10000000000 AS ts_bin,
         |        (max(us) - min(us)) / 10000000000 AS rxb,
         |        (max(us // 2) - min(us // 2)) / 10000000000 AS txb,
         |        (max(us // 3000) - min(us // 3000)) / 10000000000 AS rxd,
         |        (max(us // 2000) - min(us // 2000)) / 10000000000 AS txd,
         |        (max(us // 1500) - min(us // 1500)) / 10000000000 AS rxe,
         |        (max(us // 1000) - min(us // 1000)) / 10000000000 AS txe
         |      FROM e WHERE user_id % 5 = 2 GROUP BY 1, 2, 3)
         |SELECT ts_bin AS time_, pod AS groupby_col,
         |  ${canonSql("sum(rxb)")} AS rx_bytes_per_ns,
         |  ${canonSql("sum(txb)")} AS tx_bytes_per_ns,
         |  ${canonSql("sum(rxd)")} AS rx_drops_per_ns,
         |  ${canonSql("sum(txd)")} AS tx_drops_per_ns,
         |  ${canonSql("sum(rxe)")} AS rx_errors_per_ns,
         |  ${canonSql("sum(txe)")} AS tx_errors_per_ns
         |FROM p GROUP BY ts_bin, pod ORDER BY time_, groupby_col""".stripMargin,

    "q143_pxl_node_flamegraph" ->
      s"""WITH $eventsCte,
         |s AS (SELECT 'ns' || (user_id % 10 % 3) AS namespace,
         |        'svc-' || (user_id % 10) AS service,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        'ctr-' || user_id || '-g' || g AS container,
         |        '/bin/app --id=' || user_id AS cmdline,
         |        event_id % 20 AS stack_trace_id,
         |        'app;frame_' || (event_id % 20) || ';leaf_'
         |          || (event_id % 20 % 5) AS stack_trace,
         |        1 + event_id % 7 AS cnt, t
         |      FROM e),
         |g1 AS (SELECT namespace, 'host-local' AS node, service, pod,
         |         container, cmdline,
         |         any_value(stack_trace) AS stack_trace,
         |         max(t) AS time_, stack_trace_id,
         |         CAST(sum(cnt) AS BIGINT) AS "count",
         |         CAST(32 AS BIGINT) AS node_num_cpus
         |       FROM s GROUP BY namespace, service, pod, container, cmdline,
         |         stack_trace_id),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS node_count_sum FROM s)
         |SELECT g1.*, 'host-local' AS node_x, node_count_sum,
         |  100.0 * "count" * node_num_cpus / node_count_sum AS percent
         |FROM g1, tot ORDER BY pod, stack_trace_id""".stripMargin,

    "q144_pxl_ns_pods" ->
      s"""WITH $eventsCte,
         |w AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        user_id, g,
         |        (50 + event_id % 450) * 1048576 AS rss_b,
         |        (100 + event_id % 900) * 1048576 AS vsize_b
         |      FROM e WHERE user_id % 10 % 3 = 1)
         |SELECT pod, avg(CAST(rss_b AS DOUBLE)) AS rss,
         |  avg(CAST(vsize_b AS DOUBLE)) AS vsize,
         |  CASE WHEN any_value(g) = 0 THEN 0 ELSE $splitNs END AS create_time,
         |  CASE any_value(user_id) % 4 WHEN 0 THEN 'Running'
         |       WHEN 1 THEN 'Pending' WHEN 2 THEN 'Succeeded'
         |       ELSE 'Failed' END AS status
         |FROM w GROUP BY pod ORDER BY pod""".stripMargin,

    "q145_pxl_ns_services" ->
      s"""WITH $eventsCte,
         |${httpHelperCte(1)},
         |pods AS (SELECT DISTINCT 'svc-' || (user_id % 10) AS service,
         |           'pod-' || user_id || '-gen' || g AS pod
         |         FROM e WHERE user_id % 10 % 3 = 1),
         |pc AS (SELECT service, count(pod) AS pod_count FROM pods GROUP BY 1),
         |srv AS (SELECT * FROM h WHERE event_id % 3 <> 0),
         |pw AS (SELECT ts_bin, service, count(latency) AS tput,
         |         CAST(sum(req_body_size0) AS BIGINT) AS inb,
         |         CAST(sum(resp_body_size) AS BIGINT) AS outb
         |       FROM srv GROUP BY 1, 2),
         |rates AS (SELECT service,
         |    ${canonSql("avg(tput / 10000000000)")} AS http_request_throughput,
         |    ${canonSql("avg(inb / 10000000000)")} AS inbound_http_throughput,
         |    ${canonSql("avg(outb / 10000000000)")} AS outbound_http_throughput
         |  FROM pw GROUP BY 1),
         |q AS (SELECT service,
         |        quantile_cont(latency, 0.50) AS latency_p50,
         |        quantile_cont(latency, 0.99) AS latency_p99,
         |        avg(CAST(failure AS DOUBLE)) AS http_error_rate
         |      FROM srv GROUP BY 1)
         |SELECT pc.service, pod_count,
         |  http_request_throughput, http_error_rate,
         |  inbound_http_throughput, outbound_http_throughput,
         |  latency_p50, latency_p99
         |FROM pc LEFT JOIN rates ON pc.service = rates.service
         |  LEFT JOIN q ON pc.service = q.service
         |ORDER BY pc.service""".stripMargin,

    "q146_pxl_ns_let_summary" ->
      s"""WITH $eventsCte,
         |${httpHelperCte(1)},
         |srv AS (SELECT * FROM h WHERE event_id % 3 <> 0),
         |pw AS (SELECT ts_bin, service, count(latency) AS tput,
         |         CAST(sum(req_body_size0) AS BIGINT) AS inb,
         |         CAST(sum(resp_body_size) AS BIGINT) AS outb
         |       FROM srv GROUP BY 1, 2),
         |rates AS (SELECT service,
         |    ${canonSql("avg(tput / 10000000000)")} AS http_request_throughput,
         |    ${canonSql("avg(inb / 10000000000)")} AS inbound_http_throughput,
         |    ${canonSql("avg(outb / 10000000000)")} AS outbound_http_throughput
         |  FROM pw GROUP BY 1),
         |q AS (SELECT service,
         |        quantile_cont(latency, 0.50) AS latency_p50,
         |        quantile_cont(latency, 0.99) AS latency_p99,
         |        avg(CAST(failure AS DOUBLE)) AS http_error_rate
         |      FROM srv GROUP BY 1)
         |SELECT rates.service, http_request_throughput, http_error_rate,
         |  inbound_http_throughput, outbound_http_throughput,
         |  latency_p50, latency_p99
         |FROM rates JOIN q ON rates.service = q.service
         |ORDER BY rates.service""".stripMargin,

    "q147_pxl_services_list" ->
      s"""WITH $eventsCte,
         |pods AS (SELECT DISTINCT 'svc-' || (user_id % 10) AS service,
         |           'pod-' || user_id || '-gen' || g AS pod
         |         FROM e WHERE user_id % 10 % 3 = 1)
         |SELECT service, count(pod) AS pod_count
         |FROM pods GROUP BY 1 ORDER BY service""".stripMargin,

    "q148_pxl_services_let" ->
      s"""WITH $eventsCte,
         |${httpHelperCte(1)},
         |srv AS (SELECT * FROM h WHERE event_id % 3 <> 0)
         |SELECT ts_bin AS time_, service,
         |  CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS latency_p50,
         |  CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS latency_p90,
         |  CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS latency_p99,
         |  count(latency) / 10000000000 AS request_throughput,
         |  avg(CAST(failure AS DOUBLE)) AS error_rate,
         |  CAST(sum(req_body_size0) AS BIGINT) / 10000000000
         |    AS inbound_throughput,
         |  CAST(sum(resp_body_size) AS BIGINT) / 10000000000
         |    AS outbound_throughput
         |FROM srv GROUP BY 1, 2 ORDER BY time_, service""".stripMargin,

    "q149_pxl_slow_requests" ->
      """SELECT CAST(0 AS BIGINT) AS time_, '' AS source, '' AS destination,
        |  CAST(0 AS BIGINT) AS remote_port, CAST(0 AS DOUBLE) AS latency,
        |  '' AS req_method, '' AS req_path, CAST(0 AS BIGINT) AS resp_status,
        |  '' AS resp_body
        |WHERE false""".stripMargin,

    "q150_pxl_inbound_conns" ->
      s"""WITH $eventsCte,
         |w AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        '10.9.' || (user_id % 50) || '.7' AS remote_addr,
         |        max(us // 1000) - min(us // 1000) AS conn_open,
         |        max(us) - min(us) AS bytes_sent,
         |        max(us // 3) - min(us // 3) AS bytes_recv,
         |        max(t) AS last_activity_time
         |      FROM e WHERE event_id % 2 = 1 GROUP BY user_id, g)
         |SELECT pod, remote_addr, CAST(sum(conn_open) AS BIGINT) AS conn_open,
         |  CAST(sum(bytes_sent) AS BIGINT) AS bytes_sent,
         |  CAST(sum(bytes_recv) AS BIGINT) AS bytes_recv,
         |  max(last_activity_time) AS last_activity_time
         |FROM w GROUP BY pod, remote_addr
         |ORDER BY pod, remote_addr""".stripMargin,

    "q151_pxl_outbound_conns" ->
      s"""WITH $eventsCte,
         |w AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        '10.9.' || (user_id % 50) || '.7' AS remote_addr,
         |        3000 + user_id % 7 AS remote_port,
         |        max(us // 1000) - min(us // 1000) AS conn_open,
         |        max(us) - min(us) AS bytes_sent,
         |        max(us // 3) - min(us // 3) AS bytes_recv,
         |        max(t) AS last_activity_time
         |      FROM e WHERE event_id % 2 = 0 GROUP BY user_id, g)
         |SELECT pod, remote_addr, remote_port,
         |  CAST(sum(conn_open) AS BIGINT) AS conn_open,
         |  CAST(sum(bytes_sent) AS BIGINT) AS bytes_sent,
         |  CAST(sum(bytes_recv) AS BIGINT) AS bytes_recv,
         |  max(last_activity_time) AS last_activity_time
         |FROM w GROUP BY pod, remote_addr, remote_port
         |ORDER BY pod, remote_addr, remote_port""".stripMargin
  )
}
