package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._

/** Round-6 verbatim-widget tranche 6 — the pxviews graph family:
  * services.pxl's inbound summary + service graph, namespace.pxl's
  * identical graph, cluster.pxl's services_for_cluster overview and
  * whole-cluster service_let_graph (pxviews.http_graph +
  * connection_throughput_stats + inbound_http_summary), and
  * collect_agent_heaps' pprof merge — the last spec-only script row
  * becomes oracle-gated.
  *
  * Scale notes: http_graph aggregates (pod, remote, role) once and
  * every metadata resolution afterwards is a broadcast join on the
  * already-aggregated (small) frame; conn-stats deltas are two stacked
  * keyed aggregations of one scan (partial agg before each shuffle);
  * the cluster overview joins per-service aggregates — broadcast-sized
  * build sides by construction.
  */
object Pxl15 {

  import Pxl.{RefPx, readRef}

  val ServicesPath = s"$RefPx/services/services.pxl"
  val NamespacePath = s"$RefPx/namespace/namespace.pxl"
  val ClusterPath = s"$RefPx/cluster/cluster.pxl"
  val HeapsPath = s"$RefPx/collect_agent_heaps/collect_agent_heaps.pxl"

  private val nowNs = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
  private val startNs = nowNs - 45L * 86400L * 1000000000L
  private val splitNs = graft.functions.PixieFunctions.tsNsLit("2024-01-15")
  private val windowNs = 45L * 86400L * 1000000000L

  private def canon(c: String) = round(col(c) * 1e10, 9) / 1e10

  val queries: Map[String, QFn] = Map(
    // services.pxl inbound_let_summary: requesting-entity rollup with
    // window-mean throughputs (canon) and a single-agg error rate.
    "q222_pxl_services_inbound_summary" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(ServicesPath), Pxl.env(s, dir, nowNs),
          "inbound_let_summary", Seq("-45d", "ns1"))
        .withColumn("latency_p50",
          get_json_object(col("latency"), "$.p50").cast("double"))
        .withColumn("latency_p99",
          get_json_object(col("latency"), "$.p99").cast("double"))
        .drop("latency")
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("inbound_throughput", canon("inbound_throughput"))
        .withColumn("outbound_throughput", canon("outbound_throughput"))
        .orderBy("requesting_ip", "responder")),

    // services.pxl inbound_let_service_graph: both trace roles windowed
    // per (svc, remote, pod, role), collapsed to pod-pair edges.
    "q223_pxl_services_let_graph" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(ServicesPath), Pxl.env(s, dir, nowNs),
          "inbound_let_service_graph", Seq("-45d", "ns1"))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("inbound_throughput", canon("inbound_throughput"))
        .withColumn("outbound_throughput", canon("outbound_throughput"))
        .withColumn("error_rate", round(col("error_rate"), 6))
        .orderBy("responder_pod", "requestor_pod")),

    // namespace.pxl inbound_service_let_graph: same body, same oracle.
    "q224_pxl_namespace_let_graph" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(NamespacePath), Pxl.env(s, dir, nowNs),
          "inbound_service_let_graph", Seq("-45d", "ns1"))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("inbound_throughput", canon("inbound_throughput"))
        .withColumn("outbound_throughput", canon("outbound_throughput"))
        .withColumn("error_rate", round(col("error_rate"), 6))
        .orderBy("responder_pod", "requestor_pod")),

    // cluster.pxl services_for_cluster: pod counts + conn-stats rates +
    // inbound http stats per service. http_latency_in is a px.any pick
    // across (pod, requestor) quantile sketches — arbitrary by contract
    // (collections.h:79-96), so the gate drops that one column.
    "q225_pxl_cluster_services" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(ClusterPath), Pxl.env(s, dir, nowNs),
          "services_for_cluster", Seq("-45d"))
        .drop("http_latency_in")
        .orderBy("service")),

    // cluster.pxl service_let_graph: pxviews.http_graph edges with
    // whole-window rates (single divisions — exact).
    "q226_pxl_cluster_let_graph" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(ClusterPath), Pxl.env(s, dir, nowNs),
          "service_let_graph", Seq("-45d"))
        .orderBy("responder_pod", "requestor_pod")),

    // collect_agent_heaps collect_pprofs: agent catalog × heap-growth
    // stacks, the agent ip resolved to its node through ip->pod->node.
    "q227_pxl_collect_pprofs" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(HeapsPath), Pxl.env(s, dir, nowNs),
          "collect_pprofs", Seq("1"))
        .orderBy("heap"))
  )

  // ---- oracles -------------------------------------------------------

  private def eventsCte: String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs)""".stripMargin

  /** The ns1 helper rows: resolved, non-health, BOTH trace roles. */
  private val ns1HelperCte =
    s"""f AS (SELECT t, t - t % 10000000000 AS ts_bin, value AS latency,
       |        event_id, event_id % 3 <> 0 AS tr2,
       |        'pod-' || user_id || '-gen' || g AS pod,
       |        '10.' || (10 + g) || '.' || (user_id % 250) || '.' ||
       |          (1 + user_id // 250) AS ip,
       |        'svc-' || (user_id % 10) AS svc,
       |        event_id % 512 AS req_sz, 100 + event_id % 1000 AS resp_sz,
       |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END
       |          AS failure
       |      FROM e WHERE user_id % 10 % 3 = 1
       |        AND event_id % 25 <> 0 AND event_id % 25 <> 1
       |        AND event_id % 5 <> 0)""".stripMargin

  /** services/namespace let-graph: windows keyed (svc, ip, pod, role),
    * collapsed to the per-incarnation self edge.
    */
  private val letGraphOracle =
    s"""WITH $eventsCte,
       |$ns1HelperCte,
       |q AS (SELECT ts_bin, pod, ip, svc, tr2,
       |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
       |        CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS p90,
       |        CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS p99,
       |        avg(CAST(failure AS DOUBLE)) AS erw,
       |        count(latency) AS tt,
       |        CAST(sum(req_sz) AS BIGINT) AS ib,
       |        CAST(sum(resp_sz) AS BIGINT) AS ob
       |      FROM f GROUP BY 1, 2, 3, 4, 5)
       |SELECT pod AS responder_pod, pod AS requestor_pod,
       |  svc AS responder_service, svc AS requestor_service,
       |  ip AS responder_ip, ip AS requestor_ip,
       |  avg(p50) AS latency_p50, avg(p90) AS latency_p90,
       |  avg(p99) AS latency_p99,
       |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
       |    AS request_throughput,
       |  round(avg(erw), 6) AS error_rate,
       |  round(avg(ib / 10000000000) * 10000000000, 9) / 10000000000
       |    AS inbound_throughput,
       |  round(avg(ob / 10000000000) * 10000000000, 9) / 10000000000
       |    AS outbound_throughput,
       |  CAST(sum(tt) AS BIGINT) AS throughput_total
       |FROM q GROUP BY pod, svc, ip
       |ORDER BY responder_pod, requestor_pod""".stripMargin

  val oracles: Map[String, String] = Map(
    "q222_pxl_services_inbound_summary" ->
      s"""WITH $eventsCte,
         |$ns1HelperCte,
         |srv AS (SELECT * FROM f WHERE tr2),
         |w AS (SELECT ts_bin, ip, pod, svc, count(*) AS tt,
         |        CAST(sum(req_sz) AS BIGINT) AS ib,
         |        CAST(sum(resp_sz) AS BIGINT) AS ob
         |      FROM srv GROUP BY 1, 2, 3, 4),
         |rates AS (SELECT ip, pod, svc,
         |            round(avg(tt / 10000000000) * 10000000000, 9)
         |              / 10000000000 AS request_throughput,
         |            round(avg(ib / 10000000000) * 10000000000, 9)
         |              / 10000000000 AS inbound_throughput,
         |            round(avg(ob / 10000000000) * 10000000000, 9)
         |              / 10000000000 AS outbound_throughput
         |          FROM w GROUP BY 1, 2, 3),
         |qx AS (SELECT ip, pod, svc,
         |         avg(CAST(failure AS DOUBLE)) AS error_rate,
         |         quantile_cont(latency, 0.50) AS latency_p50,
         |         quantile_cont(latency, 0.99) AS latency_p99
         |       FROM srv GROUP BY 1, 2, 3)
         |SELECT rates.ip AS requesting_ip, rates.pod AS requesting_pod,
         |  rates.svc AS requesting_svc, rates.svc AS responder,
         |  rates.request_throughput, qx.error_rate,
         |  rates.inbound_throughput, rates.outbound_throughput,
         |  qx.latency_p50, qx.latency_p99
         |FROM rates JOIN qx ON rates.ip = qx.ip AND rates.pod = qx.pod
         |  AND rates.svc = qx.svc
         |ORDER BY requesting_ip, responder""".stripMargin,

    "q223_pxl_services_let_graph" -> letGraphOracle,
    "q224_pxl_namespace_let_graph" -> letGraphOracle,

    "q225_pxl_cluster_services" ->
      s"""WITH $eventsCte,
         |pods AS (SELECT DISTINCT 'svc-' || (user_id % 10) AS service,
         |           'pod-' || user_id || '-gen' || g AS pod
         |         FROM e),
         |pc AS (SELECT service, count(pod) AS pod_count
         |       FROM pods GROUP BY 1),
         |conn AS (SELECT user_id, g, event_id % 2 AS sgrp,
         |           event_id % 5 AS proto,
         |           max(us) - min(us) AS bs,
         |           max(us // 3) - min(us // 3) AS br
         |         FROM e GROUP BY 1, 2, 3, 4),
         |svcconn AS (SELECT 'svc-' || (user_id % 10) AS service,
         |              CAST(sum(CASE WHEN sgrp = 1 THEN br + bs ELSE 0 END)
         |                AS BIGINT) AS inb,
         |              CAST(sum(CASE WHEN sgrp = 0 THEN bs + br ELSE 0 END)
         |                AS BIGINT) AS outb
         |            FROM conn GROUP BY 1),
         |hs AS (SELECT 'svc-' || (user_id % 10) AS service,
         |         count(*) AS req,
         |         CAST(sum(CASE WHEN 100 + event_id % 460 >= 400
         |           THEN 1 ELSE 0 END) AS BIGINT) AS err
         |       FROM e WHERE event_id % 3 <> 0
         |         AND event_id % 25 <> 0 AND event_id % 25 <> 1
         |         AND event_id % 5 <> 0
         |       GROUP BY 1)
         |SELECT pc.service, pod_count,
         |  req / $windowNs AS http_req_throughput_in,
         |  err / req AS http_error_rate_in,
         |  inb / $windowNs AS inbound_conns,
         |  outb / $windowNs AS outbound_conns
         |FROM pc JOIN svcconn ON pc.service = svcconn.service
         |  JOIN hs ON pc.service = hs.service
         |ORDER BY pc.service""".stripMargin,

    "q226_pxl_cluster_let_graph" ->
      s"""WITH $eventsCte,
         |f AS (SELECT value AS latency, event_id % 3 <> 0 AS tr2,
         |        user_id, g,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        '10.' || (10 + g) || '.' || (user_id % 250) || '.' ||
         |          (1 + user_id // 250) AS ip,
         |        'svc-' || (user_id % 10) AS svc,
         |        event_id % 512 AS req_sz, 100 + event_id % 1000 AS resp_sz,
         |        CASE WHEN 100 + event_id % 460 >= 400 THEN 1 ELSE 0 END
         |          AS failure
         |      FROM e WHERE event_id % 25 <> 0 AND event_id % 25 <> 1
         |        AND event_id % 5 <> 0),
         |r AS (SELECT pod, ip, svc, tr2,
         |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
         |        CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS p90,
         |        CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS p99,
         |        count(*) AS req, CAST(sum(failure) AS BIGINT) AS err,
         |        CAST(sum(req_sz) AS BIGINT) AS rb,
         |        CAST(sum(resp_sz) AS BIGINT) AS ob
         |      FROM f GROUP BY 1, 2, 3, 4)
         |SELECT pod AS responder_pod, pod AS requestor_pod,
         |  svc AS responder_service, svc AS requestor_service,
         |  ip AS responder_ip, ip AS requestor_ip,
         |  avg(p50) AS latency_p50, avg(p90) AS latency_p90,
         |  avg(p99) AS latency_p99,
         |  CAST(sum(req) AS BIGINT) / $windowNs AS request_throughput,
         |  CAST(sum(err) AS BIGINT) / CAST(sum(req) AS BIGINT) AS error_rate,
         |  CAST(sum(rb) AS BIGINT) / $windowNs AS inbound_throughput,
         |  CAST(sum(ob) AS BIGINT) / $windowNs AS outbound_throughput,
         |  CAST(sum(req) AS BIGINT) AS throughput_total
         |FROM r GROUP BY pod, ip, svc
         |ORDER BY responder_pod, requestor_pod""".stripMargin,

    // Agent 10.11.1.1 -> pod pid-1-g1 -> node-1; two stub heap stacks.
    "q227_pxl_collect_pprofs" ->
      s"""SELECT CAST(1 AS BIGINT) AS asid, 'node-1' AS hostname,
         |  'runtime.mallocgc;bytes.growSlice;app.buffer 512' AS heap
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS asid, 'node-1' AS hostname,
         |  'runtime.mallocgc;runtime.makeslice;app.handle 1024' AS heap
         |ORDER BY heap""".stripMargin
  )
}
