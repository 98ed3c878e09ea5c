package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._

/** Round-5 verbatim-script tranche 3: dns_query_summary (DNS body
  * parsing + per-resolver rollup), the raw network_stats viewer, the
  * service_resource_usage cluster summary, and the three "quick look"
  * top-level scripts (pod_memory_usage, most_http_data,
  * largest_http_request) — each executed UNMODIFIED from the reference
  * checkout through the PxL runner and hash-checked against a DuckDB
  * oracle.
  *
  * The quick-look scripts hardcode -30s/-1m/-2m windows; now is pinned
  * to the fixture's max event time (q65 convention), so they see the
  * data tail — tiny but deterministic, and the whole operator chain
  * (global-max agg + self-merge) still executes.
  */
object Pxl6 {

  import Pxl.{RefPx, readRef}

  val DnsQuerySummaryPath = s"$RefPx/dns_query_summary/dns_query_summary.pxl"
  val NetworkStatsPath = s"$RefPx/network_stats/stats.pxl"
  val ServiceResourcePath = s"$RefPx/service_resource_usage/usage.pxl"
  val PodMemoryPath = s"$RefPx/pod_memory_usage/pod.pxl"
  val MostHttpPath = s"$RefPx/most_http_data/data.pxl"
  val LargestHttpPath = s"$RefPx/largest_http_request/data.pxl"

  private val nowNs = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
  private val startNs = nowNs - 45L * 86400L * 1000000000L
  private val splitNs = graft.functions.PixieFunctions.tsNsLit("2024-01-15")

  /** Deterministic "now" pinned at the fixture tail (q65 convention),
    * memoized per (context, dataset) in [[Q.tailNowNs]]. */
  private def tailNow(s: org.apache.spark.sql.SparkSession, dir: String): Long =
    Q.tailNowNs(s, dir)

  val queries: Map[String, QFn] = Map(
    // dns_query_summary.pxl: pluck the queries/answers arrays, parse the
    // query-name prefix with find/substring, nslookup the resolver, roll
    // up resolution/NXDOMAIN rates per (pod, resolver, prefix).
    "q152_pxl_dns_query_summary" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(DnsQuerySummaryPath), Pxl.env(s, dir, nowNs),
          "dns_queries", Seq("-45d", "", "", "", ""))
        .orderBy("pod", "dns_server", "qname")),

    // network_stats.pxl: raw select= projection + head over the -30s tail.
    "q153_pxl_network_stats_raw" -> ((s, dir) =>
      PxlRunner.run(readRef(NetworkStatsPath),
          Pxl.env(s, dir, tailNow(s, dir)))("output")
        .orderBy("time_")),

    // service_resource_usage.pxl services_for_cluster: process rollup
    // left-joined with the http LET summary. http_latency is the RAW
    // quantiles JSON — canonicalized to typed doubles (q145 convention).
    "q154_pxl_service_resource" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(ServiceResourcePath), Pxl.env(s, dir, nowNs),
          "services_for_cluster", Seq("-45d"))
        .withColumn("latency_p50",
          get_json_object(col("http_latency"), "$.p50").cast("double"))
        .withColumn("latency_p99",
          get_json_object(col("http_latency"), "$.p99").cast("double"))
        .drop("http_latency")
        .orderBy("service")),

    // pod_memory_usage.pxl: two-level upid->pod memory rollup over the
    // -1m tail; spaced output column names.
    "q155_pxl_pod_memory" -> ((s, dir) =>
      PxlRunner.run(readRef(PodMemoryPath),
          Pxl.env(s, dir, tailNow(s, dir)))("output")
        .orderBy("pod", "timestamp")),

    // most_http_data.pxl: global-max agg self-merged back (get_max_elm)
    // onto the per-(pod, path) byte sums.
    "q156_pxl_most_http_data" -> ((s, dir) =>
      PxlRunner.run(readRef(MostHttpPath),
          Pxl.env(s, dir, tailNow(s, dir)))("max_path_pod")
        .orderBy("pod", "req_path")),

    // largest_http_request.pxl: same max-row pattern at row level, then
    // the per-(pod, path, size) request count.
    "q157_pxl_largest_http" -> ((s, dir) =>
      PxlRunner.run(readRef(LargestHttpPath),
          Pxl.env(s, dir, tailNow(s, dir)))("number of reqs")
        .orderBy("pod", "req_path"))
  )

  // ---- oracles -------------------------------------------------------

  private def eventsCte: String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs)""".stripMargin

  /** Tail-window CTE for the quick-look scripts (now = max event + 1µs). */
  private def tailCte(windowNs: Long): String =
    s"""mx AS (SELECT max(epoch_us(ts)) * 1000 + 1000 AS now_ns FROM events),
       |e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events, mx
       |      WHERE epoch_us(ts) * 1000 >= mx.now_ns - $windowNs
       |        AND epoch_us(ts) * 1000 < mx.now_ns)""".stripMargin

  private val selfIpSql =
    "'10.' || (10 + g) || '.' || (user_id % 250) || '.' || (1 + user_id // 250)"

  /** http_events req_path / filter battery shared by most/largest. */
  private val httpPathSql =
    """CASE WHEN event_id % 25 = 0 THEN '/healthz'
      |     WHEN event_id % 25 = 1 THEN '/readyz'
      |     ELSE '/api/v1/users/' || user_id END""".stripMargin

  val oracles: Map[String, String] = Map(
    "q152_pxl_dns_query_summary" ->
      s"""WITH $eventsCte,
         |w AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        ${graft.functions.NetOps.nslookupStubSql(
              s"CASE WHEN event_id % 5 = 0 THEN '-' ELSE $selfIpSql END")}
         |          AS dns_server,
         |        'svc-' || (user_id % 10) AS qname,
         |        CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END AS resolved,
         |        CASE WHEN event_id % 4 = 3 THEN 1 ELSE 0 END AS nxd
         |      FROM e WHERE event_id % 3 = 0)
         |SELECT pod, dns_server, qname, count(*) AS num_requests,
         |  CAST(sum(resolved) AS BIGINT) AS num_resolved,
         |  CAST(sum(nxd) AS BIGINT) AS num_nxdomain,
         |  (count(*) - CAST(sum(resolved) AS BIGINT)) / count(*)
         |    AS unresolved_rate,
         |  CAST(sum(nxd) AS BIGINT) / count(*) AS nxdomain_rate,
         |  qname || ' @' || dns_server AS qgroup
         |FROM w GROUP BY pod, dns_server, qname
         |ORDER BY pod, dns_server, qname""".stripMargin,

    "q153_pxl_network_stats_raw" ->
      s"""WITH ${tailCte(30000000000L)}
         |SELECT t AS time_, 'pid-' || user_id || '-g' || g AS pod_id,
         |  us AS rx_bytes, us // 700 AS rx_packets, us // 1500 AS rx_errors,
         |  us // 3000 AS rx_drops, us // 2 AS tx_bytes, us // 800 AS tx_packets,
         |  us // 1000 AS tx_errors, us // 2000 AS tx_drops
         |FROM e ORDER BY time_""".stripMargin,

    "q154_pxl_service_resource" ->
      s"""WITH $eventsCte,
         |p1 AS (SELECT 'svc-' || (user_id % 10) AS service,
         |         max(t) - min(t) AS tw,
         |         sum(CAST((50 + event_id % 450) * 1048576 AS DOUBLE)) AS rss_sum
         |       FROM e GROUP BY user_id, g),
         |p2 AS (SELECT service, count(*) AS pod_count,
         |         avg(CAST(0 AS DOUBLE)) AS avg_pod_cpu,
         |         avg(rss_sum) AS avg_pod_rss,
         |         max(tw) AS time_window
         |       FROM p1 GROUP BY 1),
         |h2 AS (SELECT 'svc-' || (user_id % 10) AS service,
         |         count(value) AS tput,
         |         quantile_cont(value, 0.50) AS latency_p50,
         |         quantile_cont(value, 0.99) AS latency_p99
         |       FROM e WHERE event_id % 3 <> 0 GROUP BY 1)
         |SELECT p2.service, pod_count, avg_pod_cpu, avg_pod_rss,
         |  tput / time_window AS http_request_throughput,
         |  latency_p50, latency_p99
         |FROM p2 LEFT JOIN h2 ON p2.service = h2.service
         |ORDER BY p2.service""".stripMargin,

    "q155_pxl_pod_memory" ->
      s"""WITH ${tailCte(60000000000L)}
         |SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |  t - t % 10000000000 AS "timestamp",
         |  sum(CAST((100 + event_id % 900) * 1048576 AS DOUBLE))
         |    AS "Virtual Memory",
         |  sum(CAST((50 + event_id % 450) * 1048576 AS DOUBLE))
         |    AS "Average Memory"
         |FROM e GROUP BY 1, 2 ORDER BY pod, "timestamp"""".stripMargin,

    "q156_pxl_most_http_data" ->
      s"""WITH ${tailCte(120000000000L)},
         |f AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        $httpPathSql AS req_path,
         |        100 + event_id % 1000 AS sz
         |      FROM e WHERE event_id % 25 <> 0 AND event_id % 25 <> 1
         |        AND event_id % 5 <> 0),
         |s AS (SELECT pod, req_path, CAST(sum(sz) AS BIGINT) AS resp_bytes_sum
         |      FROM f GROUP BY 1, 2),
         |m AS (SELECT max(resp_bytes_sum) AS mxv FROM s)
         |SELECT pod, req_path, resp_bytes_sum
         |FROM s, m WHERE resp_bytes_sum = mxv
         |ORDER BY pod, req_path""".stripMargin,

    "q157_pxl_largest_http" ->
      s"""WITH ${tailCte(120000000000L)},
         |f AS (SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |        $httpPathSql AS req_path,
         |        100 + event_id % 1000 AS resp_size_bytes
         |      FROM e WHERE event_id % 25 <> 0 AND event_id % 25 <> 1
         |        AND event_id % 5 <> 0),
         |m AS (SELECT max(resp_size_bytes) AS mxv FROM f)
         |SELECT pod, req_path, resp_size_bytes,
         |  count(*) AS num_requests
         |FROM f, m WHERE resp_size_bytes = mxv
         |GROUP BY pod, req_path, resp_size_bytes
         |ORDER BY pod, req_path""".stripMargin
  )
}
