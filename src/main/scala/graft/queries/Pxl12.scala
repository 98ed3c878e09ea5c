package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._

/** Round-6 verbatim-widget tranche 3 — DB-family completions: the
  * cql/pgsql/pod_edge latency histograms, the four flow-graph
  * `*_summary_with_links` deep-link summaries, the normalized-SQL
  * `summary_sql_let` (sql_queries + sql_query), and tracepoint_info's
  * empty UDTF round-trip. With these, every vis.json widget function
  * of the stats/flow-graph/sql script families is oracle-gated.
  *
  * Scale notes: all histogram entries are single keyed aggregations
  * (shuffle keyed by the bin); the flow summaries reuse the windowed
  * LET shape — fact table shuffles once on (window, edge), then a
  * second small aggregate per edge; the deep-link wrapping is a
  * per-row codegen'd `to_json(struct(..))` with no extra pass.
  */
object Pxl12 {

  import Pxl.{RefPx, readRef}

  val TracepointsPath = s"$RefPx/tracepoint_status/tracepoint_status.pxl"

  private val nowNs = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
  private val startNs = nowNs - 45L * 86400L * 1000000000L
  private val splitNs = graft.functions.PixieFunctions.tsNsLit("2024-01-15")

  private def canon(c: String) = round(col(c) * 1e10, 9) / 1e10

  val queries: Map[String, QFn] = Map(
    // cql_stats latency_histogram: 50ms bins over all cql traffic (pod
    // filter '' matches every pod; fixture pods are never empty).
    "q194_pxl_cql_latency_hist" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.CqlStatsPath), Pxl.env(s, dir, nowNs),
          "latency_histogram", Seq("-45d", ""))
        .orderBy("request_latency")),

    // pgsql_stats latency_histogram: 50ms bins after the source/dest
    // formatting (contains '' passes every edge).
    "q195_pxl_pgsql_latency_hist" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.PgsqlStatsPath), Pxl.env(s, dir, nowNs),
          "latency_histogram", Seq("-45d", ""))
        .orderBy("request_latency")),

    // pod_edge_stats latency_histogram: RAW (unbinned) latency counts
    // over the pod-7-gen1 self edge.
    "q196_pxl_pod_edge_latency_hist" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl8.PodEdgePath), Pxl.env(s, dir, nowNs),
          "latency_histogram", Seq("-45d", "pod-7-gen1", "pod-7-gen1"))
        .orderBy("request_latency")),

    // The four flow-graph summaries: per-edge means of the per-window
    // floored quantile longs + deep-linked endpoints.
    "q197_pxl_mysql_summary_links" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.MysqlFlowPath), Pxl.env(s, dir, nowNs),
          "mysql_summary_with_links", Seq("-45d", "ns1", "", ""))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("source", "destination")),

    "q198_pxl_pgsql_summary_links" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.PgsqlFlowPath), Pxl.env(s, dir, nowNs),
          "pgsql_summary_with_links", Seq("-45d", "ns0", "", ""))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("source", "destination")),

    "q199_pxl_cql_summary_links" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.CqlFlowPath), Pxl.env(s, dir, nowNs),
          "cql_summary_with_links", Seq("-45d", "ns2", "", ""))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("source", "destination")),

    "q200_pxl_redis_summary_links" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.RedisFlowPath), Pxl.env(s, dir, nowNs),
          "redis_summary_with_links", Seq("-45d", "ns1", "", ""))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("source", "destination")),

    // sql_queries summary_sql_let: whole-range per-normalized-query
    // rollup with px/sql_query deep links.
    "q201_pxl_sql_summary" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl7.SqlQueriesPath), Pxl.env(s, dir, nowNs),
          "summary_sql_let", Seq("-45d", "pod"))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("normed_query")),

    // sql_query summary_sql_let: same rollup keyed (query, params) —
    // no deep links in this variant.
    "q202_pxl_sql_query_summary" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl7.SqlQueryPath), Pxl.env(s, dir, nowNs),
          "summary_sql_let",
          Seq("-45d", "pod", "SELECT * FROM rel3 WHERE id=$1"))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("params")),

    // tracepoint_status tracepoint_info: the unfiltered UDTF — no
    // dynamic tracepoints deployed, so a 0-row schema round-trip.
    "q203_pxl_tracepoint_info" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(TracepointsPath), Pxl.env(s, dir, nowNs),
          "tracepoint_info", Seq()))
  )

  // ---- oracles -------------------------------------------------------

  private def eventsCte: String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs)""".stripMargin

  /** px.script_reference deep link for flow-graph endpoints (pod vs ip
    * target — q158/q179 convention, struct-declaration key order).
    */
  private def linkSql(c: String, flag: String): String =
    s"""CASE WHEN $flag
       |    THEN '{"label":"' || $c || '","script":"px/pod","args":{"start_time":"-45d","pod":"' || $c || '"}}'
       |    ELSE '{"label":"' || $c || '","script":"px/ip","args":{"start_time":"-45d","ip":"' || $c || '"}}'
       |  END""".stripMargin

  /** The shared flow-graph edge windows (q123–q126 shape) narrowed to
    * one namespace, summarized per edge, endpoints deep-linked.
    */
  private def summaryLinksOracle(nsIdx: Int): String =
    s"""WITH $eventsCte,
       |w AS (SELECT t, value AS latency,
       |        'pod-' || user_id || '-gen' || g AS pod,
       |        event_id % 3 <> 0 AS is_server, event_id % 5 <> 0 AS is_ra_pod,
       |        CASE WHEN event_id % 5 = 0 THEN '-'
       |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name
       |      FROM e WHERE user_id % 10 % 3 = $nsIdx),
       |x AS (SELECT t, latency,
       |        CASE WHEN is_server THEN is_ra_pod ELSE true END AS is_src,
       |        CASE WHEN is_server THEN true ELSE is_ra_pod END AS is_dst,
       |        CASE WHEN is_server THEN ra_name ELSE pod END AS source,
       |        CASE WHEN is_server THEN pod ELSE ra_name END AS destination
       |      FROM w),
       |q AS (SELECT t - t % 10000000000 AS ts_bin, source, destination,
       |        is_src, is_dst,
       |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
       |        CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS p90,
       |        CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS p99,
       |        count(latency) AS tt
       |      FROM x GROUP BY 1, 2, 3, 4, 5)
       |SELECT ${linkSql("source", "is_src")} AS source,
       |  ${linkSql("destination", "is_dst")} AS destination,
       |  avg(p50) AS latency_p50, avg(p90) AS latency_p90,
       |  avg(p99) AS latency_p99,
       |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
       |    AS request_throughput,
       |  CAST(sum(tt) AS BIGINT) AS throughput_total
       |FROM q GROUP BY source, destination, is_src, is_dst
       |ORDER BY source, destination""".stripMargin

  /** pg + mysql normalized-query streams (q158/q159 shape). */
  private val sqlStreamsCte =
    s"""pg AS (SELECT t - t % 10000000000 AS ts_bin,
       |        'SELECT * FROM rel' || (event_id % 7) || ' WHERE id=$$1'
       |          AS normed_query,
       |        '["' || (event_id % 100) || '"]' AS params,
       |        value AS latency
       |      FROM e WHERE event_id % 4 IN (0, 1)),
       |my AS (SELECT t - t % 10000000000 AS ts_bin,
       |        'SELECT * FROM t' || (event_id % 5) || ' WHERE id=?'
       |          AS normed_query,
       |        '["' || (event_id % 100) || '"]' AS params,
       |        value AS latency
       |      FROM e WHERE event_id % 32 IN (3, 23)),
       |u AS (SELECT * FROM pg UNION ALL SELECT * FROM my)""".stripMargin

  /** px/sql_query deep link on the normalized query (add_query_links:
    * args {start, pod, query} in declaration order).
    */
  private def sqlLinkSql(c: String): String =
    s"""'{"label":"' || $c || '","script":"px/sql_query","args":{"start":"-45d","pod":"pod","query":"' || $c || '"}}'"""

  val oracles: Map[String, String] = Map(
    // cql histogram: all events (no resp filter; pods never empty).
    "q194_pxl_cql_latency_hist" ->
      s"""WITH $eventsCte
         |SELECT CAST(floor(value - fmod(value, 50000000.0)) AS BIGINT)
         |    AS request_latency,
         |  count(*) AS "count"
         |FROM e GROUP BY 1 ORDER BY request_latency""".stripMargin,

    "q195_pxl_pgsql_latency_hist" ->
      s"""WITH $eventsCte
         |SELECT CAST(floor(value - fmod(value, 50000000.0)) AS BIGINT)
         |    AS request_latency,
         |  count(*) AS "count"
         |FROM e GROUP BY 1 ORDER BY request_latency""".stripMargin,

    // pod-7-gen1 self edge (q165/q166 filter), raw latency counts.
    "q196_pxl_pod_edge_latency_hist" ->
      s"""WITH $eventsCte
         |SELECT value AS request_latency, count(*) AS "count"
         |FROM e WHERE user_id = 7 AND g = 1
         |  AND event_id % 25 <> 0 AND event_id % 25 <> 1
         |  AND event_id % 5 <> 0
         |GROUP BY 1 ORDER BY request_latency""".stripMargin,

    "q197_pxl_mysql_summary_links" -> summaryLinksOracle(1),
    "q198_pxl_pgsql_summary_links" -> summaryLinksOracle(0),
    "q199_pxl_cql_summary_links" -> summaryLinksOracle(2),
    "q200_pxl_redis_summary_links" -> summaryLinksOracle(1),

    "q201_pxl_sql_summary" ->
      s"""WITH $eventsCte,
         |$sqlStreamsCte,
         |q AS (SELECT ts_bin, normed_query,
         |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
         |        count(latency) AS tt
         |      FROM u GROUP BY 1, 2)
         |SELECT ${sqlLinkSql("normed_query")} AS normed_query,
         |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
         |    AS request_throughput,
         |  avg(p50) AS latency,
         |  CAST(sum(tt) AS BIGINT) AS total_requests
         |FROM q GROUP BY q.normed_query ORDER BY normed_query""".stripMargin,

    "q202_pxl_sql_query_summary" ->
      s"""WITH $eventsCte,
         |$sqlStreamsCte,
         |q AS (SELECT ts_bin, normed_query, params,
         |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
         |        count(latency) AS tt
         |      FROM u WHERE normed_query = 'SELECT * FROM rel3 WHERE id=$$1'
         |      GROUP BY 1, 2, 3)
         |SELECT params, normed_query,
         |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
         |    AS request_throughput,
         |  avg(p50) AS latency,
         |  CAST(sum(tt) AS BIGINT) AS total_requests
         |FROM q GROUP BY normed_query, params ORDER BY params""".stripMargin,

    "q203_pxl_tracepoint_info" -> (
      """SELECT '' AS tracepoint_id, '' AS name, '' AS state, '' AS status,
        |  '' AS output_tables WHERE false""".stripMargin)
  )
}
