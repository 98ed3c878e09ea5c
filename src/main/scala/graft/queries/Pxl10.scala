package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import graft.functions.ProtocolOps
import Q._

/** Round-6 verbatim-widget tranche, part 1: the remaining vis.json widget
  * functions of the DB-stats family (mysql/pgsql/redis/cql) — latency
  * histograms, whole-window LET summaries with deep links, and command
  * timeseries — each executed UNMODIFIED from the reference checkout and
  * hash-checked against a DuckDB oracle re-deriving the result from the
  * raw fixture.
  *
  * Scale notes: histograms are one keyed aggregation over the binned
  * latency domain (cardinality = value-range / bin, independent of row
  * count); summaries are the windowed LET (shuffle keyed by edge+window)
  * followed by a second, strictly smaller aggregation keyed by edge;
  * command timeseries shuffle once on (window, command). Nothing here
  * re-scans or collects.
  */
object Pxl10 {

  import Pxl.readRef

  private val nowNs = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
  private val startNs = nowNs - 45L * 86400L * 1000000000L
  private val splitNs = graft.functions.PixieFunctions.tsNsLit("2024-01-15")

  /** Mean-of-noninteger-doubles canonicalization (q123 convention):
    * round at 9 dp in per-window units then rescale, identically in both
    * engines, because partial-sum order makes the last ulp engine-
    * specific.
    */
  private def canon(c: String) =
    round(col(c) * 1e10, 9) / 1e10

  val queries: Map[String, QFn] = Map(
    // mysql_stats latency_histogram: 5ms-binned latency counts over the
    // none-code-filtered table.
    "q178_pxl_mysql_latency_hist" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.MysqlStatsPath), Pxl.env(s, dir, nowNs),
          "latency_histogram", Seq("-45d", ""))
        .orderBy("request_latency")),

    // mysql_stats summary_mysql_let: whole-window LET summary per
    // source->destination edge, with script_reference deep links.
    "q179_pxl_mysql_summary" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.MysqlStatsPath), Pxl.env(s, dir, nowNs),
          "summary_mysql_let", Seq("-45d", "pod"))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("error_rate", canon("error_rate"))
        .orderBy("source", "destination")),

    "q180_pxl_redis_latency_hist" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.RedisStatsPath), Pxl.env(s, dir, nowNs),
          "latency_histogram", Seq("-45d", ""))
        .orderBy("request_latency")),

    // redis has no failure column: summary is throughput/latency/total.
    "q181_pxl_redis_summary" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.RedisStatsPath), Pxl.env(s, dir, nowNs),
          "summary_redis_let", Seq("-45d", "pod"))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("source", "destination")),

    // redis cmd_timeseries: per-window command throughput.
    "q182_pxl_redis_cmds" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.RedisStatsPath), Pxl.env(s, dir, nowNs),
          "cmd_timeseries", Seq("-45d", ""))
        .orderBy("time_", "req_cmd")),

    "q183_pxl_pgsql_summary" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.PgsqlStatsPath), Pxl.env(s, dir, nowNs),
          "summary_pgsql_let", Seq("-45d", "pod"))
        .withColumn("request_throughput", canon("request_throughput"))
        .orderBy("source", "destination")),

    // cql summary keys on (pod, CQL IP); latency is the mean of the
    // UN-floored per-window p50 doubles (format_LET_aggs in cql_stats
    // has no floor). Canonicalization note: the fixture's values are
    // 2 dp decimals, so window medians are multiples of 0.005 and their
    // means land EXACTLY on every decimal rounding boundary (x.xx5) —
    // both engines' parallel-summation noise (~1e-9) then decides the
    // round direction, which was observed flaky at any plain grid. The
    // gate therefore rounds on a SHIFTED grid, round(x + 0.00217, 2):
    // measured min distance of every group's true mean to a boundary is
    // 1.75e-5 at sf0.01 AND sf0.1 — 4 orders above the noise. The rate
    // columns keep the scaled 9 dp canon: their true values sit on the
    // count/1e10 grid, never near boundaries.
    "q184_pxl_cql_summary" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.CqlStatsPath), Pxl.env(s, dir, nowNs),
          "summary_cql_let", Seq("-45d", "pod"))
        .withColumn("request_throughput", canon("request_throughput"))
        .withColumn("error_rate", canon("error_rate"))
        .withColumn("latency", round(col("latency") + 0.00217, 2))
        .orderBy("pod", "`CQL IP`")),

    // cql cmd_timeseries: opcode names via px.cql_opcode_name.
    "q185_pxl_cql_cmds" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.CqlStatsPath), Pxl.env(s, dir, nowNs),
          "cmd_timeseries", Seq("-45d", ""))
        .orderBy("time_", "req_op"))
  )

  // ---- oracles -------------------------------------------------------

  private def eventsCte: String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs)""".stripMargin

  /** add_source_dest_columns over the tracerBase synth (q133 shape). */
  private val sourceDestCte =
    """w AS (SELECT *, 'pod-' || user_id || '-gen' || g AS pod,
      |        'ns' || (user_id % 10 % 3) AS namespace,
      |        event_id % 3 <> 0 AS is_server, event_id % 5 <> 0 AS is_ra_pod,
      |        CASE WHEN event_id % 5 = 0 THEN '-'
      |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name
      |      FROM e),
      |x AS (SELECT t, t - t % 10000000000 AS ts_bin, value AS latency,
      |        event_id, user_id, namespace,
      |        CASE WHEN is_server THEN is_ra_pod ELSE true END AS is_src_pod,
      |        CASE WHEN is_server THEN true ELSE is_ra_pod END AS is_dst_pod,
      |        CASE WHEN is_server THEN ra_name ELSE pod END AS source,
      |        CASE WHEN is_server THEN pod ELSE ra_name END AS destination
      |      FROM w)""".stripMargin

  /** px.script_reference deep link (pod vs ip target, q158 convention). */
  private def linkSql(c: String, flag: String): String =
    s"""CASE WHEN $flag
       |    THEN '{"label":"' || $c || '","script":"px/pod","args":{"start_time":"-45d","pod":"' || $c || '"}}'
       |    ELSE '{"label":"' || $c || '","script":"px/ip","args":{"start_time":"-45d","ip":"' || $c || '"}}'
       |  END""".stripMargin

  /** px.bin over the DOUBLE latency at 5 ms: value - fmod(value, w),
    * truncated — exact in both engines (values are well inside 2^53).
    */
  private val latencyBinSql =
    "CAST(floor(value - fmod(value, 5000000.0)) AS BIGINT)"

  /** Whole-window LET summary over the edge-keyed window series: mean
    * throughput/error-rate (ulp-canonicalized), exact mean of the
    * floored p50 longs, exact total.
    */
  private def summaryOracle(extraWhere: String, withErrorRate: Boolean): String = {
    val err =
      if (withErrorRate)
        """round(avg(erw * (tt / 10000000000)) * 10000000000, 9)
          |    / 10000000000 AS error_rate,""".stripMargin
      else ""
    s"""WITH $eventsCte,
       |$sourceDestCte,
       |q AS (SELECT ts_bin, source, destination, is_src_pod, is_dst_pod,
       |        namespace,
       |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
       |        count(latency) AS tt,
       |        avg(CAST(failure AS DOUBLE)) AS erw
       |      FROM (SELECT x.*,
       |              CASE WHEN event_id % 4 = 3 THEN 1 ELSE 0 END AS failure
       |            FROM x $extraWhere)
       |      GROUP BY 1, 2, 3, 4, 5, 6)
       |SELECT ${linkSql("source", "is_src_pod")} AS source,
       |  ${linkSql("destination", "is_dst_pod")} AS destination,
       |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
       |    AS request_throughput,
       |  $err
       |  avg(p50) AS latency,
       |  CAST(sum(tt) AS BIGINT) AS total_requests
       |FROM q GROUP BY source, destination, is_src_pod, is_dst_pod, namespace
       |ORDER BY source, destination""".stripMargin
  }

  private val redisCmdSql =
    """CASE event_id % 6 WHEN 0 THEN 'GET' WHEN 1 THEN 'SET' WHEN 2 THEN 'DEL'
      |     WHEN 3 THEN 'INCR' WHEN 4 THEN 'EXPIRE' ELSE 'HGETALL' END""".stripMargin

  val oracles: Map[String, String] = Map(
    // mysql histogram: none-code filter (resp_status = event_id%4 <> 1).
    "q178_pxl_mysql_latency_hist" ->
      s"""WITH $eventsCte
         |SELECT $latencyBinSql AS request_latency, count(*) AS "count"
         |FROM e WHERE event_id % 4 <> 1
         |GROUP BY 1 ORDER BY request_latency""".stripMargin,

    "q179_pxl_mysql_summary" ->
      summaryOracle("WHERE event_id % 4 <> 1", withErrorRate = true),

    "q180_pxl_redis_latency_hist" ->
      s"""WITH $eventsCte
         |SELECT $latencyBinSql AS request_latency, count(*) AS "count"
         |FROM e GROUP BY 1 ORDER BY request_latency""".stripMargin,

    "q181_pxl_redis_summary" -> summaryOracle("", withErrorRate = false),

    "q182_pxl_redis_cmds" ->
      s"""WITH $eventsCte
         |SELECT t - t % 10000000000 AS time_, $redisCmdSql AS req_cmd,
         |  count(*) AS throughput_total
         |FROM e GROUP BY 1, 2 ORDER BY time_, req_cmd""".stripMargin,

    "q183_pxl_pgsql_summary" -> summaryOracle("", withErrorRate = false),

    // cql: windows keyed (pod, ts_bin, remote_addr); latency quantiles
    // over the responded subset only (q130 convention), then summarized
    // per (pod, CQL IP).
    "q184_pxl_cql_summary" ->
      s"""WITH $eventsCte,
         |b AS (SELECT t - t % 10000000000 AS ts_bin,
         |        'pod-' || user_id || '-gen' || g AS pod,
         |        CASE WHEN event_id % 5 = 0 THEN '-'
         |             ELSE '10.' || (10 + g) || '.' || (user_id % 250) || '.'
         |               || (1 + user_id // 250) END AS remote_addr,
         |        value AS latency, (event_id + 3) % 20 AS resp_op,
         |        CASE WHEN (event_id + 3) % 20 = 0 THEN 1 ELSE 0 END AS failure
         |      FROM e),
         |et AS (SELECT pod, ts_bin, remote_addr, count(latency) AS tt,
         |         avg(CAST(failure AS DOUBLE)) AS erw
         |       FROM b GROUP BY 1, 2, 3),
         |lcy AS (SELECT pod, ts_bin, remote_addr,
         |          quantile_cont(latency, 0.50) AS p50
         |        FROM b WHERE resp_op <> 0 GROUP BY 1, 2, 3)
         |SELECT et.pod,
         |  et.remote_addr AS "CQL IP",
         |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
         |    AS request_throughput,
         |  round(avg(erw * (tt / 10000000000)) * 10000000000, 9)
         |    / 10000000000 AS error_rate,
         |  round(avg(p50) + 0.00217, 2) AS latency,
         |  CAST(sum(tt) AS BIGINT) AS total_requests
         |FROM et LEFT JOIN lcy ON et.pod = lcy.pod AND et.ts_bin = lcy.ts_bin
         |  AND et.remote_addr = lcy.remote_addr
         |GROUP BY 1, 2 ORDER BY et.pod, "CQL IP"""".stripMargin,

    "q185_pxl_cql_cmds" ->
      s"""WITH $eventsCte
         |SELECT t - t % 10000000000 AS time_,
         |  ${ProtocolOps.cqlOpcodeName.sql("(event_id % 20)")} AS req_op,
         |  count(*) AS throughput_total
         |FROM e GROUP BY 1, 2 ORDER BY time_, req_op""".stripMargin
  )
}
