package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import graft.sources.CatalogUdtfs
import Q._

/** Round-4 verbatim-script tranche 2: the UDTF-driven admin scripts
  * (agent_status, schemas, funcs, tracepoint_status), the Stirling
  * diagnostics scripts (stirling_errors), and the http-family quick
  * filters (http_data_filtered, http_post_requests), plus upids.pxl —
  * each executed UNMODIFIED from the reference checkout through the PxL
  * runner and checked against a DuckDB oracle.
  *
  * Scale notes: the UDTF relations are tiny driver-side catalogs (same
  * in the reference — md_udtfs run on the Kelvin/metadata plane, not the
  * data plane); the stirling_error / http filter scripts are scan →
  * broadcast-dim as-of join → filter, nothing shuffles the fact table.
  */
object Pxl3 {

  import Pxl.{RefPx, readRef}

  val AgentStatusPath = s"$RefPx/agent_status/agent_status.pxl"
  val SchemasPath = s"$RefPx/schemas/schemas.pxl"
  val FuncsPath = s"$RefPx/funcs/funcs.pxl"
  val TracepointsPath = s"$RefPx/tracepoint_status/tracepoint_status.pxl"
  val StirlingErrorsPath = s"$RefPx/stirling_errors/stirling_errors.pxl"
  val HttpFilteredPath = s"$RefPx/http_data_filtered/data.pxl"
  val HttpPostPath = s"$RefPx/http_post_requests/data.pxl"
  val UpidsPath = s"$RefPx/upids/upids.pxl"

  private val nowNs = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
  private val startNs = nowNs - 45L * 86400L * 1000000000L
  private val splitNs = graft.functions.PixieFunctions.tsNsLit("2024-01-15")

  val queries: Map[String, QFn] = Map(
    // agent_status.pxl: top-level px.display(px.GetAgentStatus()).
    "q109_pxl_agent_status" -> ((s, dir) =>
      PxlRunner.run(readRef(AgentStatusPath), Pxl.env(s, dir, nowNs))("output")),

    // schemas.pxl `table_desc` / `table_schema`: the datasource catalog.
    "q110_pxl_schemas_tables" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(SchemasPath), Pxl.env(s, dir, nowNs),
          "table_desc", Seq())
        .orderBy("table_name")),
    "q111_pxl_schemas_cols" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(SchemasPath), Pxl.env(s, dir, nowNs),
          "table_schema", Seq())
        .orderBy("table_name", "column_index")),

    // funcs.pxl: the registered scalar/aggregate/table function surface.
    "q112_pxl_funcs_udf" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(FuncsPath), Pxl.env(s, dir, nowNs),
          "map_funcs", Seq())
        .orderBy("name")),
    "q113_pxl_funcs_uda" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(FuncsPath), Pxl.env(s, dir, nowNs),
          "agg_funcs", Seq())
        .orderBy("name")),
    "q114_pxl_funcs_udtf" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(FuncsPath), Pxl.env(s, dir, nowNs),
          "table_funcs", Seq())
        .orderBy("name")),

    // tracepoint_status.pxl `running_tracepoints`: UDTF source + filter;
    // no dynamic tracepoints are deployed, so this checks the 0-row
    // schema round-trip (q78 convention) INCLUDING the filter pushback.
    "q115_pxl_tracepoints" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(TracepointsPath), Pxl.env(s, dir, nowNs),
          "running_tracepoints", Seq())),

    // stirling_errors.pxl `stirling_error` / `probe_status`: node-scoped
    // diagnostics with ctx['node'] resolution and a contains filter.
    "q116_pxl_stirling_error" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(StirlingErrorsPath), Pxl.env(s, dir, nowNs),
          "stirling_error", Seq("-45d", "", "1000000"))
        .orderBy("time_", "error")),
    "q117_pxl_probe_status" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(StirlingErrorsPath), Pxl.env(s, dir, nowNs),
          "probe_status", Seq("-45d", "", "1000000"))
        .orderBy("time_", "error")),

    // http_data_filtered/data.pxl `http_data`: status-code equality plus
    // three contains filters; status 200 keeps the row count under the
    // script's own head cap so the limit never binds.
    "q118_pxl_http_filtered" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(HttpFilteredPath), Pxl.env(s, dir, nowNs),
          "http_data", Seq("-45d", "", "", "", "200"))
        .orderBy("time_")),

    // http_post_requests/data.pxl: top-level script with a hardcoded
    // '-30s' window — empty at the fixture's frozen now, so this gates
    // the schema round-trip of the whole map/ctx/filter chain.
    "q119_pxl_http_post" -> ((s, dir) =>
      PxlRunner.run(readRef(HttpPostPath), Pxl.env(s, dir, nowNs))("output")),

    // upids.pxl `upids_for_namespace`: groupby over the raw binary upid.
    // The script runs verbatim; the gate canonicalizes the upid column to
    // its string form post-hoc ONLY because the oracle hash cannot
    // represent a 16-byte binary (same reason pod.pxl `processes` is
    // spec-gated) — values are still fully checked.
    "q120_pxl_upids" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(UpidsPath), Pxl.env(s, dir, nowNs),
          "upids_for_namespace", Seq("-45d", "ns1"))
        .withColumn("upid", graft.types.Upid.upidToString(col("upid")))
        .orderBy("upid"))
  )

  // ---- oracles -------------------------------------------------------

  private def valuesSql(rows: Seq[String], cols: String): String =
    rows.mkString(s"(VALUES ", ", ", s") AS v($cols)")

  /** Hand-written column counts per fixture table (independent of the
    * Spark read path; mirrors Ml.schemaRows).
    */
  private val tableCols: Seq[(String, Int)] = Seq(
    "region" -> 2, "nation" -> 3, "customer" -> 5, "supplier" -> 4,
    "part" -> 6, "orders" -> 6, "lineitem" -> 11, "events" -> 6,
    "documents" -> 5, "embeddings" -> 3)

  private val schemaRows: Seq[(String, Seq[(String, String)])] = Seq(
    "region" -> Seq("r_regionkey" -> "INTEGER", "r_name" -> "VARCHAR"),
    "nation" -> Seq("n_nationkey" -> "INTEGER", "n_name" -> "VARCHAR",
      "n_regionkey" -> "INTEGER"),
    "customer" -> Seq("c_custkey" -> "BIGINT", "c_name" -> "VARCHAR",
      "c_nationkey" -> "INTEGER", "c_acctbal" -> "DOUBLE",
      "c_mktsegment" -> "VARCHAR"),
    "supplier" -> Seq("s_suppkey" -> "BIGINT", "s_name" -> "VARCHAR",
      "s_nationkey" -> "INTEGER", "s_acctbal" -> "DOUBLE"),
    "part" -> Seq("p_partkey" -> "BIGINT", "p_name" -> "VARCHAR",
      "p_brand" -> "VARCHAR", "p_type" -> "VARCHAR", "p_size" -> "INTEGER",
      "p_retailprice" -> "DOUBLE"),
    "orders" -> Seq("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
      "o_orderstatus" -> "VARCHAR", "o_totalprice" -> "DOUBLE",
      "o_orderdate" -> "TIMESTAMP", "o_orderpriority" -> "VARCHAR"),
    "lineitem" -> Seq("l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT",
      "l_suppkey" -> "BIGINT", "l_linenumber" -> "INTEGER",
      "l_quantity" -> "DOUBLE", "l_extendedprice" -> "DOUBLE",
      "l_discount" -> "DOUBLE", "l_tax" -> "DOUBLE",
      "l_returnflag" -> "VARCHAR", "l_linestatus" -> "VARCHAR",
      "l_shipdate" -> "TIMESTAMP"),
    "events" -> Seq("event_id" -> "BIGINT", "ts" -> "BIGINT",
      "user_id" -> "BIGINT", "event_type" -> "VARCHAR",
      "value" -> "DOUBLE", "props" -> "VARCHAR"),
    "documents" -> Seq("doc_id" -> "BIGINT", "text" -> "VARCHAR",
      "lang" -> "VARCHAR", "source" -> "VARCHAR", "n_chars" -> "BIGINT"),
    "embeddings" -> Seq("vec_id" -> "BIGINT", "embedding" -> "FLOAT[]",
      "label" -> "INTEGER"))

  /** Shared event-window CTE (Pxl2 convention): g = generation. */
  private def eventsCte: String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs)""".stripMargin

  private val statusSql =
    """CASE event_id % 3 WHEN 0 THEN 'OK' WHEN 1 THEN 'INTERNAL'
      |     ELSE 'FAILED_PRECONDITION' END""".stripMargin
  private val errorSql =
    "CASE WHEN event_id % 3 = 0 THEN '' ELSE 'error-' || event_id END"

  val oracles: Map[String, String] = Map(
    "q109_pxl_agent_status" -> (
      "SELECT '00000000-0000-0000-0000-000000000001' AS agent_id, " +
        "CAST(1 AS BIGINT) AS asid, 'host-local' AS hostname, " +
        "'10.11.1.1:8080' AS ip_address, 'AGENT_STATE_HEALTHY' AS agent_state, " +
        "CAST(1700000000000000000 AS BIGINT) AS create_time, " +
        "CAST(5000000 AS BIGINT) AS last_heartbeat_ns, " +
        "true AS kernel_headers_installed"),

    "q110_pxl_schemas_tables" -> (
      s"""SELECT table_name, CAST(n_cols AS BIGINT) AS n_cols
         |FROM ${valuesSql(tableCols.map { case (t, n) => s"('$t',$n)" },
            "table_name, n_cols")}
         |ORDER BY table_name""".stripMargin),

    "q111_pxl_schemas_cols" -> (
      s"""SELECT table_name, column_name,
         |  CAST(column_index AS BIGINT) AS column_index, data_type
         |FROM ${valuesSql(
            schemaRows.flatMap { case (tn, cols) =>
              cols.zipWithIndex.map { case ((cn, ty), i) =>
                s"('$tn','$cn',${i + 1},'$ty')"
              }
            }, "table_name, column_name, column_index, data_type")}
         |ORDER BY table_name, column_index""".stripMargin),

    "q112_pxl_funcs_udf" -> (
      s"""SELECT name, module FROM ${valuesSql(
            CatalogUdtfs.udfNames.map { case (n, m) => s"('$n','$m')" },
            "name, module")} ORDER BY name""".stripMargin),
    "q113_pxl_funcs_uda" -> (
      s"""SELECT name, module FROM ${valuesSql(
            CatalogUdtfs.udaNames.map { case (n, m) => s"('$n','$m')" },
            "name, module")} ORDER BY name""".stripMargin),
    "q114_pxl_funcs_udtf" -> (
      s"""SELECT name FROM ${valuesSql(
            CatalogUdtfs.udtfNames.map(n => s"('$n')"), "name")}
         |ORDER BY name""".stripMargin),

    "q115_pxl_tracepoints" -> (
      """SELECT '' AS tracepoint_id, '' AS name, '' AS state, '' AS status,
        |  '' AS output_tables WHERE false""".stripMargin),

    "q116_pxl_stirling_error" -> (
      s"""WITH $eventsCte
         |SELECT t AS time_, 'node-' || (user_id % 5) AS node,
         |  CASE event_id % 5 WHEN 0 THEN 'socket_tracer'
         |       WHEN 1 THEN 'perf_profiler' WHEN 2 THEN 'jvm_stats'
         |       WHEN 3 THEN 'process_stats' ELSE 'dns_probe'
         |  END AS source_connector,
         |  $statusSql AS status, $errorSql AS error,
         |  '{"probe":"p' || (event_id % 10) || '"}' AS context
         |FROM e ORDER BY time_, error""".stripMargin),

    "q117_pxl_probe_status" -> (
      s"""WITH $eventsCte
         |SELECT t AS time_, 'node-' || (user_id % 5) AS node,
         |  'tp-' || (event_id % 8) AS tracepoint,
         |  $statusSql AS status, $errorSql AS error,
         |  '{"binary":"/bin/app' || (event_id % 4) || '"}' AS info
         |FROM e ORDER BY time_, error""".stripMargin),

    "q118_pxl_http_filtered" -> (
      s"""WITH $eventsCte
         |SELECT t AS time_,
         |  CASE WHEN event_id % 5 = 0 THEN '-'
         |       ELSE '10.' || (10 + g) || '.' || (user_id % 250) || '.'
         |            || (1 + user_id // 250) END AS remote_addr,
         |  1024 + event_id % 32768 AS remote_port,
         |  CASE event_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
         |       WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS req_method,
         |  CASE WHEN event_id % 25 = 0 THEN '/healthz'
         |       WHEN event_id % 25 = 1 THEN '/readyz'
         |       ELSE '/api/v1/users/' || user_id END AS req_path,
         |  CAST(200 AS BIGINT) AS resp_status,
         |  'resp-' || event_id AS resp_body,
         |  value AS latency,
         |  'svc-' || (user_id % 10) AS svc,
         |  'pod-' || user_id || '-gen' || g AS pod
         |FROM e WHERE event_id % 460 = 100 ORDER BY time_""".stripMargin),

    "q119_pxl_http_post" -> (
      """SELECT CAST(0 AS BIGINT) AS time_, '' AS remote_addr,
        |  CAST(0 AS BIGINT) AS remote_port, '' AS req_method,
        |  '' AS req_path, CAST(0 AS BIGINT) AS resp_status,
        |  '' AS resp_body, CAST(0 AS DOUBLE) AS latency, '' AS service
        |WHERE false""".stripMargin),

    "q120_pxl_upids" -> (
      s"""WITH $eventsCte
         |SELECT 'pod-' || user_id || '-gen' || g AS pod,
         |  'ctr-' || user_id || '-g' || g AS container,
         |  user_id || ':' || event_id || ':' || us AS upid,
         |  '/bin/app --id=' || user_id AS cmdline,
         |  CASE WHEN g = 0 THEN 0 ELSE $splitNs END AS pod_create_time
         |FROM e WHERE (user_id % 10) % 3 = 1 ORDER BY upid""".stripMargin)
  )
}
