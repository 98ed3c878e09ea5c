package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._

/** Round-5 verbatim-script tranche 6 — the LAST unported bundled
  * scripts: http_trace_id (Otel traceparent extraction with RE2-style
  * backreference rewrite), differential_flamegraph (two-pod stack
  * delta), and the kafka consumer-group scripts
  * (kafka_consumer_rebalancing, kafka_producer_consumer_latency's
  * topic/producer/consumer views). With these, all 67 bundled
  * reference scripts execute through the PxL front-end (66 with oracle
  * entries; collect_agent_heaps is spec-gated on its binary upid).
  *
  * Scale notes: the rebalancing join is keyed by
  * (group, generation, member) — both sides shuffle once on the group
  * key; the differential flamegraph joins two already-aggregated pod
  * profiles (bounded by distinct stack ids).
  */
object Pxl9 {

  import Pxl.{RefPx, readRef}

  val HttpTraceIdPath = s"$RefPx/http_trace_id/script.pxl"
  val DiffFlamePath = s"$RefPx/differential_flamegraph/differential.pxl"
  val KafkaRebalPath =
    s"$RefPx/kafka_consumer_rebalancing/kafka_consumer_rebalancing.pxl"
  val KafkaPCLatencyPath =
    s"$RefPx/kafka_producer_consumer_latency/kafka_producer_consumer_latency.pxl"

  private val nowNs = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
  private val startNs = nowNs - 45L * 86400L * 1000000000L
  private val splitNs = graft.functions.PixieFunctions.tsNsLit("2024-01-15")

  val queries: Map[String, QFn] = Map(
    // http_trace_id: traceparent header pluck + \1-backreference regex
    // rewrite, linkified source/destination, full row-level trace.
    "q171_pxl_http_trace" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(HttpTraceIdPath), Pxl.env(s, dir, nowNs),
          "http_trace_data", Seq("-45d", "traceparent", ""))
        .orderBy("time_")),

    // differential_flamegraph: baseline vs target pod stack-count delta
    // with percent-of-target normalization (right join keeps the target
    // profile complete; missing baseline stacks yield null deltas).
    "q172_pxl_diff_flamegraph" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(DiffFlamePath), Pxl.env(s, dir, nowNs),
          "differential_flamegraph",
          Seq("-45d", "ns1", "pod-7-gen1", "pod-4-gen1"))
        .orderBy("stack_trace")),

    // kafka_consumer_rebalancing.
    "q173_pxl_kafka_rebal_data" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(KafkaRebalPath), Pxl.env(s, dir, nowNs),
          "kafka_join_sync_group_data", Seq("-45d"))
        .orderBy("time_")),

    "q174_pxl_kafka_rebal_delay" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(KafkaRebalPath), Pxl.env(s, dir, nowNs),
          "kafka_join_sync_delay", Seq("-45d", ""))
        .orderBy("time_", "member_id", "delay")),

    "q175_pxl_kafka_group_ids" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(KafkaRebalPath), Pxl.env(s, dir, nowNs),
          "kafka_group_ids", Seq("-45d"))
        .orderBy("group_id")),

    // kafka_producer_consumer_latency: the consumer/topic catalog views
    // (the latency join needs per-partition offset bookkeeping the synth
    // tables don't model; kafka_producers is degenerate on this fixture —
    // every produce event falls on the unresolved-remote rule since
    // 5 | 70, so its source/destination filter drops all rows).
    "q176_pxl_kafka_pc_consumers" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(KafkaPCLatencyPath), Pxl.env(s, dir, nowNs),
          "kafka_consumers", Seq("-45d", "ns1", "t1"))
        .orderBy("consumer", "source")),

    "q177_pxl_kafka_pc_topics" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(KafkaPCLatencyPath), Pxl.env(s, dir, nowNs),
          "kafka_topics", Seq("-45d", "ns1"))
        .orderBy("topic"))
  )

  // ---- oracles -------------------------------------------------------

  private def eventsCte: String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs)""".stripMargin

  /** Tracer source/destination CTE over `from` (no deep links). */
  private def srcDstCte(from: String): String =
    s"""w AS (SELECT *, 'pod-' || user_id || '-gen' || g AS pod,
       |        event_id % 3 <> 0 AS is_server, event_id % 5 <> 0 AS is_ra_pod,
       |        CASE WHEN event_id % 5 = 0 THEN '-'
       |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name
       |      FROM $from),
       |x AS (SELECT *,
       |        CASE WHEN is_server THEN is_ra_pod ELSE true END AS is_src_pod,
       |        CASE WHEN is_server THEN true ELSE is_ra_pod END AS is_dst_pod,
       |        CASE WHEN is_server THEN ra_name ELSE pod END AS src0,
       |        CASE WHEN is_server THEN pod ELSE ra_name END AS dst0
       |      FROM w)""".stripMargin

  private def linkSql(c: String, flag: String): String =
    s"""CASE WHEN $flag
       |    THEN '{"label":"' || $c || '","script":"px/pod","args":{"start_time":"-45d","pod":"' || $c || '"}}'
       |    ELSE '{"label":"' || $c || '","script":"px/ip","args":{"start_time":"-45d","ip":"' || $c || '"}}'
       |  END""".stripMargin

  /** join/sync pair stream (group/generation/member are all functions
    * of user_id in the synth, so the 3-key equijoin is a user_id join).
    */
  private val rebalPairsCte =
    """j AS (SELECT user_id, t FROM e WHERE event_id % 70 = 11),
      |s AS (SELECT user_id, t AS ts2, value AS lat FROM e
      |      WHERE event_id % 70 = 14),
      |p AS (SELECT j.user_id AS uid, j.t AS tj, s.ts2, s.lat
      |      FROM j JOIN s ON j.user_id = s.user_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q171_pxl_http_trace" -> {
      val respMsg = graft.functions.ProtocolOps.httpRespMessage
        .sql("(100 + event_id % 460)")
      s"""WITH $eventsCte,
         |x0 AS (SELECT * FROM e WHERE event_id % 2 = 0),
         |${srcDstCte("x0")}
         |SELECT t AS time_,
         |  '{"label":"' || md5(CAST(event_id AS VARCHAR)) ||
         |    '","script":"px/http_trace_id","args":{"start_time":"-90d","trace_id_filter":"'
         |    || md5(CAST(event_id AS VARCHAR)) || '"}}' AS trace_id,
         |  ${linkSql("src0", "is_src_pod")} AS source,
         |  ${linkSql("dst0", "is_dst_pod")} AS destination,
         |  value AS latency, 1 + event_id % 2 AS major_version,
         |  CASE WHEN event_id % 25 = 0 THEN '/healthz'
         |       WHEN event_id % 25 = 1 THEN '/readyz'
         |       ELSE '/api/v1/users/' || user_id END AS req_path,
         |  CASE event_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
         |       WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS req_method,
         |  '{"host":"svc","traceparent":"00-' ||
         |    md5(CAST(event_id AS VARCHAR)) || '-' ||
         |    substr(md5(CAST(event_id + 1 AS VARCHAR)), 1, 16) || '-01"}'
         |    AS req_headers,
         |  'req-' || event_id AS req_body,
         |  event_id % 512 AS req_body_size,
         |  100 + event_id % 460 AS resp_status,
         |  $respMsg AS resp_message,
         |  '{}' AS resp_headers,
         |  'resp-' || event_id AS resp_body,
         |  100 + event_id % 1000 AS resp_body_size
         |FROM x ORDER BY time_""".stripMargin
    },

    "q172_pxl_diff_flamegraph" ->
      s"""WITH $eventsCte,
         |s1 AS (SELECT 'app;frame_' || (event_id % 20) || ';leaf_'
         |          || (event_id % 20 % 5) AS stack_trace,
         |        1 + event_id % 7 AS cnt
         |      FROM e WHERE user_id = 4 AND g = 1),
         |p1 AS (SELECT stack_trace, CAST(sum(cnt) AS BIGINT) AS c1
         |       FROM s1 GROUP BY 1),
         |s2 AS (SELECT 'app;frame_' || (event_id % 20) || ';leaf_'
         |          || (event_id % 20 % 5) AS stack_trace,
         |        1 + event_id % 7 AS cnt
         |      FROM e WHERE user_id = 7 AND g = 1),
         |p2 AS (SELECT stack_trace, CAST(sum(cnt) AS BIGINT) AS c2
         |       FROM s2 GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS cx FROM s2)
         |SELECT p2.stack_trace, c2 AS "count", c2 - c1 AS delta,
         |  100 * c2 / cx AS percent, 'pod-7-gen1' AS pod
         |FROM p2 LEFT JOIN p1 ON p2.stack_trace = p1.stack_trace, tot
         |ORDER BY p2.stack_trace""".stripMargin,

    "q173_pxl_kafka_rebal_data" ->
      s"""WITH $eventsCte,
         |x0 AS (SELECT * FROM e WHERE event_id % 70 IN (11, 14)),
         |${srcDstCte("x0")}
         |SELECT t AS time_, src0 AS source, dst0 AS destination,
         |  1024 + event_id % 32768 AS remote_port,
         |  CASE WHEN event_id % 70 = 11 THEN 'JoinGroup'
         |       ELSE 'SyncGroup' END AS req_cmd,
         |  CASE WHEN event_id % 70 = 11
         |    THEN '{"group_id":"cg-' || (user_id % 4) || '"}'
         |    ELSE '{"group_id":"cg-' || (user_id % 4) ||
         |      '","generation_id":' || (user_id % 3) ||
         |      ',"member_id":"m-' || user_id || '"}' END AS req_body,
         |  CASE WHEN event_id % 70 = 11
         |    THEN '{"generation_id":' || (user_id % 3) ||
         |      ',"member_id":"m-' || user_id || '"}'
         |    ELSE '{"topics":[{"name":"t' || ((user_id + 1) % 4) ||
         |      '","partitions":[{"index":' || ((event_id + 1) % 3) ||
         |      ',"message_set":{"size":' || (100 + (event_id * 2) % 900) ||
         |      '}}]}]}' END AS resp,
         |  value AS latency
         |FROM x ORDER BY time_""".stripMargin,

    "q174_pxl_kafka_rebal_delay" ->
      s"""WITH $eventsCte,
         |$rebalPairsCte
         |SELECT tj AS time_, 'cg-' || (uid % 4) AS group_id,
         |  CAST(uid % 3 AS VARCHAR) AS generation_id,
         |  'm-' || uid AS member_id,
         |  CASE WHEN ts2 - tj + lat < 0 THEN 0
         |       ELSE ts2 - tj + lat END AS delay
         |FROM p ORDER BY time_, member_id, delay""".stripMargin,

    "q175_pxl_kafka_group_ids" ->
      s"""WITH $eventsCte,
         |$rebalPairsCte,
         |g1 AS (SELECT 'cg-' || (uid % 4) AS group_id, uid % 3 AS gen,
         |         count(*) AS num_members
         |       FROM p GROUP BY 1, 2),
         |mx2 AS (SELECT group_id, max(gen) AS gen FROM g1 GROUP BY 1)
         |SELECT g1.group_id, num_members
         |FROM g1 JOIN mx2 ON g1.group_id = mx2.group_id AND g1.gen = mx2.gen
         |ORDER BY g1.group_id""".stripMargin,

    // fetch events sit at event_id % 5 = 1, so the remote always resolves
    // to the event's own pod — source is the pod on both trace roles.
    "q176_pxl_kafka_pc_consumers" ->
      s"""WITH $eventsCte
         |SELECT DISTINCT 'client-' || (user_id % 20) AS consumer,
         |  'pod-' || user_id || '-gen' || g AS source
         |FROM e WHERE user_id % 10 % 3 = 1 AND user_id % 4 = 1
         |  AND event_id % 70 = 1
         |ORDER BY consumer, source""".stripMargin,

    "q177_pxl_kafka_pc_topics" ->
      s"""WITH $eventsCte
         |SELECT DISTINCT 't' || (user_id % 4) AS topic
         |FROM e WHERE user_id % 10 % 3 = 1 AND event_id % 70 IN (0, 1)
         |ORDER BY topic""".stripMargin
  )
}
