package graft.queries

import org.apache.spark.sql.functions._
import graft.pxl.PxlRunner
import Q._

/** Round-6 verbatim-widget tranche 4 — amqp + kafka completions:
  * amqp_data's stats/pod-list/flow-graph widgets, kafka_overview's
  * broker/producer/consumer/pods-flow widgets, the degenerate
  * kafka_producer_consumer_latency views (producers and the
  * offset-join kafka_data — both 0-row by the fixture's construction,
  * gated as schema round-trips), and kafka_consumer_rebalancing's
  * group-filtered raw-events view.
  *
  * Scale notes: every aggregate keys on its output tuple (broker pod,
  * producer client, edge) — one shuffle each; the kafka unnest is the
  * shared q131/q132 single-fork path; the time-window scalar is the
  * keyless 1-row broadcast merge; nothing collects.
  */
object Pxl13 {

  import Pxl.{RefPx, readRef}

  val KafkaOverviewPath = s"$RefPx/kafka_overview/kafka_overview.pxl"
  val KafkaPCLatencyPath =
    s"$RefPx/kafka_producer_consumer_latency/kafka_producer_consumer_latency.pxl"
  val KafkaRebalPath =
    s"$RefPx/kafka_consumer_rebalancing/kafka_consumer_rebalancing.pxl"

  private val nowNs = graft.functions.PixieFunctions.tsNsLit("2024-02-01")
  private val startNs = nowNs - 45L * 86400L * 1000000000L
  private val splitNs = graft.functions.PixieFunctions.tsNsLit("2024-01-15")

  val queries: Map[String, QFn] = Map(
    // amqp_average_stats: Content Header frames only; body_size plucks
    // an absent field -> 0 (PluckAsInt64UDF contract).
    "q204_pxl_amqp_avg_stats" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.AmqpDataPath), Pxl.env(s, dir, nowNs),
          "amqp_average_stats", Seq("-45d", "", ""))),

    // amqp producer/consumer pod lists: BasicPublish req / BasicDeliver
    // resp groups with plucked routing keys.
    "q205_pxl_amqp_producers" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.AmqpDataPath), Pxl.env(s, dir, nowNs),
          "amqp_producer_pod_list", Seq("-45d", "", ""))
        .orderBy("pod", "source")),

    "q206_pxl_amqp_consumers" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.AmqpDataPath), Pxl.env(s, dir, nowNs),
          "amqp_consumer_pod_list", Seq("-45d", "", ""))
        .orderBy("pod", "source")),

    // amqp_flow_graph: producer pod->queue edges appended with
    // queue->consumer pod edges.
    "q207_pxl_amqp_flow" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(Pxl4.AmqpDataPath), Pxl.env(s, dir, nowNs),
          "amqp_flow_graph", Seq("-45d", "", "", ""))
        .orderBy("src", "dest")),

    // kafka_overview brokers: produce/fetch throughput + byte totals
    // per (deep-linked) broker pod, 4 inner merges on the linked key.
    "q208_pxl_kafka_brokers" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(KafkaOverviewPath), Pxl.env(s, dir, nowNs),
          "kafka_brokers", Seq("-45d", "", ""))
        .orderBy("pod")),

    "q209_pxl_kafka_ov_producers" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(KafkaOverviewPath), Pxl.env(s, dir, nowNs),
          "kafka_producers", Seq("-45d", "", ""))
        .orderBy("pod")),

    "q210_pxl_kafka_ov_consumers" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(KafkaOverviewPath), Pxl.env(s, dir, nowNs),
          "kafka_consumers", Seq("-45d", "", ""))
        .orderBy("pod")),

    // kafka_pods_flow_graph: '-' endpoints drop, which eliminates every
    // produce record (70 ≡ 0 mod 5 -> remote always unresolved), so the
    // graph is the fetch self-edges with windowed quantile means.
    "q211_pxl_kafka_pods_flow" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(KafkaOverviewPath), Pxl.env(s, dir, nowNs),
          "kafka_pods_flow_graph", Seq("-45d", "", ""))
        .withColumn("request_throughput",
          round(col("request_throughput") * 1e10, 9) / 1e10)
        .orderBy("source")),

    // kafka_producer_consumer_latency kafka_producers: produce records
    // always hit the '-' endpoint filter (5 | 70) -> 0-row schema
    // round-trip.
    "q212_pxl_kafka_pc_producers" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(KafkaPCLatencyPath), Pxl.env(s, dir, nowNs),
          "kafka_producers", Seq("-45d", "ns1", "t1"))),

    // kafka_data: the offset join plucks fetch_offset/base_offset fields
    // the synth bodies don't carry -> both sides empty -> 0-row schema
    // round-trip through the full unnest+join pipeline.
    "q213_pxl_kafka_pc_data" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(KafkaPCLatencyPath), Pxl.env(s, dir, nowNs),
          "kafka_data", Seq("-45d", "ns1", "", "", "t1"))),

    // kafka_join_sync_group_events: the raw join/sync stream filtered to
    // one consumer group by the plucked group_id.
    "q214_pxl_kafka_rebal_events" -> ((s, dir) =>
      PxlRunner.runFunction(readRef(KafkaRebalPath), Pxl.env(s, dir, nowNs),
          "kafka_join_sync_group_events", Seq("-45d", "cg-1"))
        .orderBy("time_"))
  )

  // ---- oracles -------------------------------------------------------

  private def eventsCte: String =
    s"""e AS (SELECT epoch_us(ts) * 1000 AS t, epoch_us(ts) AS us, user_id,
       |        event_id, value,
       |        CASE WHEN epoch_us(ts) * 1000 < $splitNs THEN 0 ELSE 1 END AS g
       |      FROM events WHERE epoch_us(ts) * 1000 >= $startNs
       |        AND epoch_us(ts) * 1000 < $nowNs)""".stripMargin

  /** Tracer source/destination CTE (q171/q173 shape). */
  private def srcDstCte: String =
    s"""w AS (SELECT *, 'pod-' || user_id || '-gen' || g AS pod,
       |        'ns' || (user_id % 10 % 3) AS namespace,
       |        event_id % 3 <> 0 AS is_server, event_id % 5 <> 0 AS is_ra_pod,
       |        CASE WHEN event_id % 5 = 0 THEN '-'
       |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name
       |      FROM e),
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

  /** Produce/fetch unnested rows with deep-linked endpoints + the
    * process_stats time window (q131 convention).
    */
  private val kafkaLinkedCte =
    s"""p AS (SELECT ${linkSql("src0", "is_src_pod")} AS src_l,
       |        ${linkSql("dst0", "is_dst_pod")} AS dst_l,
       |        100 + event_id % 900 AS sz
       |      FROM x WHERE event_id % 70 = 0),
       |c AS (SELECT ${linkSql("src0", "is_src_pod")} AS src_l,
       |        ${linkSql("dst0", "is_dst_pod")} AS dst_l,
       |        100 + (event_id * 2) % 900 AS sz
       |      FROM x WHERE event_id % 70 = 1),
       |tw AS (SELECT max(t) - min(t) AS win FROM e)""".stripMargin

  val oracles: Map[String, String] = Map(
    // Content Header frames (frame_type 2); body_size absent -> 0.
    "q204_pxl_amqp_avg_stats" ->
      s"""WITH $eventsCte
         |SELECT 'Content Header' AS frame_name,
         |  avg(CAST(0 AS DOUBLE)) AS avg_body_size,
         |  max(CAST(0 AS BIGINT)) AS max_body_size,
         |  min(CAST(0 AS BIGINT)) AS min_body_size
         |FROM e WHERE event_id % 10 = 2""".stripMargin,

    // BasicPublish = (class 60, method 40): event_id ≡ 160 (mod 600),
    // always server-traced with an unresolved remote -> source '-'.
    "q205_pxl_amqp_producers" ->
      s"""WITH $eventsCte,
         |$srcDstCte
         |SELECT DISTINCT 'rk' || (event_id % 6) AS routing_key,
         |  namespace, pod, src0 AS source, dst0 AS destination
         |FROM x WHERE event_id % 100 = 60 AND event_id % 120 = 40
         |ORDER BY pod, source""".stripMargin,

    // BasicDeliver resp = (60, 60): event_id ≡ 59 (mod 600), remote
    // resolves to the event's own pod.
    "q206_pxl_amqp_consumers" ->
      s"""WITH $eventsCte,
         |$srcDstCte
         |SELECT DISTINCT 'rk' || (event_id % 6) AS routing_key,
         |  namespace, pod, src0 AS source, dst0 AS destination,
         |  'c' || (event_id % 3) AS consumer_tag
         |FROM x WHERE (event_id + 1) % 100 = 60 AND (event_id + 1) % 120 = 60
         |ORDER BY pod, source""".stripMargin,

    "q207_pxl_amqp_flow" ->
      s"""WITH $eventsCte,
         |$srcDstCte,
         |pr AS (SELECT DISTINCT 'rk' || (event_id % 6) AS rk, namespace,
         |         pod, src0, dst0
         |       FROM x WHERE event_id % 100 = 60 AND event_id % 120 = 40),
         |co AS (SELECT DISTINCT 'rk' || (event_id % 6) AS rk, namespace,
         |         pod, src0, dst0, 'c' || (event_id % 3) AS ct
         |       FROM x
         |       WHERE (event_id + 1) % 100 = 60 AND (event_id + 1) % 120 = 60)
         |SELECT src0 AS src, dst0 || '/routing_key/' || rk AS dest FROM pr
         |UNION ALL
         |SELECT dst0 || '/routing_key/' || rk AS src, src0 AS dest FROM co
         |ORDER BY src, dest""".stripMargin,

    "q208_pxl_kafka_brokers" ->
      s"""WITH $eventsCte,
         |$srcDstCte,
         |$kafkaLinkedCte,
         |pt AS (SELECT dst_l AS pod, count(*) AS tt FROM p GROUP BY 1),
         |ct AS (SELECT dst_l AS pod, count(*) AS tt FROM c GROUP BY 1),
         |bi AS (SELECT dst_l AS pod, CAST(sum(sz) AS BIGINT) AS b
         |       FROM p GROUP BY 1),
         |bo AS (SELECT dst_l AS pod, CAST(sum(sz) AS BIGINT) AS b
         |       FROM c GROUP BY 1)
         |SELECT pt.pod, pt.tt / win AS produce_rate,
         |  pt.tt AS produce_requests, bi.b AS bytes_produced_total,
         |  ct.tt / win AS consume_rate, ct.tt AS fetch_requests,
         |  bo.b AS bytes_consumed_total
         |FROM pt JOIN ct ON pt.pod = ct.pod JOIN bi ON pt.pod = bi.pod
         |  JOIN bo ON pt.pod = bo.pod, tw
         |ORDER BY pt.pod""".stripMargin,

    "q209_pxl_kafka_ov_producers" ->
      s"""WITH $eventsCte,
         |$srcDstCte,
         |$kafkaLinkedCte,
         |pt AS (SELECT src_l AS pod, count(*) AS tt FROM p GROUP BY 1),
         |bi AS (SELECT src_l AS pod, CAST(sum(sz) AS BIGINT) AS b
         |       FROM p GROUP BY 1)
         |SELECT pt.pod, pt.tt / win AS produce_rate,
         |  pt.tt AS produce_requests, bi.b AS bytes_produced_total
         |FROM pt JOIN bi ON pt.pod = bi.pod, tw
         |ORDER BY pt.pod""".stripMargin,

    "q210_pxl_kafka_ov_consumers" ->
      s"""WITH $eventsCte,
         |$srcDstCte,
         |$kafkaLinkedCte,
         |ct AS (SELECT src_l AS pod, count(*) AS tt FROM c GROUP BY 1),
         |bo AS (SELECT src_l AS pod, CAST(sum(sz) AS BIGINT) AS b
         |       FROM c GROUP BY 1)
         |SELECT ct.pod, ct.tt / win AS consume_rate,
         |  ct.tt AS fetch_requests, bo.b AS bytes_consumed_total
         |FROM ct JOIN bo ON ct.pod = bo.pod, tw
         |ORDER BY ct.pod""".stripMargin,

    // Only fetch records survive the '-' filter; source = destination =
    // the event's own pod, so the graph is per-pod self edges.
    "q211_pxl_kafka_pods_flow" ->
      s"""WITH $eventsCte,
         |$srcDstCte,
         |f AS (SELECT t, pod, namespace, value AS latency FROM x
         |      WHERE event_id % 70 = 1),
         |q AS (SELECT t - t % 10000000000 AS ts_bin, pod, namespace,
         |        CAST(floor(quantile_cont(latency, 0.50)) AS BIGINT) AS p50,
         |        CAST(floor(quantile_cont(latency, 0.90)) AS BIGINT) AS p90,
         |        CAST(floor(quantile_cont(latency, 0.99)) AS BIGINT) AS p99,
         |        count(latency) AS tt
         |      FROM f GROUP BY 1, 2, 3)
         |SELECT pod AS source, pod AS destination,
         |  true AS is_source_pod_type, true AS is_dest_pod_type, namespace,
         |  avg(p50) AS latency_p50, avg(p90) AS latency_p90,
         |  avg(p99) AS latency_p99,
         |  round(avg(tt / 10000000000) * 10000000000, 9) / 10000000000
         |    AS request_throughput,
         |  CAST(sum(tt) AS BIGINT) AS throughput_total
         |FROM q GROUP BY pod, namespace ORDER BY source""".stripMargin,

    "q212_pxl_kafka_pc_producers" ->
      "SELECT '' AS producer, '' AS source WHERE false",

    "q213_pxl_kafka_pc_data" ->
      s"""SELECT '' AS series_col, CAST(0 AS BIGINT) AS time_,
         |  CAST(0.0 AS DOUBLE) AS delay WHERE false""".stripMargin,

    // q173's raw stream narrowed to group cg-1 (user_id ≡ 1 mod 4).
    "q214_pxl_kafka_rebal_events" ->
      s"""WITH $eventsCte,
         |x0 AS (SELECT * FROM e WHERE event_id % 70 IN (11, 14)
         |       AND user_id % 4 = 1),
         |w AS (SELECT *, 'pod-' || user_id || '-gen' || g AS pod,
         |        event_id % 3 <> 0 AS is_server, event_id % 5 <> 0 AS is_ra_pod,
         |        CASE WHEN event_id % 5 = 0 THEN '-'
         |             ELSE 'pod-' || user_id || '-gen' || g END AS ra_name
         |      FROM x0),
         |x AS (SELECT *,
         |        CASE WHEN is_server THEN ra_name ELSE pod END AS src0,
         |        CASE WHEN is_server THEN pod ELSE ra_name END AS dst0
         |      FROM w)
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
         |FROM x ORDER BY time_""".stripMargin
  )
}
