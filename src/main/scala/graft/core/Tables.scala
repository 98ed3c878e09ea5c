package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.TimestampType

/** Named-table catalog over the harness parquet layout.
  *
  * Mirrors the reference's TableStore (name -> Table registry,
  * reference: src/table_store/table_store.h) re-expressed as a thin
  * resolver over partitioned parquet. At 100 TB the same API points at a
  * partitioned table (e.g. date-partitioned parquet / Delta); nothing in
  * the query layer changes because all access goes through `Tables(...)`.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Batch scan of a named table. Column pruning + predicate pushdown are
    * delegated to the parquet datasource (verify with explain: PushedFilters).
    *
    * The event-time column `ts` is surfaced as LongType epoch-ns — exactly
    * the reference's TIME64NS convention (SURVEY §1.2): time is int64 ns
    * everywhere in the engine, converted only at edges. The on-disk layout
    * stores it as a parquet TIMESTAMP (µs precision; ns in older drops —
    * both normalize here), so the scan itself carries a timestamp column
    * and `NsEpochPushdown` folds engine-side ns predicates back onto it
    * to keep them inside the parquet reader's PushedFilters.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureTimeConfig(spark)
    val df = nsView(spark.read.parquet(s"$dir/$name.parquet"))
    if (SpreadTables(name)) spread(spark, df, s"$dir/$name.parquet") else df
  }

  /** [[apply]] WITHOUT the scan spread — the consumer-sensitive opt-out
    * (guide §2.4: remove shuffles outright). The spread pays off only
    * when heavy per-row work runs directly over an under-parallel scan;
    * two consumer classes measurably LOSE from it instead:
    *
    *  - exchange-bound consumers (dedup/CC/index-append): the first
    *    downstream op is itself a shuffle, so the spread exchange is a
    *    pure extra pass (measured r14: q240 +0.8 s, q253 +0.9 s,
    *    q352 +2.3 s at local[32]);
    *  - lifecycle internals (curation/multimodal calendars): hundreds
    *    of SMALL jobs re-evaluate the table lineage, and each re-pays
    *    the exchange as ~cores extra tasks of pure overhead (measured:
    *    the cap4 calendar's task time is 6x lower without the spread,
    *    218 s vs 1248 s at sf0.1/local[32]).
    *
    * Results are identical by the engine-exactness contract
    * (partitioning-invariance); only the exchange is removed.
    */
  def plain(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureTimeConfig(spark)
    nsView(spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Tables whose scans [[apply]] spreads. Policy, not mechanism:
    * `documents` carries the opaque text payload — virtually every
    * consumer runs CPU-heavy per-row work (shingling, hashing,
    * winnowing, decode) directly over the scan, where an under-parallel
    * scan serializes the whole map side (measured 2x+ on the winnowing /
    * repetition / contamination heads at sf0.1); `embeddings` is the
    * vector sibling — per-row dim-64 dot products against broadcast
    * centroid/label matrices (measured: the ANN basket q251/q264/q275/
    * q306/q308/q310/q326 fell from ~37 s to ~15 s at sf0.1). Relational
    * and event tables are NOT listed: their queries are exchange-bound,
    * and the extra exchange measurably hurts (the CPU-heavy event sites —
    * protocol decode, PII redact, the PxL events base — call [[spread]]
    * themselves).
    */
  private val SpreadTables = Set("documents", "embeddings")

  /** Files under this size stay single-task even when narrow: their
    * per-row work cannot dominate, and the exchange would be pure
    * overhead on dimension-table lookups.
    */
  private val SpreadMinBytes = 49152L

  /** The one scan-spread decision: true iff the source is at least
    * [[SpreadMinBytes]] on disk and its bytes pack into fewer scan splits
    * than the session has cores (FilePartition packing is
    * `bytes / maxPartitionBytes`) — a single-row-group fixture parquet
    * otherwise executes the whole map side of a query on ONE core.
    *
    * The signal is STATIC — the file's on-disk size, not
    * `df.rdd.getNumPartitions`, which would force an eager physical
    * planning of the frame and sidestep AQE. A directory-layout dataset
    * is sized by summing its direct child files (a dirent stat would
    * report ~4 KB); an unstat-able path (object stores, globs) reports
    * 0 bytes and is never narrow. At production scale
    * `scanPartitions >= cores`, so this is always false there.
    */
  private[graft] def narrow(spark: SparkSession, path: String): Boolean = {
    val f = new java.io.File(path)
    val bytes =
      if (f.isDirectory)
        Option(f.listFiles).map(_.iterator.filter(_.isFile).map(_.length).sum)
          .getOrElse(0L)
      else f.length
    val maxPartBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val scanPartitions = math.max(1L, (bytes + maxPartBytes - 1) / maxPartBytes)
    bytes >= SpreadMinBytes && scanPartitions < spark.sparkContext.defaultParallelism
  }

  /** Scale-adaptive scan spread: a round-robin repartition to core count
    * immediately after a [[narrow]] scan costs one exchange of the (by
    * definition small) table and unlocks full parallelism for the
    * shingling/hashing/decode work above it; any other frame is returned
    * as is. Filters and column pruning still reach the scan
    * (PushPredicateThroughNonJoin / ColumnPruning traverse Repartition;
    * pinned by PlanSpec), and results are partitioning-invariant by the
    * repo's engine-exactness contract.
    */
  private[graft] def spread(spark: SparkSession, df: DataFrame,
                            path: String): DataFrame =
    if (narrow(spark, path)) df.repartition(spark.sparkContext.defaultParallelism)
    else df

  /** int64-ns view of the event-time column. `withColumn` replaces in
    * place, so column order (and every downstream schema expectation) is
    * unchanged. Session tz is UTC, so unix_micros reinterprets the stored
    * wall-clock micros verbatim — no zone shift on either engine side.
    */
  private def nsView(df: DataFrame): DataFrame =
    if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == TimestampType))
      df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
    else df

  /** Per-session time handling, set once on first table resolve:
    *  - parquet TIMESTAMP(NANOS) (older data drops) reads as LongType ns;
    *  - parquet timestamps without the UTC-adjusted flag read as
    *    TimestampType (not NTZ) so epoch extraction is expressible and the
    *    TPC-H date columns keep their TIMESTAMP-typed relation contract;
    *  - the NsEpochPushdown optimizer rule is registered so ns-literal
    *    range predicates over the `ts` ns-view still prune at the scan.
    */
  private def ensureTimeConfig(spark: SparkSession): Unit = synchronized {
    val nanosK = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(nanosK).contains("true")) spark.conf.set(nanosK, "true")
    val ntzK = "spark.sql.parquet.inferTimestampNTZ.enabled"
    if (!spark.conf.getOption(ntzK).contains("false")) spark.conf.set(ntzK, "false")
    if (!spark.experimental.extraOptimizations.contains(graft.plans.NsEpochPushdown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.NsEpochPushdown
  }

  /** Streaming tail of a named table — the analog of PxL df.stream()
    * (reference: src/carnot/planner/objects/dataframe.h:404-420). The file
    * source replays existing data then tails new files; in production this
    * would be Kafka or a Delta streaming source behind the same name.
    */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureTimeConfig(spark)
    val schema = spark.read.parquet(s"$dir/$name.parquet").schema
    // FileStreamSource requires a directory base path; a {name} glob keeps
    // the parent dir as base while matching just this table's file.
    nsView(spark.readStream.schema(schema).parquet(s"$dir/{$name}.parquet"))
  }
}
