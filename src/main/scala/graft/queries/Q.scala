package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers keeping the Spark query and its DuckDB oracle in
  * lockstep. Pattern: every floating-point aggregate is quantized to 1e-6
  * BEFORE summation (per-row IEEE ops are deterministic and identical in
  * both engines; the integer sum is exact and order-independent), so
  * results hash-match regardless of partitioning / summation order — at
  * any scale factor.
  */
object Q {
  type QFn = (SparkSession, String) => DataFrame

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.core.Tables(s, dir, name)

  /** [[graft.core.Tables.plain]] — the consumer-sensitive spread
    * opt-out for exchange-bound consumers (dedup/CC/index-append) and
    * lifecycle cache builders, where the spread exchange is measured
    * net-negative (guide §2.4; r15 A/B in OPTIMIZATION_r15.md).
    */
  def tp(s: SparkSession, dir: String, name: String): DataFrame =
    graft.core.Tables.plain(s, dir, name)

  /** Order-independent exact sum of a double column (quantized at 1e-6). */
  def qsum(c: Column): Column =
    sum(floor(c * lit(1000000.0) + lit(0.5))) / lit(1000000.0)
  def qsumSql(x: String): String =
    s"SUM(CAST(floor($x * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0"

  /** Order-independent mean built from the quantized sum. */
  def qavg(c: Column): Column = qsum(c) / count(c)
  def qavgSql(x: String): String = s"(${qsumSql(x)}) / COUNT($x)"

  /** Memoized logical-plan reuse for the synthesized protocol tables:
    * each is a wide projection over the fact scan whose ANALYSIS cost
    * (withColumn chains re-resolve the growing plan) was being re-paid
    * on every query build — pure driver CPU, identical frame every time.
    * DataFrames are immutable, so handing the same instance to every
    * query in a session is semantics-free.
    *
    * Entries are SoftReferences keyed by (applicationId, dir, key) —
    * NOT a WeakHashMap keyed by the session: a cached DataFrame
    * strongly references its SparkSession (values referencing keys),
    * so that map could never evict and every retired session's plans
    * would leak in a long-lived process. Soft values let the GC drop
    * plans under memory pressure, and a hit is only served back to the
    * very session that built it (a new session re-analyzes — which is
    * all the memo ever saved).
    */
  private val dfCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), java.lang.ref.SoftReference[DataFrame]]()
  def memoDf(s: SparkSession, dir: String, key: String)(build: => DataFrame): DataFrame = {
    val k = (s.sparkContext.applicationId, dir, key)
    Option(dfCache.get(k)).flatMap(r => Option(r.get))
      .filter(_.sparkSession eq s)
      .getOrElse {
        val df = build
        dfCache.put(k, new java.lang.ref.SoftReference(df))
        df
      }
  }

  /** The fixture's "now" anchor — max event ts ceiled to the next µs —
    * computed ONCE per (SparkContext, dataset) and memoized: without the
    * memo every anchored query build paid a full `max(ts)` column scan
    * (parquet aggregate pushdown is off by default), which at 100 TB is
    * an extra blocking scan per query. Values are Longs keyed by
    * (applicationId, dir): nothing pins a session reference.
    */
  private val tailNowCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  def tailNowNs(s: SparkSession, dir: String): Long =
    tailNowCache.computeIfAbsent((s.sparkContext.applicationId, dir), _ => {
      val mx = t(s, dir, "events").agg(max(col("ts"))).head().getLong(0)
      mx / 1000 * 1000 + 1000
    })
}
