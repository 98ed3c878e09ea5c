package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The one owner of build-once lifecycle fixtures (the TableStore role,
  * for the artifacts a curation lifecycle writes and the frames it
  * pins). A fixture is keyed by (SparkContext, accessor name, sf dir)
  * and built once; its scratch roots sit under one parent directory per
  * SparkContext and its pins are recorded, so [[release]] frees both.
  *
  * Builders nest (a fixture may read another), so the map holds only
  * lazy entries and each build runs under its own entry's lock: callers
  * of one key wait for its single build while other keys proceed. A
  * failed build deletes what its scope allocated, leaves no entry and
  * rethrows; the next caller rebuilds.
  */
object Fixtures {

  /** What a builder allocates; freed with its fixture. */
  final class Scope private[Fixtures] (parent: String) {
    private val roots = ArrayBuffer.empty[String]
    private val pins = ArrayBuffer.empty[RDD[_]]

    /** A fresh scratch directory under the session's fixture parent. */
    def root(prefix: String): String = synchronized {
      val r = fresh(parent, prefix); roots += r; r
    }

    /** `localCheckpoint(true)`, with the checkpointed RDD recorded so
      * [[release]] can unpersist it.
      */
    def pin(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      val rdd = c.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
      synchronized { pins += rdd }
      c
    }

    private[Fixtures] def discard(): Unit = synchronized {
      pins.foreach(_.unpersist()); roots.foreach(deleteDir)
    }
  }

  private final class Entry {
    var value: Option[Any] = None
    var scope: Scope = _
    var seconds = 0.0
    var dropped = false
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Entry]()

  /** The fixture `name` over `dir`, built by `build` on first use. */
  @annotation.tailrec
  def apply[T](s: SparkSession, name: String, dir: String)(
      build: Scope => T): T = {
    val key = (s.sparkContext.applicationId, name, dir)
    val e = entries.computeIfAbsent(key, _ => new Entry)
    val got = e.synchronized {
      if (!e.dropped && e.value.isEmpty) {
        val scope = new Scope(parentDir(s))
        val t0 = System.nanoTime()
        try e.value = Some(build(scope))
        catch { case t: Throwable =>
          scope.discard()
          e.dropped = true
          entries.remove(key, e)
          throw t
        }
        e.scope = scope
        e.seconds = (System.nanoTime() - t0) / 1e9
      }
      if (e.dropped) None else e.value
    }
    got match {
      case Some(v) => v.asInstanceOf[T]
      case None => apply(s, name, dir)(build) // failed or released
    }
  }

  /** Unpersists every pin of `s`'s fixtures, deletes their parent
    * directory and drops them; returns (name, dir, build seconds) per
    * fixture dropped.
    */
  def release(s: SparkSession): Seq[(String, String, Double)] = {
    val app = s.sparkContext.applicationId
    val built = entries.asScala.toSeq.filter(_._1._1 == app)
      .flatMap { case (key @ (_, name, dir), e) =>
        entries.remove(key, e)
        e.synchronized {
          e.dropped = true
          e.value.map { _ => e.scope.discard(); (name, dir, e.seconds) }
        }
      }
    deleteDir(parentDir(s))
    built.sortBy(f => (f._1, f._2))
  }

  private def parentDir(s: SparkSession): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_fixtures_" + s.sparkContext.applicationId).getAbsolutePath

  private def fresh(base: String, prefix: String): String =
    new java.io.File(base,
      prefix + java.util.UUID.randomUUID().toString.replace("-", ""))
      .getAbsolutePath

  /** Fresh scratch directory for a query-scoped persisted-index round
    * trip; paired with [[deleteDir]] in the caller's `finally`.
    */
  private[graft] def tempIndexDir(prefix: String): String =
    fresh(System.getProperty("java.io.tmpdir"), prefix)

  private[graft] def deleteDir(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rec)
      f.delete(); ()
    }
    rec(new java.io.File(path))
  }
}
