package graft.operators

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** Query result cache analog (ref src/Interpreters/Cache/QueryResultCache.cpp,
  * src/Processors/Transforms/StreamInQueryResultCacheTransform.h).
  *
  * The reference caches materialized result chunks in server memory, keyed
  * by the query AST + relevant settings, with an entry cap and staleness
  * eviction. The Spark-native translation: key on the CANONICALIZED
  * analyzed plan (the engine's AST-after-normalization, so `SELECT a+1`
  * and `SELECT 1+a` share an entry exactly when Catalyst proves them
  * equivalent) and store the collected rows and schema on the driver. A
  * miss runs the query once, here; hit or miss, the caller gets a
  * LocalRelation frame over the rows, so its `collect()` launches no job.
  *
  * Like the reference's `query_cache_max_entry_size_in_bytes`, an entry
  * is stored only while rows × `schema.defaultSize` stays within
  * [[ResultCache.MaxEntryBytes]]; a larger result is returned but not
  * stored. LRU with a bounded entry count. Thread-safe via the intrinsic
  * lock, which is never held while a query runs.
  */
final class ResultCache(maxEntries: Int = 64) {

  private case class Entry(rows: Array[Row], schema: StructType, var lastUsed: Long)

  private val entries = mutable.LinkedHashMap.empty[String, Entry]
  private val tick = new AtomicLong(0)
  private val hitCount = new AtomicLong(0)
  private val missCount = new AtomicLong(0)
  private var generation = 0L // bumped by clear(): a miss that spans it is not admitted

  private def keyOf(df: DataFrame): String =
    df.queryExecution.analyzed.canonicalized.toString

  /** A hit's entry, or on a miss the generation the miss started in. */
  private def lookup(k: String): Either[Long, Entry] = synchronized {
    entries.get(k) match {
      case Some(e) =>
        hitCount.incrementAndGet()
        e.lastUsed = tick.incrementAndGet()
        Right(e)
      case None =>
        missCount.incrementAndGet()
        Left(generation)
    }
  }

  private def admit(k: String, e: Entry, gen: Long): Unit = synchronized {
    if (gen == generation && !entries.contains(k)) {
      if (entries.size >= maxEntries) entries.remove(entries.minBy(_._2.lastUsed)._1)
      entries.put(k, e)
    }
  }

  /** The result of `df` as a local frame: from the stored rows on a hit;
    * on a miss, `df` is collected once and the rows are admitted when
    * they fit the entry cap. */
  def cached(df: DataFrame): DataFrame = {
    val k = keyOf(df)
    val e = lookup(k) match {
      case Right(hit) => hit
      case Left(gen) =>
        val fresh = Entry(df.collect(), df.schema, tick.incrementAndGet())
        if (fresh.rows.length.toLong * fresh.schema.defaultSize <= ResultCache.MaxEntryBytes)
          admit(k, fresh, gen)
        fresh
    }
    df.sparkSession.createDataFrame(e.rows.toSeq.asJava, e.schema)
  }

  def hits: Long = hitCount.get
  def misses: Long = missCount.get
  def size: Int = synchronized(entries.size)

  /** Drop everything (reference SYSTEM DROP QUERY CACHE). */
  def clear(): Unit = synchronized {
    generation += 1
    entries.clear()
  }
}

object ResultCache {
  /** Largest stored entry, in estimated bytes — the reference's default
    * `query_cache_max_entry_size_in_bytes` (1 MiB). */
  val MaxEntryBytes: Long = 1L << 20
}
