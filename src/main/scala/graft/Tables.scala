package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.concurrent.TrieMap

/** Table catalog over the driver-generated parquet corpus.
  *
  * Mirrors the reference's session-local table registry
  * (`src/Interpreters/DatabaseCatalog` semantics, engine = MergeTree reads)
  * as plain partition-prunable parquet scans: `spark.read.parquet` gives us
  * columnar vectorized reads, predicate pushdown, and row-group min/max
  * pruning — the Spark analog of MergeTree granule pruning
  * (reference: src/Storages/MergeTree/MergeTreeDataSelectExecutor.h:20).
  *
  * At cluster scale the same API reads a partitioned directory tree
  * (PARTITION BY date-ish expr → hive-style dirs), so nothing here is
  * local-mode specific.
  *
  * Each table is resolved once per session, like an `IStorage` looked up
  * once: the footer schema is inferred on a session's first read of
  * (dir, table) and reused while the path's modification time and length
  * are unchanged, so a warm `load` launches no Spark job. The record is
  * weakly keyed by the session and dies with it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** What one session has resolved: the dir its temp views were
    * registered from, and per (dir, table) the schema read from the
    * table's parquet footer, stamped with the path's modification time and
    * length. Only session-free values live here — a DataFrame would hold
    * its session and pin the weak key below. */
  private final class Resolved {
    @volatile var dir: String = _
    val schemas = TrieMap.empty[(String, String), ((Long, Long), StructType)]
  }

  // Weak keys: a session's record is dropped with the session, so nothing
  // here outlives it or grows JVM-wide.
  private val resolved = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Resolved]())

  private def record(spark: SparkSession): Resolved =
    resolved.computeIfAbsent(spark, _ => new Resolved)

  /** Register every corpus table of `dir` as a temp view (idempotent per
    * session: a repeat call with the same dir does nothing, a dir change —
    * rare: tests, sf switches — re-registers everything).
    * Fault-isolated per table: a single unreadable/drifted file must not
    * take the whole catalog down (the reference likewise fails per-table,
    * not per-catalog — src/Interpreters/DatabaseCatalog.cpp load loop).
    */
  def register(spark: SparkSession, dir: String): Unit = {
    val rec = record(spark)
    if (rec.dir != dir) {
      val failures = names.flatMap { n =>
        try {
          load(spark, dir, n).createOrReplaceTempView(n)
          None
        } catch {
          case e: Exception =>
            System.err.println(s"[graft.Tables] failed to register '$n': ${e.getMessage}")
            Some(n)
        }
      }
      if (failures.isEmpty) rec.dir = dir // degraded → retry next call
      else System.err.println(
        s"[graft.Tables] degraded catalog, missing: ${failures.mkString(",")}")
    }
  }

  /** The table file at `dir`, read fresh (the file list is re-listed on
    * every call). The footer schema is resolved once per session — the
    * first call, normally from `register`, runs Spark's schema-inference
    * job; later calls pass the remembered schema and launch no job. A
    * rewritten file carries a new stamp and is resolved again. Never the
    * registered view: a dialect `CREATE TABLE <name>` may replace it. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val events = name == "events"
    // the events branch needs this before the footer is read (see loadEvents)
    if (events) spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stamp =
      try {
        val p = new Path(path)
        val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(p)
        Some((st.getModificationTime, st.getLen))
      } catch { case _: java.io.IOException => None } // spark.read reports it
    val schemas = record(spark).schemas
    val known = schemas.get((dir, name))
      .collect { case (s, schema) if stamp.contains(s) => schema }
    val raw = known.fold(spark.read)(spark.read.schema(_)).parquet(path)
    if (known.isEmpty) stamp.foreach(s => schemas((dir, name)) = (s, raw.schema))
    if (events) loadEvents(raw) else raw
  }

  /** Schema-adaptive events read. The corpus has shipped `ts` both as
    * parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects
    * outright) and as TIMESTAMP(MICROS); input physical-type drift is a
    * certainty at scale, so branch on what the file actually contains —
    * the reference re-derives per-file physical types on every read
    * (src/Formats/SchemaInferenceUtils.h, MergeTreeData.cpp header checks).
    */
  private def loadEvents(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // With nanosAsLong set, a NANOS file reads ts as LongType while a
    // MICROS file is unaffected (reads as timestamp). Branch on the result.
    raw.schema("ts").dataType match {
      case LongType =>
        // Raw nanos: truncate to micros — the same ns→µs truncation DuckDB
        // applies casting TIMESTAMP_NS to TIMESTAMP, so oracles line up.
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: TimestampType | _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"events.ts has unsupported type $other")
    }
  }
}
