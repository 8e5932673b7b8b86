package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in a fresh JVM: one closed-loop client that waits for
  * each statement's result before it sends the next.
  *
  * Reads a plan written by `perfbench/run.py` (key=value lines, then one
  * `stmt` line per statement) and writes JSON lines to the plan's `out`
  * file: setup timings, one record per executed statement, and (traced
  * runs) the raw job/stage/phase records the Python side turns into spans.
  *
  * Timed region per statement: building the DataFrame (a `SparkEntry`
  * query function, or `ClickHouseSql.sql`) plus `collect()`. Result
  * dumps, fingerprints, cache release and trace bookkeeping run outside it.
  */
object Harness {

  final case class Stmt(pass: Int, kind: String, check: Boolean,
      name: String, text: String)

  final case class Plan(conf: Map[String, String], stmts: Vector[Stmt]) {
    def apply(k: String): String = conf(k)
  }

  def readPlan(path: String): Plan = {
    val conf = mutable.Map.empty[String, String]
    val stmts = Vector.newBuilder[Stmt]
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().foreach { line =>
      if (line.startsWith("stmt\t")) {
        val f = line.split("\t", 6)
        stmts += Stmt(f(1).toInt, f(2), f(3) == "1", f(4), unescape(f(5)))
      } else if (line.contains("=")) {
        val i = line.indexOf('=')
        conf(line.substring(0, i)) = line.substring(i + 1)
      }
    } finally src.close()
    Plan(conf.toMap, stmts.result())
  }

  private def unescape(s: String): String =
    s.replace("\\n", "\n").replace("\\t", "\t").replace("\\\\", "\\")

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val out = new PrintWriter(Files.newBufferedWriter(
      Paths.get(plan("out")), StandardCharsets.UTF_8))
    val emit = new Emit(out)
    try run(plan, emit)
    catch {
      case e: Throwable =>
        emit("type" -> "fatal", "err" -> e.toString)
        throw e
    } finally out.close()
  }

  private def newSession(plan: Plan, k: Int): SparkSession = {
    val cpus = plan("cpus")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${plan("workload")}-$k")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", plan("warehouse"))
      .config("spark.local.dir", plan("local_dir"))
      .getOrCreate()
  }

  private def run(plan: Plan, emit: Emit): Unit = {
    val traced = plan("trace") == "1"
    val entryMode = plan("mode") == "entry"
    val cpus = plan("cpus").toInt
    val corpora = plan("corpora").split(",").toSeq
    val launchMs = plan("launch_ms").toLong

    // Set-up is repeated on fresh SparkContexts and each corpus alias; the
    // last session serves the timed statements. The first sample starts at
    // process launch, so it also carries JVM start and class loading.
    var spark: SparkSession = null
    corpora.zipWithIndex.foreach { case (corpus, k) =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = newSession(plan, k)
      spark.sparkContext.setLogLevel("ERROR")
      val r0 = System.nanoTime()
      graft.Tables.register(spark, corpus)
      val t1 = System.nanoTime()
      val secs =
        if (k == 0) (System.currentTimeMillis() - launchMs) / 1e3
        else (t1 - t0) / 1e9
      emit("type" -> "setup", "i" -> k, "secs" -> secs,
        "register_ms" -> (t1 - r0) / 1e6)
    }
    val corpus = corpora.last
    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val queries = if (entryMode) graft.SparkEntry.queries else Map.empty[
      String, (SparkSession, String) => DataFrame]
    val ch = graft.sql.ClickHouseSql
    ch.queryCache.clear()
    val dumpDir = new File(plan("dump_dir")); dumpDir.mkdirs()
    val warehouse = new File(plan("warehouse"))

    if (entryMode) {
      val oracles = graft.SparkEntry.oracleSql
      plan.stmts.map(_.name).distinct.foreach(n =>
        emit("type" -> "oracle", "name" -> n, "sql" -> oracles.getOrElse(n, null)))
    }
    emit("type" -> "calibration", "when" -> "before",
      "secs" -> graft.Bench.calibrationProbe(cpus))
    val jvm0 = JvmCounters.snapshot()

    val firstFp = mutable.Map.empty[String, String]
    var seq = 0
    def runStatement(st: Stmt): Unit = {
      val span = s"s$seq"
      val before = if (traced && st.kind == "write") Storage.listing(warehouse) else null
      val (h0, m0) = (ch.queryCache.hits, ch.queryCache.misses)
      sc.setLocalProperty(Tracer.SpanKey, span)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var buildEnd = 0L
      var rows: Array[org.apache.spark.sql.Row] = null
      var df: DataFrame = null
      var err: String = null
      try {
        df = if (entryMode) queries(st.name)(spark, corpus)
             else ch.sql(spark, st.text)
        buildEnd = System.nanoTime()
        rows = df.collect()
      } catch {
        case e: Throwable =>
          if (buildEnd == 0L) buildEnd = System.nanoTime()
          err = e.toString.linesIterator.take(3).mkString(" | ")
      }
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.SpanKey, null)
      // ---- outside the timed region ----
      var fp: String = null
      var dump: String = null
      if (rows != null) {
        val names = df.schema.fieldNames.toSeq
        fp = Json.fingerprint(rows, names)
        // entry queries are checked on their first execution; later ones
        // must reproduce its fingerprint
        val first = !entryMode || !firstFp.contains(st.name)
        if (entryMode && first) firstFp(st.name) = fp
        if (st.check && first) {
          val f = new File(dumpDir, s"$seq.json")
          val w = new PrintWriter(f, "UTF-8")
          try {
            w.println(Json.arr(names))
            rows.foreach(r => w.println(Json.row(r, names, exact = true)))
          } finally w.close()
          dump = f.getPath
        }
      }
      tracer.foreach(_.statementDone(span, df, w0, w1, (t0, buildEnd, t1),
        persistedBytes(spark)))
      if (before != null) {
        val written = Storage.listing(warehouse)
          .filter { case (p, sz) => !before.get(p).contains(sz) }
        tracer.foreach(_.write(seq, written.size, written.values.map(_._1).sum))
      }
      if (entryMode) releasePersisted(spark)
      emit("type" -> "stmt", "seq" -> seq, "pass" -> st.pass, "kind" -> st.kind,
        "name" -> st.name, "ms" -> (t1 - t0) / 1e6,
        "rows" -> (if (rows == null) -1 else rows.length),
        "cache_hits" -> (ch.queryCache.hits - h0),
        "cache_misses" -> (ch.queryCache.misses - m0),
        "fp" -> fp, "first_fp" -> firstFp.getOrElse(st.name, null),
        "dump" -> dump, "err" -> err)
      seq += 1
    }

    // passes in order, 0 being the cold pass; the plan lists them so
    plan.stmts.filter(_.pass >= 0).foreach(runStatement)
    val jvm1 = JvmCounters.snapshot()
    emit("type" -> "jvm", "jit_ms" -> (jvm1.jitMs - jvm0.jitMs),
      "classes_loaded" -> (jvm1.classes - jvm0.classes),
      "codegen_compile_ms" -> (jvm1.codegenMs - jvm0.codegenMs))
    // probes (pass -1): known-defect shapes, after the timed region
    plan.stmts.filter(_.pass < 0).foreach(runStatement)

    if (!entryMode) {
      // Final table state, checked against the DuckDB replay of the writes.
      plan.conf.get("final_tables").filter(_.nonEmpty).foreach { ts =>
        ts.split(",").foreach { t =>
          val df = spark.table(t)
          val names = df.schema.fieldNames.toSeq
          val f = new File(dumpDir, s"final_$t.json")
          val w = new PrintWriter(f, "UTF-8")
          try {
            w.println(Json.arr(names))
            df.collect().foreach(r => w.println(Json.row(r, names, exact = true)))
          } finally w.close()
          emit("type" -> "final", "table" -> t, "dump" -> f.getPath)
        }
      }
    }

    tracer.foreach { tr =>
      // fixed-cost floors, measured in the same JVM after the timed region
      emit("type" -> "floors", "empty_job_ms" -> Floors.emptyJob(spark),
        "shuffle_job_ms" -> Floors.shuffleJob(spark),
        "broadcast_ms" -> Floors.broadcastJoin(spark))
      plan.conf.get("final_tables").filter(_.nonEmpty).foreach { ts =>
        ts.split(",").foreach { t =>
          emit("type" -> "space", "table" -> t,
            "disk_bytes" -> Storage.tableBytes(spark, t),
            "compact_bytes" -> Storage.compactBytes(spark, t,
              new File(plan("run_dir"), s"compact_$t").getPath))
        }
      }
      tr.drain()
      tr.records.foreach(r => emit(r: _*))
    }
    emit("type" -> "calibration", "when" -> "after",
      "secs" -> graft.Bench.calibrationProbe(cpus))
    emit("type" -> "rss", "peak_rss_kb" -> peakRssKb())
    spark.stop()
  }

  /** Bytes held by persisted RDD blocks (caches and local checkpoints). */
  def persistedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** The same hygiene `graft.Bench` applies between timed queries: drop
    * cached frames and local checkpoints so leaked blocks from one query
    * never slow the next through GC pressure. */
  def releasePersisted(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def peakRssKb(): Long = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally src.close()
  }
}

/** Writes one JSON record per call to the run's output file. */
final class Emit(w: PrintWriter) {
  def apply(fields: (String, Any)*): Unit = w.println(Json.obj(fields: _*))
}

/** JVM-wide counters read before and after the timed region. */
final case class JvmCounters(jitMs: Long, classes: Long, codegenMs: Double)

object JvmCounters {
  def snapshot(): JvmCounters = {
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val cl = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    // the histogram keeps a sample once the count outgrows its reservoir,
    // so the total is count x mean (exact while every compile is sampled)
    JvmCounters(jit, cl, h.getCount * snap.getMean)
  }
}

/** Fixed-cost floor probes: what one job costs before it does any work. */
object Floors {
  private def median(f: () => Unit, n: Int = 7): Double = {
    f() // first call pays class loading and codegen
    val xs = (1 to n).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6
    }.sorted
    xs(n / 2)
  }

  def emptyJob(spark: SparkSession): Double =
    median(() => spark.sparkContext.parallelize(Seq(1), 1).count())

  def shuffleJob(spark: SparkSession): Double = median { () =>
    spark.range(0, 64, 1, 4).selectExpr("id % 4 AS k").groupBy("k").count()
      .collect()
  }

  def broadcastJoin(spark: SparkSession): Double = median { () =>
    import org.apache.spark.sql.functions.broadcast
    val small = spark.range(0, 8).toDF("k")
    spark.range(0, 64, 1, 4).selectExpr("id % 8 AS k")
      .join(broadcast(small), "k").collect()
  }
}

/** On-disk footprint of a catalog table against a compact rewrite. */
object Storage {
  def dataBytes(dir: File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) {
      val n = dir.getName
      if (n.startsWith(".") || n.startsWith("_")) 0L else dir.length
    } else Option(dir.listFiles).map(_.map(dataBytes).sum).getOrElse(0L)

  /** Data file path -> (size, mtime) under `dir`, to find what a write added. */
  def listing(dir: File): Map[String, (Long, Long)] = {
    val b = Map.newBuilder[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_"))
        b += f.getPath -> ((f.length, f.lastModified))
    walk(dir)
    b.result()
  }

  def tableDir(spark: SparkSession, t: String): File = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    new File(meta.location)
  }

  def tableBytes(spark: SparkSession, t: String): Long =
    dataBytes(tableDir(spark, t))

  def compactBytes(spark: SparkSession, t: String, out: String): Long = {
    spark.table(t).coalesce(1).write.mode("overwrite").parquet(out)
    dataBytes(new File(out))
  }
}
