package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Spark local property carrying the statement's span id onto its jobs. */
  val SpanKey = "perfbench.span"
}

/** Traced-run recorder, attached from outside the engine: a SparkListener
  * for jobs, stages and tasks, and a QueryExecutionListener for Catalyst
  * phases (the `QueryExecution.tracker` start and end times) and the
  * executed plan's scan and exchange counts. Everything is kept in memory
  * and written out after the timed region; `perfbench/spans.py` links the
  * records into spans by statement id and time.
  */
final class Tracer(spark: SparkSession) {
  private val out = new ConcurrentLinkedQueue[Seq[(String, Any)]]()
  private def rec(fields: (String, Any)*): Unit = out.add(fields)
  def records: Iterator[Seq[(String, Any)]] = out.iterator().asScala

  private final class StageAgg {
    var tasks, runMs, cpuNs, gcMs, shufW, shufR, fetchWaitMs, spill,
      inBytes, inRecs, waitMs = 0L
  }
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageInfo = new ConcurrentHashMap[(Int, Int), StageInfo]()
  private val stageAgg = new ConcurrentHashMap[(Int, Int), StageAgg]()
  @volatile private var drained = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).map(_.getProperty(Tracer.SpanKey)).orNull
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      rec("type" -> "job_start", "job" -> e.jobId, "t" -> e.time, "span" -> span,
        "stages" -> e.stageIds.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      rec("type" -> "job_end", "job" -> e.jobId, "t" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageInfo.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageAgg.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAgg)
      val m = e.taskMetrics
      val info = e.taskInfo
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.shufR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecs += m.inputMetrics.recordsRead
        }
      }
      if (info != null) a.synchronized { a.waitMs += info.launchTime }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordQe(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      recordQe(funcName, qe, ok = false)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private val seenQe = ConcurrentHashMap.newKeySet[Int]()

  private def recordQe(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    if (!seenQe.add(System.identityHashCode(qe))) return
    val phases = qe.tracker.phases.toSeq.flatMap { case (name, p) =>
      Seq(s"${name}_start" -> p.startTimeMs, s"${name}_end" -> p.endTimeMs)
    }
    val stats = try PlanStats.of(qe.executedPlan) catch { case _: Throwable => PlanStats() }
    rec((Seq("type" -> "qe", "func" -> funcName, "ok" -> ok) ++ phases ++ Seq(
      "scan_files" -> stats.files, "scan_files_total" -> stats.filesTotal,
      "scan_rows" -> stats.rows, "scan_bytes" -> stats.bytes,
      "exchanges" -> stats.exchanges, "broadcasts" -> stats.broadcasts,
      "cache_scans" -> stats.cacheScans)): _*)
  }

  /** Called after each statement, outside its timed region. Times are
    * epoch milliseconds; the build window is where the DataFrame was made
    * (the `ClickHouseSql.sql` call or the `SparkEntry` query function). */
  def statementDone(span: String, df: DataFrame, w0: Long, w1: Long,
      nanos: (Long, Long, Long), persistedBytes: Long): Unit = {
    val (t0, buildEnd, _) = nanos
    rec("type" -> "stmt_span", "span" -> span, "start" -> w0, "end" -> w1,
      "build_end" -> (w0 + (buildEnd - t0) / 1000000L),
      "persisted_bytes" -> persistedBytes)
    if (df != null) recordQe("statement", df.queryExecution, ok = true)
  }

  def write(seq: Int, files: Int, bytes: Long): Unit =
    rec("type" -> "write", "seq" -> seq, "files" -> files, "bytes" -> bytes)

  /** Wait until the listener bus has delivered every event posted so far:
    * run a marker job and wait for its end event, then flush stage records. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.SpanKey, "__drain")
    val marker = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = drained = true
    }
    sc.addSparkListener(marker)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Tracer.SpanKey, null)
    val deadline = System.currentTimeMillis() + 30000
    while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // the SQL execution listener runs on its own queue
    sc.removeSparkListener(marker)
    stageInfo.asScala.foreach { case ((id, att), si) =>
      val a = Option(stageAgg.get((id, att))).getOrElse(new StageAgg)
      val submit = si.submissionTime.getOrElse(0L)
      a.synchronized {
        rec("type" -> "stage", "stage" -> id, "attempt" -> att,
          "job" -> Option(stageJob.get(id)).getOrElse(-1), "start" -> submit,
          "end" -> si.completionTime.getOrElse(submit), "tasks" -> a.tasks,
          "run_ms" -> a.runMs, "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
          "shuffle_write_bytes" -> a.shufW, "shuffle_read_bytes" -> a.shufR,
          "fetch_wait_ms" -> a.fetchWaitMs, "spill_bytes" -> a.spill,
          "input_bytes" -> a.inBytes, "input_rows" -> a.inRecs,
          "task_wait_ms" -> math.max(0L, a.waitMs - a.tasks * submit))
      }
    }
  }
}

/** Scan, exchange and cache-read counts of an executed (final) plan. */
final case class PlanStats(files: Long = 0, filesTotal: Long = 0, rows: Long = 0,
    bytes: Long = 0, exchanges: Int = 0, broadcasts: Int = 0, cacheScans: Int = 0)

object PlanStats {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  /** What a scan root could have read: a directory's data files, or for a
    * Spark-written data file (skip-index pruning lists the surviving
    * files) the data files of its table directory; a single corpus file
    * stands for itself. */
  private def scope(f: File): File =
    if (f.isFile && f.getName.startsWith("part-")) {
      var d = f.getParentFile
      while (d != null && d.getName.contains("=")) d = d.getParentFile
      if (d == null) f else d
    } else f

  private def countFiles(d: File): Long =
    if (d.isFile) 1L
    else Option(d.listFiles).map(_.map { c =>
      if (c.isDirectory) countFiles(c)
      else if (c.getName.startsWith(".") || c.getName.startsWith("_")) 0L
      else 1L
    }.sum).getOrElse(0L)

  def of(plan: SparkPlan): PlanStats = {
    val all = nodes(plan)
    // identity-distinct: a node can surface both inside a stage and the final plan
    val uniq = all.foldLeft(List.empty[SparkPlan])((acc, n) =>
      if (acc.exists(_ eq n)) acc else n :: acc)
    val scans = uniq.collect { case s: FileSourceScanExec => s }
    // per scan: a table scanned twice counts its files twice on both sides
    def total(s: FileSourceScanExec): Long = s.relation.location.rootPaths
      .map(p => scope(new File(p.toUri.getPath)).getPath).distinct
      .map(p => countFiles(new File(p))).sum
    PlanStats(
      files = scans.map(metric(_, "numFiles")).sum,
      filesTotal = scans.map(total).sum,
      rows = scans.map(metric(_, "numOutputRows")).sum,
      bytes = scans.map(metric(_, "filesSize")).sum,
      exchanges = uniq.count(_.isInstanceOf[ShuffleExchangeExec]),
      broadcasts = uniq.count(_.isInstanceOf[BroadcastExchangeExec]),
      cacheScans = uniq.count(_.isInstanceOf[InMemoryTableScanExec]))
  }
}
