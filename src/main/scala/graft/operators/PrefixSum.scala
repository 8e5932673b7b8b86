package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed running/moving sums — the scale-safe rendering of
  * `SUM(x) OVER (PARTITION BY p ORDER BY k ROWS ...)` when the PARTITION BY
  * key has tiny cardinality (reference: the streaming running-accumulator in
  * src/Processors/Transforms/MergeSortingTransform.h:18, which never funnels
  * a low-cardinality partition onto one thread).
  *
  * The naive Spark window serializes each partition value onto ONE task — a
  * 3-value key means 3 tasks at ANY data size (the round-3 q_win_running_sum
  * scale-killer). Here the ordering axis is cut into `buckets` contiguous
  * ranges by a DETERMINISTIC bucketing of the leading numeric order key
  * (`floor((k - min)/width)` — monotone, so bucket b's rows all precede
  * bucket b+1's in the window order and equal keys share a bucket). Then:
  *
  *   1. the pruned input is `localCheckpoint`ed ONCE — every downstream
  *      branch (bounds, totals, the window) reads the materialized blocks,
  *      so the base scan runs exactly once (round-4 verdict: the previous
  *      rendering recomputed it per branch);
  *   2. ONE window pass per (bucket, p) — buckets×|p| parallel groups, a
  *      single hash shuffle + sort — computes the local prefix sum, the
  *      local trailing-frame sum, and the row number;
  *   3. per-(bucket, p) totals — a map-side-combined aggregate over the
  *      checkpoint, tiny output — feed the cumulative carry-in offset per
  *      bucket (a window over the buckets×|p|-row totals table) and the
  *      per-group row count;
  *   4. offsets broadcast-join back: global running sum = local + carry-in.
  *
  * The big table is shuffled once; everything cross-bucket moves through the
  * broadcast offsets table. At 100 TB the plan is `buckets` parallel chains,
  * not |p| serial ones.
  */
object PrefixSum {

  /** Contiguous-range bucket id for the leading order key. The min/max
    * bounds come from a 2-value aggregate over the CHECKPOINTED input —
    * reading the already-materialized blocks, not a second base scan. */
  private def bucketed(
      df: DataFrame, leadKey: String, buckets: Int): (DataFrame, Column) = {
    val Array(lo, hi) = df.agg(
      min(col(leadKey).cast("double")), max(col(leadKey).cast("double")))
      .collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
    val width = math.max((hi - lo + 1.0) / buckets, 1e-9)
    (df.withColumn("__bucket",
      floor((col(leadKey).cast("double") - lit(lo)) / lit(width)).cast("int")),
      col("__bucket"))
  }

  /** (bucketed input, per-(bucket,p) totals with row counts, carry offsets).
    * Shared skeleton: checkpoint once, bucket, aggregate tiny totals, window
    * the tiny totals into cumulative carry-in offsets per bucket. */
  private def skeleton(
      df: DataFrame,
      partCols: Seq[String],
      leadKey: String,
      value: Column,
      buckets: Int): (DataFrame, Column, DataFrame) = {
    val snap = df.localCheckpoint()
    val (withB, b) = bucketed(snap, leadKey, buckets)
    val grp = b +: partCols.map(col)
    val totals = withB.groupBy(grp: _*)
      .agg(sum(value).as("__tot"), count(lit(1)).as("__n"))
    val carry = Window.partitionBy(partCols.map(col): _*).orderBy(b)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__off", sum(col("__tot")).over(carry))
      .drop("__tot")
    (withB, b, offsets)
  }

  /** Left-joins the broadcast per-(bucket, p) offsets (`__off`, `__n`) on
    * null-safe keys: a USING join drops a NULL partition key's carry-in
    * and row count. */
  private def withOffsets(df: DataFrame, offsets: DataFrame,
      partCols: Seq[String]): DataFrame = {
    val keys = "__bucket" +: partCols
    val o = offsets.select(
      keys.map(c => col(c).as(s"__o_$c")) :+ col("__off") :+ col("__n"): _*)
    df.join(broadcast(o),
        keys.map(c => col(c) <=> col(s"__o_$c")).reduce(_ && _), "left")
      .drop(keys.map(c => s"__o_$c"): _*)
  }

  /** Running sum: SUM(value) OVER (PARTITION BY partCols ORDER BY orderCols
    * ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), distributed over
    * `buckets` range chunks of the (non-null numeric) leading order key.
    * `orderCols` must start with `leadKey` and reach a total order. */
  def runningSum(
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[Column],
      leadKey: String,
      value: Column,
      out: String,
      buckets: Int): DataFrame = {
    val (withB, b, offsets) = skeleton(df, partCols, leadKey, value, buckets)
    val grp = b +: partCols.map(col)
    val local = Window.partitionBy(grp: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withOffsets(withB.withColumn("__loc", sum(value).over(local)),
        offsets, partCols)
      .withColumn(out, col("__loc") + coalesce(col("__off"), lit(0)))
      .drop("__bucket", "__loc", "__off", "__n")
  }

  /** Running AND trailing-frame sum in ONE window pass — the form the bench
    * query needs. The trailing sum is pure algebra over the running sum:
    * mov_k(i) = R(i) − R(i−k), so only rows whose k-row frame crosses a
    * bucket start (the first k−1 rows of each bucket — buckets×|p|×(k−1)
    * rows, TINY) need cross-bucket context; every other row's frame is
    * bucket-local and comes out of the same window pass that computed the
    * prefix sum. The fixup context is each bucket's last k rows (also tiny):
    * within heads ∪ tails ordered globally, a head row's k-th predecessor is
    * exactly its k-th global predecessor (sparse buckets recurse — a bucket
    * with fewer than k rows contributes ALL its rows to the tail set), so a
    * lag(k) over the tiny edge set closes every frame.
    *
    * Round-18 (guide §2.4 "two operations keyed the same way share one
    * exchange"): the window's exchange is a RANGE partition on `__bucket`
    * instead of a hash — RangePartitioning(__bucket) satisfies the window's
    * ClusteredDistribution(__bucket, p), and because `__bucket` is MONOTONE
    * in the leading order key, partition-index order IS the query's output
    * order. The emitter then needs only a per-partition sort: the former
    * plan's SECOND full-table exchange (the global ORDER BY range shuffle
    * over interior ∪ fixes) is gone, and so is the union — head rows take
    * their fixed frame through a broadcast join on the tiny
    * (bucket, p, row) correction table. One big shuffle total.
    *
    * Output contract: rows are emitted partition-ordered by `orderCols`
    * (partitions ascend with `__bucket`, each sorted within) — callers that
    * need the global ORDER BY emit take `sortWithinPartitions(orderCols)`
    * order as-is; collect()/coalesce(1) preserve partition index order.
    */
  def runningAndMoving(
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[Column],
      leadKey: String,
      value: Column,
      frameRows: Int,
      runOut: String,
      movOut: String,
      buckets: Int): DataFrame = {
    val k = frameRows
    val (withB, b, offsets) = skeleton(df, partCols, leadKey, value, buckets)
    val grp = b +: partCols.map(col)
    val shufP = df.sparkSession.sessionState.conf.numShufflePartitions
    val w = Window.partitionBy(grp: _*).orderBy(orderCols: _*)
    // ONE pass: local prefix sum, local trailing sum, position — same
    // partitioning + ordering, so WindowExec evaluates all three frames in
    // a single exchange + sort, and that exchange is the RANGE partition on
    // __bucket (satisfies the window's clustering; equal buckets never
    // split across partitions, so partition order = bucket order = output
    // order). The window output is checkpointed: the edge-fixup branch and
    // the emit branch both read the materialized rows instead of re-running
    // the sort — and the checkpoint preserves partition contents and index
    // order, which the emit relies on.
    val windowed = withB
      .repartitionByRange(shufP, b)
      .withColumn("__loc", sum(value)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__movloc", sum(value)
        .over(w.rowsBetween(-(k - 1), Window.currentRow)))
      .withColumn("__rn", row_number().over(w))
    val main = withOffsets(windowed, offsets, partCols)
      .withColumn(runOut, col("__loc") + coalesce(col("__off"), lit(0)))
      // project the spent intermediates away BEFORE materializing: the
      // checkpoint blocks carry only what the edge branch and the emit
      // still read (guide §2.3 "project before the exchange", applied to
      // the block store)
      .drop("__loc", "__off")
      .localCheckpoint()
    // Edge set: heads (first k−1 rows of a bucket — frames cross the bucket
    // start) plus tails (last k rows — the only lag targets heads can
    // need). buckets×|p|×(2k−1) rows; the per-p serial window is fine here.
    val edge = main.filter(col("__rn") <= k - 1 || col("__rn") > col("__n") - k)
    val fixW = Window.partitionBy(partCols.map(col): _*).orderBy(orderCols: _*)
    val fixKeys = "__bucket" +: partCols :+ "__rn"
    val fixes = edge
      .withColumn("__fix",
        col(runOut) - coalesce(lag(col(runOut), k).over(fixW), lit(0)))
      .filter(col("__rn") <= k - 1)
      .select(fixKeys.map(c => col(c).as(s"__f_$c")) :+ col("__fix"): _*)
    // Broadcast the tiny correction table back onto the checkpointed main
    // (a map-side join — partition layout untouched): head rows take the
    // fixed frame, every other row its bucket-local one. The big table is
    // never unioned or re-shuffled; each output partition ends with one
    // in-place sort by the order columns (buckets interleave their |p|
    // window groups within a partition, so the local sort is required).
    // Null-safe equality on the part keys: a null-keyed window partition
    // must still receive its head fixes.
    // No ordering is imposed here: partitions ascend with __bucket (range
    // partitioned) but rows within a partition sit in window order
    // ((bucket, p, orderCols)), so a caller that needs the global ORDER BY
    // emit finishes with ONE local sortWithinPartitions(orderCols) — no
    // second full-table exchange.
    main.join(broadcast(fixes),
        fixKeys.map(c => col(c) <=> col(s"__f_$c")).reduce(_ && _), "left")
      .withColumn(movOut, coalesce(col("__fix"), col("__movloc")))
      .drop("__bucket" +: "__loc" +: "__movloc" +: "__rn" +: "__n" +:
        "__off" +: "__fix" +: fixKeys.map(c => s"__f_$c"): _*)
  }

  /** Moving sum over the trailing `frameRows` rows (ROWS frameRows-1
    * PRECEDING .. CURRENT ROW): the fused pass minus the running column. */
  def movingSum(
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[Column],
      leadKey: String,
      value: Column,
      frameRows: Int,
      out: String,
      buckets: Int): DataFrame =
    runningAndMoving(df, partCols, orderCols, leadKey, value, frameRows,
      "__run_drop", out, buckets).drop("__run_drop")
}
