package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.PrefixSum

/** PrefixSum must be value-identical to the naive one-task-per-key window
  * it replaces — including when buckets hold fewer rows than the moving
  * frame (the multi-bucket carry path). */
class PrefixSumSpec extends SparkFunSuite {

  private def synth(n: Int) = {
    val s = spark
    import s.implicits._
    (1 to n).map { i =>
      (i.toLong, s"f${i % 3}", BigDecimal((i * 37 % 500) + 1).setScale(2))
    }.toDF("k", "flag", "v")
  }

  private val naiveRun = Window.partitionBy("flag").orderBy("k")
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
  private val naiveMov = Window.partitionBy("flag").orderBy("k")
    .rowsBetween(-2, Window.currentRow)

  test("runningSum matches the naive window") {
    val df = synth(5000)
    val expected = df.withColumn("r", sum("v").over(naiveRun))
      .select("k", "flag", "r").orderBy("k").collect()
    val got = PrefixSum.runningSum(df, Seq("flag"), Seq(col("k")), "k",
        col("v"), "r", buckets = 16)
      .select("k", "flag", "r").orderBy("k").collect()
    assert(got.toSeq == expected.toSeq)
  }

  test("movingSum matches the naive window, dense buckets") {
    val df = synth(5000)
    val expected = df.withColumn("m", sum("v").over(naiveMov))
      .select("k", "flag", "m").orderBy("k").collect()
    val got = PrefixSum.movingSum(df, Seq("flag"), Seq(col("k")), "k",
        col("v"), frameRows = 3, "m", buckets = 16)
      .select("k", "flag", "m").orderBy("k").collect()
    assert(got.toSeq == expected.toSeq)
  }

  test("movingSum carry reaches across several sparse buckets") {
    // 40 rows over 50 buckets: most buckets hold 0-1 rows of a flag, so a
    // 5-row frame must assemble context from multiple predecessor buckets.
    val df = synth(40)
    val w = Window.partitionBy("flag").orderBy("k").rowsBetween(-4, Window.currentRow)
    val expected = df.withColumn("m", sum("v").over(w))
      .select("k", "flag", "m").orderBy("k").collect()
    val got = PrefixSum.movingSum(df, Seq("flag"), Seq(col("k")), "k",
        col("v"), frameRows = 5, "m", buckets = 50)
      .select("k", "flag", "m").orderBy("k").collect()
    assert(got.toSeq == expected.toSeq)
  }

  test("runningAndMoving fused pass matches both naive windows") {
    val df = synth(5000)
    val expected = df
      .withColumn("r", sum("v").over(naiveRun))
      .withColumn("m", sum("v").over(naiveMov))
      .select("k", "flag", "r", "m").orderBy("k").collect()
    val got = PrefixSum.runningAndMoving(df, Seq("flag"), Seq(col("k")), "k",
        col("v"), frameRows = 3, "r", "m", buckets = 16)
      .select("k", "flag", "r", "m").orderBy("k").collect()
    assert(got.toSeq == expected.toSeq)
  }

  test("runningAndMoving lag carry reaches across sparse buckets") {
    val df = synth(40)
    val wR = Window.partitionBy("flag").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wM = Window.partitionBy("flag").orderBy("k")
      .rowsBetween(-4, Window.currentRow)
    val expected = df
      .withColumn("r", sum("v").over(wR))
      .withColumn("m", sum("v").over(wM))
      .select("k", "flag", "r", "m").orderBy("k").collect()
    val got = PrefixSum.runningAndMoving(df, Seq("flag"), Seq(col("k")), "k",
        col("v"), frameRows = 5, "r", "m", buckets = 50)
      .select("k", "flag", "r", "m").orderBy("k").collect()
    assert(got.toSeq == expected.toSeq)
  }

  test("NULL partition keys spanning several buckets keep their carry") {
    // a USING join on the offsets table drops a NULL key's carry-in and
    // row count; every third row here has flag NULL, across all buckets
    val s = spark
    import s.implicits._
    val df = (1 to 600).map { i =>
      (i.toLong, if (i % 3 == 0) null else s"f${i % 2}",
        BigDecimal((i * 37 % 500) + 1).setScale(2))
    }.toDF("k", "flag", "v")
    val wM = Window.partitionBy("flag").orderBy("k")
      .rowsBetween(-4, Window.currentRow)
    val expected = df
      .withColumn("r", sum("v").over(naiveRun))
      .withColumn("m", sum("v").over(wM))
      .select("k", "flag", "r", "m").orderBy("k").collect().toSeq
    val run = PrefixSum.runningSum(df, Seq("flag"), Seq(col("k")), "k",
        col("v"), "r", buckets = 16)
      .select("k", "flag", "r").orderBy("k").collect().toSeq
    assert(run == expected.map(r => Row(r(0), r(1), r(2))))
    val both = PrefixSum.runningAndMoving(df, Seq("flag"), Seq(col("k")),
        "k", col("v"), frameRows = 5, "r", "m", buckets = 16)
      .select("k", "flag", "r", "m").orderBy("k").collect().toSeq
    assert(both == expected)
  }

  test("range-partitioned emit: partition order + local sort IS global order") {
    // Round-18 contract: the operator's one exchange is a RANGE partition
    // on the monotone bucket, so collected partition order ascends with the
    // leading order key — a per-partition sort must reproduce the global
    // ORDER BY sequence exactly, with no second full-table exchange.
    val df = synth(5000)
    val expected = df
      .withColumn("r", sum("v").over(naiveRun))
      .withColumn("m", sum("v").over(naiveMov))
      .select("k", "flag", "r", "m").orderBy("k").collect()
    val emitted = PrefixSum.runningAndMoving(df, Seq("flag"), Seq(col("k")),
        "k", col("v"), frameRows = 3, "r", "m", buckets = 16)
      .select("k", "flag", "r", "m")
      .sortWithinPartitions(col("k"))
    assert(!emitted.queryExecution.executedPlan.toString
        .contains("rangepartitioning(k"),
      "emit must not plan a global range exchange on the order key")
    assert(emitted.collect().toSeq == expected.toSeq)
  }

  test("the window axis genuinely fans out past the flag cardinality") {
    val df = synth(5000)
    val plan = PrefixSum.runningSum(df, Seq("flag"), Seq(col("k")), "k",
      col("v"), "r", buckets = 16).queryExecution.executedPlan.toString
    assert(plan.contains("__bucket"), "bucket column missing from the plan")
  }
}
