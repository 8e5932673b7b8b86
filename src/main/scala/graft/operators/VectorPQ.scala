package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions.dot

/** IVF-PQ: product-quantized ANN over the cell-partitioned IVF layout —
  * the 100 TB scale path beyond [[VectorIndex]]'s exact-vector cells
  * (reference context: the vector-similarity skip index,
  * src/Storages/MergeTree/MergeTreeIndexVectorSimilarity.cpp, quantizes
  * through usearch's scalar/product quantization settings; the published
  * architecture is Jégou et al. 2011 "Product Quantization for Nearest
  * Neighbor Search" — the IVFADC variant).
  *
  * Why it matters at scale: a 64-dim float64 embedding is 512 bytes; its
  * PQ code is `m` bytes (default 8) plus the stored norm — a ~50×
  * smaller index. The query path never touches raw vectors:
  *   - probe: queries pick `nProbe` cells against the SAME centroid
  *     table the exact index uses (bounded query-side expansion);
  *   - scan: ONLY the probed cells' partitions of the code table are
  *     read (partition pruning — nProbe/nCells of the corpus);
  *   - score: asymmetric distance computation (ADC) — each query builds
  *     an `m × k` lookup table of subvector inner products ONCE
  *     (driver-side, |queries| × m × k doubles — metadata-scale), and a
  *     candidate's approximate inner product is m array lookups summed
  *     in one codegen'd projection. No per-candidate dot products, no
  *     HOFs, no shuffle beyond the bounded per-query top-k.
  *
  * Determinism (oracle contract): training samples by xxhash64(vec_id)
  * order, sub-codebook seeds are the first k sample subvectors, Lloyd
  * iterations are fixed-count, ties break to the lowest code — same
  * derivation every run.
  */
object VectorPQ {

  /** Driver-resident codebooks: cents(j)(c) is sub-centroid c of
    * subspace j (m × k × subDim doubles — tiny). `residual` = codes
    * quantize x − centroid(cell) (Jégou §IV.A IVFADC — round 9) instead
    * of raw x; residuals are far smaller in magnitude than raw vectors,
    * so the same code size buys much finer quantization. */
  final case class Codebooks(m: Int, subDim: Int,
      cents: Array[Array[Array[Double]]], residual: Boolean = false)

  private def sqDist(x: Array[Double], c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) { val d = x(i) - c(i); s += d * d; i += 1 }
    s
  }

  /** Plain Lloyd k-means on the driver over a bounded sample — the same
    * bounded-sample training a 100 TB build would run (codebooks are
    * global metadata; training on everything buys nothing). Seeds = the
    * first k points (hash-ordered upstream), ties to the lowest index,
    * empty clusters keep their centroid. */
  private def kmeansLocal(xs: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    var cents = xs.take(k).map(_.clone)
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](xs.head.length))
      val counts = new Array[Long](cents.length)
      xs.foreach { x =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val d = sqDist(x, cents(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < x.length) { sums(best)(i) += x(i); i += 1 }
      }
      cents = Array.tabulate(cents.length)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c)))
    }
    cents
  }

  /** Train m sub-codebooks of k centroids each over a deterministic
    * hash-ordered sample (collected: ≤ sampleCap × dim doubles).
    * `vecCol` selects what is quantized — raw vectors ("v") or cell
    * residuals ("rv"); `residual` stamps the codebooks accordingly. */
  def train(e: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 8,
      sampleCap: Int = 16384, vecCol: String = "v",
      residual: Boolean = false): Codebooks = {
    val sample = e.withColumn("__hk", xxhash64(col("vec_id")))
      .orderBy("__hk", "vec_id").limit(sampleCap)
      .select(vecCol).collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty training sample")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val subDim = d / m
    val cents = Array.tabulate(m) { j =>
      val subs = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      kmeansLocal(subs, k, iters)
    }
    Codebooks(m, subDim, cents, residual)
  }

  /** MAP-SIDE residual: appends `rv` = v − centroid(cell), the IVFADC
    * quantization input. The dense-cid centroid table rides ONE nested
    * array literal indexed by the already-assigned cell — an expression,
    * not a join, so the build plan stays Exchange-free. */
  private[graft] def withResidual(assigned: DataFrame,
      cents: Seq[VectorIndex.Cent]): DataFrame = {
    import org.apache.spark.sql.graft.ExprColumn
    import org.apache.spark.sql.catalyst.expressions.Literal
    val byCid = cents.sortBy(_.cid)
    require(byCid.zipWithIndex.forall { case (c, i) => c.cid == i },
      "residual encoding needs dense 0..n-1 centroid ids")
    val centsLit = ExprColumn.column(Literal.create(
      byCid.map(_.cv.toSeq),
      ArrayType(ArrayType(DoubleType, containsNull = false),
        containsNull = false)))
    assigned.withColumn("rv",
      zip_with(col("v"),
        element_at(centsLit, col("cell").cast("int") + 1),
        (a, b) => a - b))
  }

  private def arrLit(a: Array[Double]): Column = {
    import org.apache.spark.sql.graft.ExprColumn
    import org.apache.spark.sql.catalyst.expressions.Literal
    ExprColumn.column(
      Literal.create(a.toSeq, ArrayType(DoubleType, containsNull = false)))
  }

  /** MAP-SIDE encoding: appends `codes` = array of m sub-codes, each the
    * argmin-distance sub-centroid. Distance comparison rides
    * ‖c‖² − 2⟨x,c⟩ (the ‖x‖² term is constant per argmin) — the same
    * no-join no-shuffle shape as [[VectorIndex.withCell]], with the same
    * two lanes: small m×k expands to codegen'd per-centroid structs;
    * larger configs ride one array literal + `transform` HOF per
    * subspace, keeping the generated method under the JVM's 64 KB limit
    * (the expanded form measured a whole-stage codegen fallback at
    * m×k = 256 fused into the partitioned write's sort). */
  def withCodes(e: DataFrame, cb: Codebooks,
      vecCol: String = "v"): DataFrame = {
    import org.apache.spark.sql.graft.ExprColumn
    import org.apache.spark.sql.catalyst.expressions.Literal
    val totalCents = cb.cents.map(_.length).sum
    val codes = (0 until cb.m).map { j =>
      val sub = slice(col(vecCol), j * cb.subDim + 1, cb.subDim)
      if (totalCents <= 64) {
        val scored = array(cb.cents(j).zipWithIndex.map { case (c, ci) =>
          val cn2 = c.map(x => x * x).sum
          struct((lit(cn2) - lit(2.0) * dot(sub, arrLit(c))).as("dist"),
            lit(ci).as("code"))
        }: _*)
        array_min(scored).getField("code")
      } else {
        val centType = ArrayType(StructType(Seq(
          StructField("code", IntegerType, nullable = false),
          StructField("cv", ArrayType(DoubleType, containsNull = false),
            nullable = false),
          StructField("cn2", DoubleType, nullable = false))),
          containsNull = false)
        val rows = cb.cents(j).zipWithIndex.map { case (c, ci) =>
          Row(ci, c.toSeq, c.map(x => x * x).sum)
        }.toSeq
        val centsLit = ExprColumn.column(Literal.create(rows, centType))
        array_min(transform(centsLit, c => struct(
          (c("cn2") - lit(2.0) * dot(sub, c("cv"))).as("dist"),
          c("code").as("code")))).getField("code")
      }
    }
    e.withColumn("codes", array(codes: _*))
  }

  private def writeCodebooks(spark: SparkSession, cb: Codebooks,
      indexDir: String): Unit = {
    val schema = StructType(Seq(
      StructField("j", IntegerType, nullable = false),
      StructField("ci", IntegerType, nullable = false),
      StructField("cv", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("residual", BooleanType, nullable = false)))
    val rows = for {
      j <- 0 until cb.m
      ci <- cb.cents(j).indices
    } yield Row(j, ci, cb.cents(j)(ci).toSeq, cb.residual)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$indexDir/codebooks")
  }

  private[graft] def readCodebooks(spark: SparkSession,
      indexDir: String): Codebooks = {
    val df = spark.read.parquet(s"$indexDir/codebooks")
    // pre-round-9 indexes carry no residual column → raw-vector codes
    val residual = df.columns.contains("residual") &&
      df.select("residual").head.getBoolean(0)
    val rows = df.select("j", "ci", "cv").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    val cents = Array.tabulate(m) { j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3)
    }
    Codebooks(m, cents(0)(0).length, cents, residual)
  }

  /** Build the persisted IVF-PQ index: IVF centroids (shared derivation
    * with [[VectorIndex]]), PQ codebooks, and the cell-partitioned CODE
    * table (vec_id, nrm, codes) — no raw vectors stored. Both the cell
    * assignment and the encoding are map-side; no Exchange between the
    * embeddings scan and the partitioned write. */
  /** `residual = true` quantizes x − centroid(cell) (IVFADC, Jégou
    * §IV.A) — the right choice when the corpus clusters (residual energy
    * ≪ raw energy). MEASURED on this synthetic corpus the premise fails:
    * mean ‖x − centroid(cell)‖/‖x‖ = 1.21 at nCells=16
    * (ResidualNormProbe — isotropic embeddings, unnormalized seed
    * centroids ADD energy), and the full PqRecallProbe grid shows
    * residual ADC recall@10 consistently ≤ raw (e.g. m16 k64 nProbe8:
    * 0.58 vs 0.63; rerank identical). Default stays raw — the measured
    * better lane here; flip per-index for clustered corpora. */
  def create(spark: SparkSession, embeddings: DataFrame, indexDir: String,
      nCells: Int = 16, m: Int = 8, k: Int = 16,
      residual: Boolean = false): Unit = {
    val e = VectorIndex.prep(embeddings)
    val cents = VectorIndex.seedCents(e, nCells)
    VectorIndex.writeCents(spark, cents, indexDir)
    if (residual) {
      // IVFADC proper (round 9): quantize x − centroid(cell). Same
      // Exchange-free shape — assignment, residual, and encoding are all
      // map-side expressions fused into the partitioned write.
      val assigned = withResidual(VectorIndex.withCell(e, cents), cents)
      val cb = train(assigned, m, k, vecCol = "rv", residual = true)
      writeCodebooks(spark, cb, indexDir)
      withCodes(assigned, cb, vecCol = "rv")
        .select(col("vec_id"), col("nrm"), col("codes"), col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexDir/pq")
    } else {
      val cb = train(e, m, k)
      writeCodebooks(spark, cb, indexDir)
      withCodes(VectorIndex.withCell(e, cents), cb)
        .select(col("vec_id"), col("nrm"), col("codes"), col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexDir/pq")
    }
  }

  /** ADC top-`k`: probe cells, read ONLY those partitions of the code
    * table, score candidates by per-query lookup tables. `queries` =
    * (qid, qv, qnrm). The approximate cosine is
    * Σ_j LUT[qid][j][code_j] / (qnrm × nrm). */
  def topK(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, nProbe: Int = 4): DataFrame = {
    val cb = readCodebooks(spark, indexDir)
    val p = VectorIndex.probes(spark, indexDir, queries, nProbe)
      .localCheckpoint()
    val cells = p.select("cell").distinct().collect()
      .map(_.get(0).toString.toLong)
    // per-query LUTs: |queries| × m × k doubles, computed driver-side —
    // the bounded-queries contract every probe path here shares
    val qrows = queries.select("qid", "qv", "qnrm").collect()
    val lutSchema = StructType(Seq(
      StructField("qid", LongType, nullable = false),
      StructField("lut", ArrayType(ArrayType(DoubleType, containsNull = false),
        containsNull = false), nullable = false)))
    val lutRows = qrows.map { r =>
      val qv = r.getSeq[Double](1).toArray
      val lut = (0 until cb.m).map { j =>
        val sub = java.util.Arrays.copyOfRange(qv, j * cb.subDim,
          (j + 1) * cb.subDim)
        cb.cents(j).map(c => {
          var s = 0.0
          var i = 0
          while (i < sub.length) { s += sub(i) * c(i); i += 1 }
          s
        }).toSeq
      }
      Row(r.getLong(0), lut)
    }
    val lutDf = spark.createDataFrame(
      spark.sparkContext.parallelize(lutRows.toSeq, 1), lutSchema)
    val scan = spark.read.parquet(s"$indexDir/pq")
      .filter(col("cell").isin(cells: _*))
    val cands0 = scan
      .join(broadcast(p.select("qid", "cell", "qnrm")), Seq("cell"))
      .join(broadcast(lutDf), Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
    // residual codes (IVFADC): ⟨q,x⟩ ≈ ⟨q,centroid(cell)⟩ + Σ LUT —
    // the per-(query, probed-cell) centroid term is driver-computed
    // (|queries| × nProbe doubles) and broadcast in
    val cands =
      if (!cb.residual) cands0
      else {
        val centsMap = VectorIndex.readCents(spark, indexDir)
          .map(c => c.cid -> c.cv).toMap
        val qvMap = qrows.map(r =>
          r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
        val qdcSchema = StructType(Seq(
          StructField("qid", LongType, nullable = false),
          StructField("cell", LongType, nullable = false),
          StructField("qdotc", DoubleType, nullable = false)))
        val qdcRows = p.select("qid", "cell").distinct().collect().map { r =>
          val q = qvMap(r.getLong(0))
          val cv = centsMap(r.getLong(1))
          var s = 0.0
          var i = 0
          while (i < q.length) { s += q(i) * cv(i); i += 1 }
          Row(r.getLong(0), r.getLong(1), s)
        }
        val qdcDf = spark.createDataFrame(
          spark.sparkContext.parallelize(qdcRows.toSeq, 1), qdcSchema)
        cands0.join(broadcast(qdcDf), Seq("qid", "cell"))
      }
    // static sum of m codegen'd lookups — no HOF in the hot path
    val ip = (0 until cb.m).map(j =>
      element_at(element_at(col("lut"), j + 1),
        col("codes").getItem(j) + 1)).reduce(_ + _)
    val ipTotal = if (cb.residual) col("qdotc") + ip else ip
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("acos").desc, col("vec_id"))
    cands.withColumn("acos", ipTotal / (col("qnrm") * col("nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id").as("nid"),
        round(col("acos"), 6).as("acos"))
  }

  /** ADC shortlist + EXACT re-rank — the production IVFADC query shape
    * (Jégou et al. §V; FAISS's IVFPQ + refine): the code table picks a
    * `shortlist`-sized candidate set per query from the probed cells
    * (cheap, m lookups per candidate, no raw vectors touched), then ONLY
    * those |queries| × shortlist rows join back to the raw vectors for
    * exact cosine scoring. At 100 TB the raw-vector table is touched for
    * thousands of rows per query, not the corpus. `vectors` = the raw
    * (vec_id, v, nrm) table (e.g. [[VectorIndex.prep]] of the corpus). */
  def topKRerank(spark: SparkSession, indexDir: String, vectors: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int = 4,
      shortlist: Int = 100): DataFrame = {
    val short = topK(spark, indexDir, queries, shortlist, nProbe)
      .select("qid", "nid")
    val cand = short
      .join(vectors.select(col("vec_id").as("nid"), col("v"), col("nrm"))
        .hint("shuffle_hash"), Seq("nid"))
      .join(broadcast(queries.select(col("qid"), col("qv"), col("qnrm"))),
        Seq("qid"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 6).as("cos"))
  }

  /** Streaming code-table maintenance (mirrors
    * [[VectorIndex.appendStream]]): each micro-batch of new embeddings
    * assigns its cell AND encodes its PQ codes map-side against the
    * EXISTING centroids/codebooks, appending into the cell-partitioned
    * code table — only touched cells' directories gain files, no
    * retrain, no rebuild. Queries issued after a batch see the new
    * vectors. */
  def appendStream(spark: SparkSession, stream: DataFrame, indexDir: String,
      checkpointLocation: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val cents = VectorIndex.readCents(spark, indexDir)
    val cb = readCodebooks(spark, indexDir)
    stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val assigned = VectorIndex.withCell(VectorIndex.prep(batch), cents)
        val encoded =
          if (cb.residual) withCodes(withResidual(assigned, cents), cb, "rv")
          else withCodes(assigned, cb)
        encoded
          .select(col("vec_id"), col("nrm"), col("codes"), col("cell"))
          .write.mode("append").partitionBy("cell")
          .parquet(s"$indexDir/pq")
        ()
      }
      .start()
  }

  def drop(spark: SparkSession, indexDir: String): Unit =
    VectorIndex.drop(spark, indexDir)
}
