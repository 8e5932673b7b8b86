package graft.operators

import java.io.ByteArrayInputStream

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprColumn
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Per-file skip indexes — the reference's MergeTree skip-index family
  * (src/Storages/MergeTree/MergeTreeIndexBloomFilter.cpp, …MinMax.cpp,
  * …Set.cpp, …BloomFilterText.cpp), with the data file as the granule:
  *   - bloom_filter → equality / IN probes on an xxhash64(seed=42) bloom;
  *   - minmax       → range and prefix probes on the file's [min, max];
  *   - set(N)       → exact membership while a file holds ≤ N distinct
  *                    values, match-all past the cap;
  *   - ngrambf_v1   → substring probes: every n-gram of the lowercased
  *                    needle must be in the file's gram bloom.
  *
  * Build: ONE aggregate per kind ([[perFile]]) — a single distributed
  * aggregate grouped by the `_metadata` file columns, one row per (file,
  * column) stamped with the file's path, length and modification time.
  * The explicit API (`create*`) writes those rows as a one-file parquet
  * index; the dialect and the transparent rule keep them on the driver
  * ([[Files]], built by [[build]]) and bring them up to date one new file
  * at a time, as the reference writes a part's index when it writes the
  * part.
  *
  * Probe: ONE probe per kind (`admits*`), a plain Scala predicate over a
  * file's summary, so pruning reads |files| driver-resident rows and
  * launches no job; the explicit `scan*` then reads only the admitted
  * files and re-applies the exact predicate (false positives re-check; no
  * false negatives). Like the reference, an index only prunes when the
  * layout clusters the column — write with `repartitionByRange` /
  * `partitionBy` on the indexed key.
  */
object SkipIndex {

  /** A data file as an index covers it. A rewritten or replaced file gets
    * a new stamp, so a summary never speaks for a file it was not built
    * from. `path` is the Hadoop path string (`file:/…`). */
  final case class Stamp(path: String, size: Long, mtime: Long)

  def stampOf(st: FileStatus): Stamp =
    Stamp(st.getPath.toString, st.getLen, st.getModificationTime)

  /** One file's summary of one indexed column — what a probe reads. A
    * missing bloom / bound means the file holds no non-null value. */
  sealed trait Summary
  final case class Bloom(dtype: Option[DataType], filter: Option[BloomFilter])
    extends Summary
  final case class MinMax(minS: Option[String], maxS: Option[String],
      minD: Option[Double], maxD: Option[Double]) extends Summary
  final case class ValueSet(values: Option[Set[String]]) extends Summary
  final case class Grams(n: Int, filter: Option[BloomFilter]) extends Summary

  /** A built index: each covered file's summaries by column. */
  type Files = Map[Stamp, Map[String, Summary]]

  /** What to index and how. `items` sizes the blooms (expected distinct
    * items per file), `n` is the gram length, `maxValues` the set cap. */
  final case class Spec(kind: String, columns: Seq[String],
      items: Long = 100000L, n: Int = 3, maxValues: Int = 100)

  object Spec {
    /** The DDL form `TYPE kind[(param)]`: the parameter is the set cap or
      * the gram length; a bloom_filter's false-positive rate is ignored. */
    def ddl(kind: String, columns: Seq[String], param: Option[Int]): Spec =
      kind match {
        case "set" => Spec(kind, columns, maxValues = param.getOrElse(100))
        case "ngrambf_v1" => Spec(kind, columns, items = 200000L,
          n = param.getOrElse(3))
        case _ => Spec(kind, columns)
      }
  }

  private def hashOf(value: Any): Long =
    hashOfLiteral(Literal(value))

  /** Hash of `value` cast to the indexed column's own type — the build
    * side hashes XxHash64 over the COLUMN type, so an Int probe against a
    * Long column (or a date string against a DateType column) must land
    * on the same lane or every file is silently excluded. */
  private def hashOfTyped(value: Any, dt: DataType): Long = {
    val lit = Literal(value)
    if (lit.dataType == dt) hashOfLiteral(lit)
    else XxHash64(Seq(Cast(lit, dt, Some("UTC"))), 42L)
      .eval(InternalRow.empty).asInstanceOf[Long]
  }

  /** Hash lane for an already-typed literal (internal representation) —
    * the path the transparent pruning rule uses. */
  private[graft] def hashOfLiteral(lit: Literal): Long =
    XxHash64(Seq(lit), 42L).eval(InternalRow.empty).asInstanceOf[Long]

  // --------------------------------------------------------------- build

  private def blooms(c: Column, items: Long) =
    ExprColumn.column(new BloomFilterAggregate(
      XxHash64(Seq(ExprColumn.expression(c)), 42L),
      Literal(items), Literal(items * 8)).toAggregateExpression())

  /** The one build: per-file summaries of `spec.columns` over `data`, as
    * rows (file, file_size, file_mtime, column, <kind's fields>). */
  private def perFile(spec: Spec, data: DataFrame): DataFrame = {
    val key = Seq("__file", "__size", "__mtime")
    val keyed = data.select(Seq(
      col("_metadata.file_path").as("__file"),
      col("_metadata.file_size").as("__size"),
      unix_millis(col("_metadata.file_modification_time")).as("__mtime")) ++
      spec.columns.map(col): _*)
    def rows(perFile: DataFrame, c: String, fields: Column*) =
      perFile.select(Seq(col("__file").as("file"), col("__size").as("file_size"),
        col("__mtime").as("file_mtime"), lit(c).as("column")) ++ fields: _*)
    def perColumn(aggs: Seq[Column])(fields: String => Seq[Column]) = {
      val agg = keyed.groupBy(key.map(col): _*).agg(aggs.head, aggs.tail: _*)
      spec.columns.map(c => rows(agg, c, fields(c): _*)).reduce(_ unionAll _)
    }
    spec.kind match {
      case "bloom_filter" =>
        perColumn(spec.columns.map(c => blooms(col(c), spec.items).as(s"__bloom_$c")) :+
            count(lit(1)).as("__n")) { c =>
          Seq(lit(data.schema(c).dataType.sql).as("dtype"), col("__n").as("n_items"),
            col(s"__bloom_$c").as("bloom"))
        }
      case "minmax" =>
        perColumn(spec.columns.flatMap { c =>
          // try_cast on the double lane: string columns (prefix pruning
          // rides the string lane) would throw under ANSI on a plain cast
          Seq(min(col(c)).cast("string").as(s"__mn_$c"),
            max(col(c)).cast("string").as(s"__mx_$c"),
            expr(s"try_cast(min($c) as double)").as(s"__mnd_$c"),
            expr(s"try_cast(max($c) as double)").as(s"__mxd_$c"))
        }) { c =>
          Seq(col(s"__mn_$c").as("min_s"), col(s"__mx_$c").as("max_s"),
            col(s"__mnd_$c").as("min_d"), col(s"__mxd_$c").as("max_d"))
        }
      case "set" =>
        perColumn(spec.columns.map(c =>
            collect_set(col(c).cast("string")).as(s"__set_$c"))) { c =>
          Seq(when(size(col(s"__set_$c")) <= spec.maxValues, col(s"__set_$c"))
            .otherwise(lit(null)).as("values"))
        }
      case "ngrambf_v1" =>
        val text = spec.columns.head
        val n = spec.n
        val grams = keyed.select(key.map(col) :+ lower(col(text)).as("__t"): _*)
          .select(key.map(col) :+ explode(expr(
            // sequence(1, 0) is DESCENDING in Spark — guard short rows explicitly
            s"CASE WHEN length(__t) >= $n THEN transform(sequence(1, length(__t) - ${n - 1}), " +
              s"i -> substring(__t, i, $n)) ELSE array() END")).as("gram"): _*)
          .distinct()
        rows(grams.groupBy(key.map(col): _*)
            .agg(blooms(col("gram"), spec.items).as("bloom"), count(lit(1)).as("n_items")),
          text, lit(n).as("n"), col("n_items"), col("bloom"))
      case other => throw new IllegalArgumentException(
        s"unsupported skip-index type $other (bloom_filter|minmax|ngrambf_v1|set)")
    }
  }

  private def bloomOf(bytes: Array[Byte]): Option[BloomFilter] =
    Option(bytes).map(b => BloomFilter.readFrom(new ByteArrayInputStream(b)))

  private def decode(kind: String, rows: Array[Row]): Files =
    rows.toSeq.groupBy { r =>
      Stamp(SparkPath.fromUrlString(r.getAs[String]("file")).toPath.toString,
        r.getAs[Long]("file_size"), r.getAs[Long]("file_mtime"))
    }.map { case (stamp, rs) =>
      stamp -> rs.map { r =>
        def opt[T](f: String): Option[T] = Option(r.getAs[T](f))
        r.getAs[String]("column") -> (kind match {
          case "bloom_filter" => Bloom(opt[String]("dtype").map(DataType.fromDDL),
            bloomOf(r.getAs[Array[Byte]]("bloom")))
          case "minmax" => MinMax(opt[String]("min_s"), opt[String]("max_s"),
            opt[java.lang.Double]("min_d").map(_.doubleValue),
            opt[java.lang.Double]("max_d").map(_.doubleValue))
          case "set" => ValueSet(opt[scala.collection.Seq[String]]("values").map(_.toSet))
          case "ngrambf_v1" => Grams(r.getAs[Int]("n"), bloomOf(r.getAs[Array[Byte]]("bloom")))
        }): (String, Summary)
      }.toMap
    }

  /** Summaries of the given parquet files of `dataDir` — one aggregate and
    * one collect. `schema` is the data's read schema (partition columns
    * included), so no footer inference job runs. */
  def build(spark: SparkSession, dataDir: String, files: Seq[String],
      schema: StructType, spec: Spec): Files =
    if (files.isEmpty) Map.empty
    else decode(spec.kind, perFile(spec, spark.read.schema(schema)
      .option("basePath", dataDir).parquet(files: _*)).collect())

  /** An index the explicit API wrote, read back onto the driver. */
  def load(spark: SparkSession, indexDir: String, kind: String): Files =
    decode(kind, spark.read.parquet(indexDir).collect())

  private def write(spark: SparkSession, dataDir: String, indexDir: String,
      spec: Spec): Unit =
    perFile(spec, spark.read.parquet(dataDir))
      .coalesce(1).write.mode("overwrite").parquet(indexDir)

  // -------------------------------------------------------------- probes

  /** bloom_filter: the file may hold one of the (pre-hashed) values. */
  def admitsHashes(hashes: Seq[Long]): Summary => Boolean = {
    case Bloom(_, f) => f.exists(bf => hashes.exists(bf.mightContainLong))
    case _ => true
  }

  /** minmax: the file's [min, max] can hold a value with `x >= lo` and/or
    * `x <= hi` — the rendering of >, >=, <, <=, =, BETWEEN and prefix
    * conjuncts. Numeric and timestamp probes compare on the double lane,
    * everything else on the string lane in UTF-8 binary order, both the
    * way Spark compares (NaN greatest, -0.0 = 0.0). */
  def admitsBound(lo: Option[Any], hi: Option[Any]): Summary => Boolean = {
    def dlane(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue())
      case t: java.sql.Timestamp => Some(t.getTime / 1000.0)
      case t: java.time.Instant => Some(t.toEpochMilli / 1000.0)
      case _ => None
    }
    def cmpS(a: String, b: String) =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    def side(v: Any, d: Option[Double], s: Option[String])(ok: Int => Boolean) =
      dlane(v) match {
        case Some(x) => d.exists(y => ok(SQLOrderingUtil.compareDoubles(y, x)))
        case None => s.exists(y => ok(cmpS(y, v.toString)))
      }
    (s: Summary) => s match {
      case MinMax(minS, maxS, minD, maxD) =>
        lo.forall(v => side(v, maxD, maxS)(_ >= 0)) &&
          hi.forall(v => side(v, minD, minS)(_ <= 0))
      case _ => true
    }
  }

  /** set: the file's exact value set holds one of `values` (an overflowed
    * file always matches). */
  def admitsValues(values: Seq[Any]): Summary => Boolean = {
    val probe = values.map(String.valueOf)
    (s: Summary) => s match {
      case ValueSet(vs) => vs.forall(set => probe.exists(set.contains))
      case _ => true
    }
  }

  /** ngrambf_v1: every gram of the lowercased needle may be in the file.
    * Needles shorter than n admit every file — the reference's
    * degradation. */
  def admitsNeedle(needle: String): Summary => Boolean = {
    val low = needle.toLowerCase
    (s: Summary) => s match {
      case Grams(n, f) =>
        low.length < n || f.exists(bf =>
          (0 to low.length - n).forall(i => bf.mightContainLong(hashOf(low.substring(i, i + n)))))
      case _ => true
    }
  }

  /** The files among `candidates` that the index covers and that `admits`
    * rules out for `column`. A file the index does not cover is never
    * ruled out. */
  def excluded(files: Files, column: String, candidates: Set[Stamp])(
      admits: Summary => Boolean): Set[Stamp] =
    candidates.filter(st =>
      files.get(st).flatMap(_.get(column)).exists(s => !admits(s)))

  private def admitted(files: Files, column: String)(
      admits: Summary => Boolean): Seq[String] = {
    val all = files.keySet
    (all -- excluded(files, column, all)(admits)).toSeq.map(_.path).sorted
  }

  private def prunedRead(spark: SparkSession, dataDir: String,
      files: Seq[String]): DataFrame = {
    val full = spark.read.parquet(dataDir)
    if (files.isEmpty) full.limit(0)
    else spark.read.option("basePath", dataDir).schema(full.schema).parquet(files: _*)
  }

  // --------------------------------------------- explicit API, per kind

  /** Index `columns` of every parquet part file under `dataDir`. Each row
    * records the column's data type so probes can cast to the build lane
    * ([[hashOfTyped]]). */
  def create(spark: SparkSession, dataDir: String, indexDir: String,
             columns: Seq[String], expectedItemsPerFile: Long = 100000L): Unit =
    write(spark, dataDir, indexDir,
      Spec("bloom_filter", columns, items = expectedItemsPerFile))

  /** Files whose bloom for `column` might contain ANY of `values` —
    * probes are cast to the indexed column's recorded type first. */
  def matchingFiles(spark: SparkSession, indexDir: String,
                    column: String, values: Seq[Any]): Seq[String] = {
    val files = load(spark, indexDir, "bloom_filter")
    val dt = files.valuesIterator.flatMap(_.get(column)).collectFirst {
      case Bloom(Some(t), _) => t
    }
    val hashes = dt match {
      case Some(t) => values.map(hashOfTyped(_, t))
      case None => values.map(hashOf)
    }
    admitted(files, column)(admitsHashes(hashes))
  }

  /** Pruned scan: only bloom-matching files are read; the exact equality
    * predicate re-checks, so the result equals the full scan. Returns an
    * empty (correctly-typed) frame when no file can match. */
  def scan(spark: SparkSession, dataDir: String, indexDir: String,
           column: String, values: Seq[Any]): DataFrame =
    prunedRead(spark, dataDir, matchingFiles(spark, indexDir, column, values))
      .filter(col(column).isin(values: _*))

  /** Per-file min/max index (the reference's `INDEX x TYPE minmax` —
    * MergeTreeIndexMinMax.cpp). Parquet already prunes ROW GROUPS from
    * footer stats, but at 100 TB the win is never LISTING the file into a
    * task at all: the driver consults |files| rows instead of opening
    * footers. */
  def createMinMax(spark: SparkSession, dataDir: String, indexDir: String,
                   columns: Seq[String]): Unit =
    write(spark, dataDir, indexDir, Spec("minmax", columns))

  /** Files whose [min,max] for `column` overlaps [lo,hi]. */
  def matchingFilesRange(spark: SparkSession, indexDir: String, column: String,
                         lo: Any, hi: Any): Seq[String] =
    admitted(load(spark, indexDir, "minmax"), column)(admitsBound(Some(lo), Some(hi)))

  /** Range scan over the minmax-pruned file list, exact predicate
    * re-applied. */
  def scanRange(spark: SparkSession, dataDir: String, indexDir: String,
                column: String, lo: Any, hi: Any): DataFrame =
    prunedRead(spark, dataDir, matchingFilesRange(spark, indexDir, column, lo, hi))
      .filter(col(column) >= lit(lo) && col(column) <= lit(hi))

  /** Per-file exact distinct-value set, capped — the reference's
    * `INDEX x TYPE set(N)` (MergeTreeIndexSet.cpp): when a file's distinct
    * count for the column stays ≤ N the exact set is stored (membership
    * pruning with NO false positives); past the cap the file stores an
    * overflow marker and always matches, exactly the reference's
    * max_rows=N behavior. Values ride as strings for schema uniformity. */
  def createSet(spark: SparkSession, dataDir: String, indexDir: String,
                columns: Seq[String], maxValues: Int = 100): Unit =
    write(spark, dataDir, indexDir, Spec("set", columns, maxValues = maxValues))

  /** Files whose stored set contains ANY of `values` (overflowed files
    * always match). */
  def matchingFilesSet(spark: SparkSession, indexDir: String,
                       column: String, values: Seq[Any]): Seq[String] =
    admitted(load(spark, indexDir, "set"), column)(admitsValues(values))

  /** Membership scan over the set-index-pruned file list. */
  def scanSet(spark: SparkSession, dataDir: String, indexDir: String,
              column: String, values: Seq[Any]): DataFrame =
    prunedRead(spark, dataDir, matchingFilesSet(spark, indexDir, column, values))
      .filter(col(column).isin(values: _*))

  /** Per-file n-gram bloom for substring/LIKE pruning — the reference's
    * `ngrambf_v1` text skip index (MergeTreeIndexBloomFilterText.cpp).
    * Build explodes each row's lowercased text into distinct n-grams (one
    * distributed pass, the same work the reference spends per granule). */
  def createNgram(spark: SparkSession, dataDir: String, indexDir: String,
                  textColumn: String, n: Int = 3,
                  expectedItemsPerFile: Long = 200000L): Unit =
    write(spark, dataDir, indexDir,
      Spec("ngrambf_v1", Seq(textColumn), items = expectedItemsPerFile, n = n))

  /** Files that can contain `needle` as a substring of the indexed text. */
  def matchingFilesLike(spark: SparkSession, indexDir: String,
                        needle: String): Seq[String] = {
    val files = load(spark, indexDir, "ngrambf_v1")
    files.valuesIterator.flatMap(_.keysIterator).nextOption()
      .map(admitted(files, _)(admitsNeedle(needle))).getOrElse(Nil)
  }

  /** Case-insensitive substring scan via the ngram index (the pruned
    * rendering of `LIKE '%needle%'` / hasTokenCaseInsensitive). */
  def scanLike(spark: SparkSession, dataDir: String, indexDir: String,
               textColumn: String, needle: String): DataFrame =
    prunedRead(spark, dataDir, matchingFilesLike(spark, indexDir, needle))
      .filter(lower(col(textColumn)).contains(needle.toLowerCase))
}
