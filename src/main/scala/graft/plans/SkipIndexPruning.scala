package graft.plans

import java.util.concurrent.ConcurrentHashMap

import graft.operators.SkipIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Contains, EndsWith, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Lower, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{CatalogFileIndex, FileIndex, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** TRANSPARENT skip-index pruning — the way the reference actually applies
  * its skip indexes: the user writes a plain SELECT and
  * `MergeTreeDataSelectExecutor::filterMarksUsingIndex` drops granules
  * before the scan (src/Storages/MergeTree/MergeTreeDataSelectExecutor
  * .cpp). The [[SkipIndex]] operator API is the explicit form; this Rule
  * is the implicit one, and it now serves the WHOLE index family the way
  * the reference does:
  *   - bloom_filter → equality / IN conjuncts (hash probes);
  *   - minmax      → <, <=, >, >=, =, BETWEEN conjuncts (bound probes);
  *   - set(N)      → equality / IN conjuncts (exact membership);
  *   - ngrambf_v1  → LIKE '%x%' / contains / startsWith / endsWith
  *                   (every n-gram of the needle must be in the file's
  *                   bloom; Catalyst has already simplified LIKE into
  *                   Contains/StartsWith/EndsWith by the time
  *                   extraOptimizations run).
  * The Filter itself always stays, so index false positives re-check and
  * answers never change — pruning is strictly an I/O reduction.
  *
  * Mechanics (same extension point as [[AggProjections]] /
  * [[NormalProjections]]): an extraOptimizations rule matches
  * Filter-over-LogicalRelation plans whose relation roots at a registered
  * data dir, probes each supported conjunct against each index's
  * driver-resident per-file summaries (no job), and swaps the relation's
  * location for an [[InMemoryFileIndex]] over the live files no probe
  * rules out. Only a file the index covers — same path, length and
  * modification time — can be ruled out: a live file the index does not
  * cover is always read, and a summary whose file is gone is ignored, so
  * a stale index can cost I/O but never rows. After the swap the root
  * paths no longer match the registry, so the rule cannot re-fire on its
  * own output.
  * Hive-partitioned relations keep their partition values: the swap
  * carries the original location's partition spec, so partition pruning
  * and skip-index file pruning COMPOSE (round 8; the reference layers
  * partition pruning over granule pruning the same way).
  */
object SkipIndexPruning {

  /** One index over a data dir, with its per-file summaries held on the
    * driver. `id` tells indexes over the same dir apart (the explicit
    * API's index dir, the dialect's table.index name). */
  final case class Idx(dataPath: String, spec: SkipIndex.Spec, id: String,
      files: SkipIndex.Files) {
    def kind: String = spec.kind
    def columns: Set[String] = spec.columns.toSet
  }

  /** canon(dataPath) → registered indexes over that dir (a dir can carry
    * several, like a reference table with several INDEX clauses). */
  private val registry = new ConcurrentHashMap[String, List[Idx]]()

  private def canon(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  private def put(spark: SparkSession, idx: Idx): Unit = {
    registry.merge(idx.dataPath, List(idx),
      (old, _) => idx :: old.filterNot(_.id == idx.id))
    install(spark)
  }

  /** Register an index the explicit [[SkipIndex]] API wrote to `indexDir`
    * for transparent use (its rows are read onto the driver once) and
    * install the rule. `kind` ∈ bloom_filter | minmax | set | ngrambf_v1. */
  def register(spark: SparkSession, dataDir: String, indexDir: String,
      columns: Seq[String], kind: String = "bloom_filter"): Unit =
    put(spark, Idx(canon(dataDir), SkipIndex.Spec(kind, columns), indexDir,
      SkipIndex.load(spark, indexDir, kind)))

  /** Bring index `id` over `dataDir` up to date with the dir's live files
    * and register it: summaries of files that are gone are dropped, and
    * the kind's aggregate runs over only the files no summary covers yet —
    * after an INSERT, the inserted file, not the table. `schema` is the
    * data's read schema (partition columns included). */
  def refresh(spark: SparkSession, dataDir: String, id: String,
      spec: SkipIndex.Spec, schema: StructType): Unit = {
    val key = canon(dataDir)
    val prior = Option(registry.get(key)).toSeq.flatten
      .find(i => i.id == id && i.spec == spec).map(_.files).getOrElse(Map.empty)
    val live = liveFiles(spark, dataDir)
    val kept = prior.filter { case (st, _) => live.contains(st) }
    val fresh = SkipIndex.build(spark, dataDir,
      live.filterNot(kept.contains).map(_.path).toSeq.sorted, schema, spec)
    put(spark, Idx(key, spec, id, kept ++ fresh))
  }

  /** The parquet files Spark would read under `dir`, listed on the driver. */
  private def liveFiles(spark: SparkSession, dir: String): Set[SkipIndex.Stamp] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    if (!path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)) Set.empty
    else new InMemoryFileIndex(spark, Seq(path), Map.empty, None)
      .allFiles().map(SkipIndex.stampOf).toSet
  }

  /** Unregister every index over the data dir. */
  def drop(dataDir: String): Unit = registry.remove(canon(dataDir))

  /** Unregister one index (by its id) over the data dir. */
  def dropIndex(dataDir: String, id: String): Unit =
    registry.computeIfPresent(canon(dataDir),
      (_, old) => old.filterNot(_.id == id) match {
        case Nil => null
        case rest => rest
      })

  /** One pruning decision per (relation, index) the rule applied —
    * drained by the dialect's EXPLAIN indexes = 1 (the reference's
    * EXPLAIN indexes output: which index ran, parts before/after). */
  final case class Decision(dataPath: String, kind: String,
      columns: Set[String], admitted: Int, total: Int)

  private val decisions =
    new java.util.concurrent.ConcurrentLinkedQueue[Decision]()
  private val MaxDecisions = 256 // bounded: the log must never leak over a session

  private def logDecision(d: Decision): Unit = {
    decisions.add(d)
    while (decisions.size > MaxDecisions) decisions.poll()
  }

  def clearDecisions(): Unit = decisions.clear()

  def lastDecisions: Seq[Decision] = {
    import scala.jdk.CollectionConverters._
    decisions.iterator().asScala.toSeq
  }

  private val installed =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  def install(spark: SparkSession): Unit = synchronized {
    if (!installed.contains(spark)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PruneRule(spark)
      installed.add(spark)
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  case class PruneRule(spark: SparkSession) extends Rule[LogicalPlan] {

    /** Typed equality hash: cast the literal to the column's type first so
      * e.g. an Int probe against a Long column hashes on the build lane
      * (the bloom was built over the column's own type). */
    private def eqHash(l: Literal, a: AttributeReference): Long =
      SkipIndex.hashOfLiteral(
        if (l.dataType == a.dataType) l
        else Literal.create(
          org.apache.spark.sql.catalyst.expressions.Cast(
            l, a.dataType, Some("UTC")).eval(null), a.dataType))

    private def scalaValue(l: Literal): Any =
      CatalystTypeConverters.convertToScala(l.value, l.dataType)

    /** The column one conjunct probes under one index and the kind's
      * probe, or None when the conjunct doesn't probe this index. */
    private def probe(idx: Idx, c: Expression)
        : Option[(String, SkipIndex.Summary => Boolean)] = {
      def on(kind: String, a: AttributeReference)(
          admits: => SkipIndex.Summary => Boolean) =
        if (idx.kind == kind && idx.columns.contains(a.name)) Some(a.name -> admits)
        else None
      def bloomEq(a: AttributeReference, hashes: => Seq[Long]) =
        on("bloom_filter", a)(SkipIndex.admitsHashes(hashes))
      def setEq(a: AttributeReference, vals: => Seq[Any]) =
        on("set", a)(SkipIndex.admitsValues(vals))
      def mmBound(a: AttributeReference, lo: Option[Any], hi: Option[Any]) =
        on("minmax", a)(SkipIndex.admitsBound(lo, hi))
      def ngram(a: AttributeReference, needle: String) =
        on("ngrambf_v1", a)(SkipIndex.admitsNeedle(needle))
      /** Smallest string ≥ every string carrying `pre` as a prefix, in
        * UTF-8 binary order (the order Spark compares strings in): strip
        * trailing max-lane chars, increment the last remaining one.
        * `pre + '￿'` is NOT such a bound — supplementary code points
        * (e.g. emoji) encode ABOVE U+FFFF in UTF-8 — so surrogate-bearing
        * prefixes conservatively get no upper bound (lo-only pruning).
        * Mirrors the reference's prefix-range analysis in
        * KeyCondition's LIKE handling. */
      def prefixSuccessor(pre: String): Option[String] =
        if (!pre.forall(c => c < '\uD800')) None
        else {
          var i = pre.length - 1
          while (i >= 0 && pre.charAt(i) == 0xD7FF) i -= 1
          if (i < 0) None
          else Some(pre.substring(0, i) + (pre.charAt(i) + 1).toChar)
        }
      def textAttr(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference => Some(a)
        case Lower(a: AttributeReference) => Some(a)
        case _ => None
      }

      c match {
        case EqualTo(a: AttributeReference, l: Literal) if l.value != null =>
          bloomEq(a, Seq(eqHash(l, a)))
            .orElse(setEq(a, Seq(scalaValue(l))))
            .orElse(mmBound(a, Some(scalaValue(l)), Some(scalaValue(l))))
        case EqualTo(l: Literal, a: AttributeReference) if l.value != null =>
          probe(idx, EqualTo(a, l))
        case In(a: AttributeReference, vs)
            if vs.forall(v => v.isInstanceOf[Literal] &&
              v.asInstanceOf[Literal].value != null) =>
          val lits = vs.map(_.asInstanceOf[Literal])
          bloomEq(a, lits.map(eqHash(_, a)))
            .orElse(setEq(a, lits.map(scalaValue)))
        case InSet(a: AttributeReference, hset) if !hset.contains(null) =>
          val lits = hset.toSeq.map(v => Literal.create(v, a.dataType))
          bloomEq(a, lits.map(SkipIndex.hashOfLiteral))
            .orElse(setEq(a, lits.map(scalaValue)))
        case GreaterThan(a: AttributeReference, l: Literal) if l.value != null =>
          mmBound(a, Some(scalaValue(l)), None)
        case GreaterThanOrEqual(a: AttributeReference, l: Literal) if l.value != null =>
          mmBound(a, Some(scalaValue(l)), None)
        case LessThan(a: AttributeReference, l: Literal) if l.value != null =>
          mmBound(a, None, Some(scalaValue(l)))
        case LessThanOrEqual(a: AttributeReference, l: Literal) if l.value != null =>
          mmBound(a, None, Some(scalaValue(l)))
        // mirrored literal-first comparisons: 5 < a ≡ a > 5
        case GreaterThan(l: Literal, a: AttributeReference) if l.value != null =>
          mmBound(a, None, Some(scalaValue(l)))
        case GreaterThanOrEqual(l: Literal, a: AttributeReference) if l.value != null =>
          mmBound(a, None, Some(scalaValue(l)))
        case LessThan(l: Literal, a: AttributeReference) if l.value != null =>
          mmBound(a, Some(scalaValue(l)), None)
        case LessThanOrEqual(l: Literal, a: AttributeReference) if l.value != null =>
          mmBound(a, Some(scalaValue(l)), None)
        // LIKE '%x%' / '%x' / 'x%' arrive simplified; the ngram index is
        // built over lower(text), so a case-sensitive needle's lowercase
        // grams admit a superset — safe, the Filter re-checks exactly.
        case Contains(t, l: Literal) if l.value != null =>
          textAttr(t).flatMap(a => ngram(a, l.value.toString))
        case StartsWith(t, l: Literal) if l.value != null =>
          // a prefix is ALSO a range: every match lies in
          // [prefix, prefixSuccessor) on the string lane, so a minmax
          // index prunes LIKE 'abc%' like the reference's primary-key
          // prefix analysis; ngram covers the substring superset. The
          // minmax lane is ONLY sound on the bare column — under
          // lower(col) the raw min/max can exclude rows the lowercased
          // needle would match — so Lower-wrapped text routes to the
          // ngram lane alone (built over lower(text), superset-safe).
          t match {
            case a: AttributeReference =>
              val pre = l.value.toString
              mmBound(a, Some(pre), prefixSuccessor(pre))
                .orElse(ngram(a, pre))
            case Lower(a: AttributeReference) =>
              ngram(a, l.value.toString)
            case _ => None
          }
        case EndsWith(t, l: Literal) if l.value != null =>
          textAttr(t).flatMap(a => ngram(a, l.value.toString))
        case _ => None
      }
    }

    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (registry.isEmpty) return plan
      plan.transformUp {
        case f @ Filter(cond, child) =>
          val rewritten = rewriteScan(child, cond)
          rewritten.map(c => Filter(cond, c)).getOrElse(f)
      }
    }

    /** A pruned file index over the surviving leaf files. Unpartitioned
      * relations get a plain [[InMemoryFileIndex]]; hive-partitioned
      * relations (round 8, closing the round-7 bail-out) CARRY the
      * original location's partition spec into the swap, so the pruned
      * relation keeps both its partition values (columns read from dir
      * names) and Catalyst's partition pruning — exactly the reference's
      * layering, where partition pruning and skip-index granule pruning
      * compose (MergeTreeDataSelectExecutor). A catalog-partitioned
      * table's spec comes from its listed partitions; any other location
      * that doesn't expose its spec still bails. */
    private def swappedLocation(fs: HadoopFsRelation, location: FileIndex,
        files: Seq[String]): Option[FileIndex] = {
      val paths = files.map(new org.apache.hadoop.fs.Path(_))
      if (fs.partitionSchema.isEmpty)
        Some(new InMemoryFileIndex(spark, paths, Map.empty, Some(fs.dataSchema)))
      else location match {
        case pa: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =>
          Some(new InMemoryFileIndex(spark, paths, Map.empty,
            Some(org.apache.spark.sql.types.StructType(
              fs.dataSchema.fields ++ fs.partitionSchema.fields)),
            userSpecifiedPartitionSpec = Some(pa.partitionSpec())))
        case _ => None
      }
    }

    /** Rewrite the scan under (possibly) a column-pruning Project. */
    private def rewriteScan(plan: LogicalPlan, cond: Expression): Option[LogicalPlan] =
      plan match {
        case p @ Project(projectList, child)
            if projectList.forall(_.isInstanceOf[AttributeReference]) =>
          rewriteScan(child, cond).map(c => p.copy(child = c))
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            val roots = fs.location.rootPaths.map(p => canon(p.toString))
            val idxs = roots.flatMap(r => Option(registry.get(r)).toSeq.flatten)
            val probes = for {
              c <- conjuncts(cond)
              idx <- idxs
              (column, admits) <- probe(idx, c)
            } yield (idx, column, admits)
            if (probes.isEmpty) None
            else {
              // a catalog-partitioned table lists through its partitions,
              // as Spark's own PruneFileSourcePartitions resolves it
              val location = fs.location match {
                case c: CatalogFileIndex => c.filterPartitions(Nil)
                case l => l
              }
              val live = location.listFiles(Nil, Nil)
                .flatMap(_.files.map(f => SkipIndex.stampOf(f.fileStatus)))
              val liveSet = live.toSet
              val ruledOut = probes.map { case (idx, column, admits) =>
                idx -> SkipIndex.excluded(idx.files, column, liveSet)(admits)
              }
              ruledOut.groupBy { case (idx, _) => (idx.dataPath, idx.id) }
                .valuesIterator.foreach { outs =>
                  val idx = outs.head._1
                  logDecision(Decision(idx.dataPath, idx.kind, idx.columns,
                    live.size - outs.map(_._2).reduce(_ union _).size, live.size))
                }
              val out = ruledOut.map(_._2).reduce(_ union _)
              if (out.isEmpty) None
              else swappedLocation(fs, location, live.filterNot(out).map(_.path))
                .map(loc => lr.copy(relation = fs.copy(location = loc)(spark)))
            }
          case _ => None
        }
        case _ => None
      }
  }
}
