package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-path join shapes the 100 TB plan needs beyond AQE's defaults
  * (reference analogs: the ConcurrentHashJoin sharding note,
  * src/Interpreters/ConcurrentHashJoin.h:9-20, and MergeTree's
  * bucket-by-PK physical layout).
  *
  *  - saltedJoin: a HOT KEY on the probe side melts one reducer at scale;
  *    salting splits each hot key over `salt` sub-partitions and
  *    replicates the dim side once per sub-partition. Result set is
  *    identical to the plain join; only the distribution changes.
  *  - bucketed tables: co-located joins — both sides pre-bucketed on the
  *    join key skip the shuffle entirely (the 1000-executor rendition of
  *    the reference's co-sorted MergeTree part merges).
  */
object ScaleOps {

  /** Guide §2.5 "input skew — one huge unsplittable file": repartition
    * immediately after the read to the number of splits Spark itself would
    * cut the input into. The local corpus writes each table as a SINGLE
    * parquet row group, so however many splits the scan gets, only the one
    * holding the row group reads rows — every map-side operator fused into
    * the scan stage (partial aggregation, projection, window prep) runs on
    * ONE task (measured: q1's 600k-row decimal partial agg at 1.4s
    * single-task vs 0.5s fanned out).
    *
    * Sized with Spark's own split rule, `FilePartition.maxSplitBytes`:
    * maxSplit = min(maxPartitionBytes, max(openCostInBytes,
    * (bytes + files × openCostInBytes) / cores)), and the input is
    * repartitioned to ceil(bytes / maxSplit) only when that is more than
    * its file count. So an input below one split (sf0.01 lineitem, 1 MB,
    * under the 4 MB open cost) stays as it is — a full-row exchange would
    * cost more than one task saves — and at cluster scale, where files
    * already cover the splits, this is the identity too. The probe is the
    * relation's cached file listing — no job, no stat calls. Hash-partitions
    * on `keys` when given (keeps the fan-out deterministic under task retry
    * — guide §2.5 warns against rand-derived keys); round-robin otherwise. */
  def fanOutIfTiny(df: DataFrame, keys: org.apache.spark.sql.Column*)
      : DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    val dirs = df.queryExecution.analyzed.collect {
      case r: LogicalRelation => r.relation
    }.collect { case h: HadoopFsRelation => h.location.listFiles(Nil, Nil) }
      .flatten
    val files = dirs.map(_.files.length).sum
    val bytes = dirs.flatMap(_.files).map(_.getLen).sum
    if (bytes == 0) return df
    val maxSplit = FilePartition.maxSplitBytes(df.sparkSession, dirs)
    val splits = ((bytes + maxSplit - 1) / maxSplit).toInt
    if (splits <= files) df
    else if (keys.isEmpty) df.repartition(splits)
    else df.repartition(splits, keys: _*)
  }

  /** Join a skewed fact side to a dimension, salting the fact's key space
    * into `salt` sub-keys. Row salt is taken from a per-row id — any
    * per-row value works; it never reaches the output. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      salt: Int): DataFrame = {
    val salted = fact.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salt.toLong)).cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Hive-style partitioned parquet copy — the reference's PARTITION BY
    * layout (MergeTree partition pruning reads only matching parts;
    * Spark's FileSourceScan prunes matching DIRECTORIES before listing
    * files — `PartitionFilters` in the scan, zero I/O for excluded
    * partitions). */
  def writePartitioned(spark: SparkSession, df: DataFrame, path: String,
      partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Drop one partition directory of a hive-partitioned layout — the
    * reference's ALTER TABLE DROP PARTITION (MergeTree detaches and
    * deletes whole parts; here the partition directory is unlinked
    * without touching any other data). At 100 TB this is THE retention
    * primitive: date-partitioned layouts age out by directory unlink,
    * never by row rewrite. Returns true when the partition existed. */
  def dropPartition(spark: SparkSession, path: String, partitionCol: String,
      value: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(path, s"$partitionCol=$value")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existed = fs.exists(dir)
    if (existed) fs.delete(dir, true)
    existed
  }

  /** DETACH PARTITION (reference MergeTreeData::detach — parts move to the
    * `detached/` dir, invisible to queries but recoverable): the hive
    * partition dir moves under `_detached/` (underscore prefix → hidden
    * from Spark's file listing, like the reference's non-data dirs).
    * Same-filesystem rename: O(1) metadata, no data movement. */
  def detachPartition(spark: SparkSession, path: String, partitionCol: String,
      value: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(root, s"$partitionCol=$value")
    val dst = new org.apache.hadoop.fs.Path(root, s"_detached/$partitionCol=$value")
    if (!fs.exists(dir)) false
    else { fs.mkdirs(dst.getParent); fs.rename(dir, dst) }
  }

  /** ATTACH PARTITION: the inverse move (reference ALTER TABLE ATTACH
    * PARTITION re-admits detached parts). */
  def attachPartition(spark: SparkSession, path: String, partitionCol: String,
      value: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(root, s"_detached/$partitionCol=$value")
    val dst = new org.apache.hadoop.fs.Path(root, s"$partitionCol=$value")
    fs.exists(src) && fs.rename(src, dst)
  }

  /** FREEZE PARTITION (reference ALTER TABLE FREEZE — hardlink snapshot
    * under `shadow/<name>/`): copies the partition dir under
    * `_shadow/<name>/` (a copy, not hardlinks — correct on any Hadoop FS;
    * the immutability contract is identical). The snapshot survives later
    * DROP/DETACH of the live partition. */
  def freezePartition(spark: SparkSession, path: String, partitionCol: String,
      value: String, snapshot: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val src = new org.apache.hadoop.fs.Path(root, s"$partitionCol=$value")
    val dst = new org.apache.hadoop.fs.Path(root,
      s"_shadow/$snapshot/$partitionCol=$value")
    fs.exists(src) && {
      fs.mkdirs(dst.getParent)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, true, conf)
    }
  }

  /** REPLACE PARTITION FROM (reference ALTER TABLE dst REPLACE PARTITION p
    * FROM src — PartitionCommands.h REPLACE_PARTITION with replace=true:
    * dst's partition p is atomically swapped for a copy of src's, src
    * untouched). Directory-level: copy src's partition dir to a temp
    * sibling, rename the OLD dst partition aside to a `_trash` sibling,
    * rename the staged copy in, and only then delete the trash — readers
    * in any gap see the old data or the new data, never an absent
    * partition, and a failed swap restores the old directory. At 100 TB
    * this is THE staging-swap ETL primitive: build a partition in a
    * staging table, swap it live by metadata rename. */
  def replacePartition(spark: SparkSession, dstPath: String, srcPath: String,
      partitionCol: String, value: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dstRoot = new org.apache.hadoop.fs.Path(dstPath)
    val fs = dstRoot.getFileSystem(conf)
    val src = new org.apache.hadoop.fs.Path(srcPath, s"$partitionCol=$value")
    if (!fs.exists(src)) return false
    val tmp = new org.apache.hadoop.fs.Path(dstRoot,
      s"_replacing/$partitionCol=$value")
    fs.delete(tmp, true)
    fs.mkdirs(tmp.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, tmp, false, true, conf)
    val dst = new org.apache.hadoop.fs.Path(dstRoot, s"$partitionCol=$value")
    swapIn(fs, dstRoot, dst, tmp, "REPLACE PARTITION")
    true
  }

  /** Test-only failpoint: fired between the old-aside rename and the
    * staged-in rename — the window the restore path covers. */
  @volatile private[graft] var swapFailpoint: () => Unit = () => ()

  /** The old-aside / staged-in / trash-last rename dance shared by
    * REPLACE and MOVE PARTITION: the old destination directory is
    * renamed to a `_trash` sibling (still on disk), the staged copy is
    * renamed in, and the trash is deleted LAST — any failure mid-swap
    * restores the old directory from the trash, so a reader sees old
    * data or new data, never a lost partition. */
  private def swapIn(fs: org.apache.hadoop.fs.FileSystem,
      dstRoot: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
      staged: org.apache.hadoop.fs.Path, verb: String): Unit = {
    val trash = new org.apache.hadoop.fs.Path(dstRoot, s"_trash/${dst.getName}")
    fs.delete(trash, true)
    fs.mkdirs(trash.getParent)
    val hadOld = fs.exists(dst)
    if (hadOld && !fs.rename(dst, trash))
      throw new IllegalStateException(
        s"$verb: could not move old $dst aside; nothing was changed " +
          s"(staged copy preserved at $staged)")
    try {
      swapFailpoint()
      if (!fs.rename(staged, dst))
        throw new IllegalStateException(
          s"$verb: rename of staged copy to $dst failed")
    } catch {
      case e: Throwable =>
        if (hadOld) fs.rename(trash, dst) // restore: swap never happened
        throw new IllegalStateException(
          s"$verb: swap failed; old partition restored, staged copy " +
            s"preserved at $staged", e)
    }
    fs.delete(trash, true)
  }

  /** MOVE PARTITION TO TABLE (PartitionCommands.h MOVE_PARTITION with
    * move_destination_type=TABLE): the partition leaves src and lands in
    * dst, replacing dst's same-value partition. Same-filesystem rename —
    * O(1) metadata, no data movement (the reference likewise hardlinks
    * parts across tables on one disk). */
  def movePartition(spark: SparkSession, srcPath: String, dstPath: String,
      partitionCol: String, value: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(srcPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(srcPath, s"$partitionCol=$value")
    if (!fs.exists(src)) return false
    val dstRoot = new org.apache.hadoop.fs.Path(dstPath)
    val dst = new org.apache.hadoop.fs.Path(dstRoot, s"$partitionCol=$value")
    fs.mkdirs(dst.getParent)
    // old dst aside to _trash first: a failure mid-swap restores it —
    // the old dst data is never gone without the replacement in place
    swapIn(fs, dstRoot, dst, src, "MOVE PARTITION")
    true
  }

  /** FETCH PARTITION (PartitionCommands.h FETCH_PARTITION: download a
    * partition from another replica into `detached/`, to be admitted by a
    * subsequent ATTACH PARTITION). The remote replica maps to any
    * readable layout path; the fetched copy lands under `_detached/` and
    * stays invisible until attached — exactly the reference's two-step
    * contract. */
  def fetchPartition(spark: SparkSession, dstPath: String, fromPath: String,
      partitionCol: String, value: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(fromPath, s"$partitionCol=$value")
    val fs = src.getFileSystem(conf)
    if (!fs.exists(src)) return false
    val dst = new org.apache.hadoop.fs.Path(dstPath,
      s"_detached/$partitionCol=$value")
    fs.delete(dst, true)
    fs.mkdirs(dst.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, true, conf)
    true
  }

  /** Write a bucketed + bucket-sorted copy of `df` as a catalog table
    * (clearing any stale warehouse location from an earlier session). */
  def writeBucketed(spark: SparkSession, df: DataFrame, name: String,
      buckets: Int, key: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name)
    wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(name)
  }
}
