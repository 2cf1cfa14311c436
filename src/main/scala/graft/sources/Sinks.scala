package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.operators.EtlOps

/** The reference's load-phase sink semantics (SURVEY.md §2.1 S5–S10) as
  * parquet write operations.
  *
  * Vanilla Spark has no multi-table transaction (reference
  * `etl.py:270-274` wraps the whole load in commit/rollback); the semantic
  * the reference actually relies on is per-table idempotency, which
  * overwrite-by-key delivers. In a Delta/Iceberg deployment each of these
  * becomes a `MERGE INTO` / transactional append; the dataflow shapes
  * below are exactly the MERGE bodies.
  */
object Sinks {

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  private def readIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    if (exists(spark, path)) Some(graft.Tables.parquet(spark, path)) else None

  /** S5 — `INSERT OR REPLACE` keyed upsert (reference `etl.py:238-244`):
    * last write wins per key, idempotent. Existing rows and updates are
    * unioned, then reduced to the newest row per key ordered by
    * `versionCols`. The union+window shuffles once on the key — the
    * partitioning a MERGE would use.
    */
  def upsertByKey(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], versionCols: Seq[String]): Unit = {
    val merged = readIfExists(spark, path) match {
      case Some(existing) => existing.unionByName(updates)
      case None => updates
    }
    // Aggregate (map-side-reducing) form: hot keys never concentrate on
    // one reducer, and replayed/duplicate updates collapse identically.
    val latest = EtlOps.latestByKeyAgg(merged, keys, versionCols)
    // Overwrite of the path we just read: materialize via a staging dir +
    // atomic-ish swap (a self-overwrite would delete its own input mid-scan).
    val tmp = path + "__stage"
    latest.write.mode(SaveMode.Overwrite).parquet(tmp)
    graft.Tables.parquet(spark, tmp).write.mode(SaveMode.Overwrite).parquet(path)
    val p = new org.apache.hadoop.fs.Path(tmp)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** S6/S7 — `INSERT OR IGNORE` (reference `etl.py:248-258`): append only
    * rows whose key is absent (anti-join against the existing keys).
    */
  def insertIfAbsent(spark: SparkSession, path: String, incoming: DataFrame,
      keys: Seq[String]): Unit =
    readIfExists(spark, path) match {
      case Some(existing) =>
        EtlOps.insertIfAbsent(existing, incoming, keys)
          .write.mode(SaveMode.Append).parquet(path)
      case None =>
        incoming.dropDuplicates(keys).write.mode(SaveMode.Overwrite).parquet(path)
    }

  /** S8 — conditional bulk append (reference `etl.py:262-268`): load only
    * if the target is empty — the reference's idempotency guard for the
    * ratings fact table.
    */
  def appendIfEmpty(spark: SparkSession, path: String, df: DataFrame): Unit = {
    val empty = readIfExists(spark, path).forall(_.isEmpty)
    if (empty) df.write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * `ceil(bytes / targetBytes)` evenly-sized files. THE recurring ops
    * problem of a long-lived 100 TB corpus — every incremental append
    * (`insertIfAbsent`, streaming `foreachBatch`) leaves another
    * micro-batch-sized file, and a million 1 MB files costs more in
    * footer reads and task scheduling than the data scan itself.
    *
    * `repartition` (a shuffle), not `coalesce`: coalesce merges whole
    * input partitions and inherits their skew, which is the disease
    * being treated. The compacted copy is staged beside the target and
    * swapped in by rename — a re-read-and-rewrite swap would let the
    * scan's small-file coalescing second-guess the computed file count.
    * A partitioned layout (`partitionBy` subdirectories) is compacted
    * PER LEAF, preserving the directory scheme and its pruning.
    *
    * NOT concurrent-writer-safe: plain parquet has no transaction log,
    * so a file appended between the input listing and the swap is lost,
    * and a crash inside the swap leaves the data staged at
    * `<path>__compact`. Run it in a maintenance window (the same
    * contract as every rewrite in this file); under a live writer this
    * is a Delta/Iceberg `OPTIMIZE` instead.
    *
    * @return (files before, files after), summed across leaves
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def isData(f: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val entries = fs.listStatus(p).toSeq.filter(isData)
    val subdirs = entries.filter(_.isDirectory)
    if (subdirs.nonEmpty) {
      // partitioned layout: recurse per partition directory so the
      // scheme (and partition pruning) survives; a flat rewrite would
      // silently fold the partition column into the data files. Loose
      // data files BESIDE partition dirs have no well-defined owner —
      // refuse rather than silently skip them.
      require(!entries.exists(_.isFile),
        s"compact: $p mixes data files and partition directories — " +
          "compact the leaves individually")
      val results = subdirs.map(d => compact(spark, d.getPath.toString, targetBytes))
      return (results.map(_._1).sum, results.map(_._2).sum)
    }
    val before = entries.filter(_.isFile)
    val totalBytes = before.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // the stage dir is underscore-prefixed: partition discovery ignores
    // `_*` paths, so a crash mid-swap leaves an invisible sibling, not a
    // phantom partition whose rows read back duplicated
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, "_" + p.getName + "__compact")
    graft.Tables.parquet(spark, path).repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    require(fs.delete(p, true), s"compact: could not remove $p for swap")
    require(fs.rename(tmp, p),
      s"compact: rename $tmp -> $p failed; data is intact at $tmp")
    (before.size, fs.listStatus(p).count(f => f.isFile && isData(f)))
  }
}
