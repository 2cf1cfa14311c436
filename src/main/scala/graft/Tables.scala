package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated star-schema parquet tables (TESTDATA.md).
  *
  * The reference engine's storage layer is a SQLite star schema created from
  * declared DDL (reference `schema.sql:4-40`, executed at `etl.py:35-44`).
  * Here the at-rest format is Parquet: schemas travel with the files, scans
  * are columnar, and Catalyst prunes columns / pushes predicates into the
  * scan — subsuming the role of the reference's six B-tree indexes
  * (`schema.sql:43-48`).
  */
object Tables {
  // DataFrames are immutable logical plans — safe to share. Caching them
  // saves the file listing, the footer read and the plan construction of
  // an open (no job either way, see [[parquet]]) for every query of a
  // Verify/Bench run that reads the table.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cache.computeIfAbsent((spark, sfDir, name),
      _ => parquet(spark, s"$sfDir/$name.parquet"))

  /** Open unpartitioned parquet at `paths` (files, or flat directories of
    * part files) with its schema read from ONE footer on the driver — no
    * Spark job. A bare `spark.read.parquet` infers the schema in a
    * `parallelize(...).collect()` job even for a single file; this reads
    * the same footer Spark's inference task would (the first data file,
    * by path, of the listing with `_*` / `.*` names skipped) and converts
    * it with the same call under the session's parquet flags (the Spark
    * schema metadata key, `nanosAsLong`, `binaryAsString`,
    * `int96AsTimestamp`), so the schema — and every plan over it — is
    * unchanged. A path that is missing, holds no data file, or holds a
    * subdirectory (a partitioned layout, which needs partition
    * discovery) hands the whole read to `spark.read.parquet`, so its
    * errors and discovery stay Spark's own.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    // the flat data files of one path; None when it cannot be opened here
    def dataFiles(p: String): Option[Seq[FileStatus]] = {
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) None
      else {
        val st = fs.getFileStatus(path)
        val files =
          if (st.isDirectory) fs.listStatus(path).toSeq.filter(visible)
          else Seq(st)
        if (files.isEmpty || files.exists(_.isDirectory)) None else Some(files)
      }
    }
    val listed = paths.map(dataFiles)
    if (paths.isEmpty || listed.contains(None)) spark.read.parquet(paths: _*)
    else {
      val first = listed.flatten.flatten.minBy(_.getPath.toString)
      val footer = new Footer(first.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(first, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
      val schema = ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      spark.read.schema(schema).parquet(paths: _*)
    }
  }

  /** Fan a small single-split input out across the cores — for HEAVY
    * per-row consumers only.
    *
    * A parquet file below `spark.sql.files.maxPartitionBytes` arrives as
    * ONE scan task, and every per-row projection that fuses with the scan
    * (tokenization, shingling, regex language id, vector arithmetic) then
    * runs on one core while the rest of the machine idles — the
    * unsplittable-input skew of the optimization guide (§2.5), measured
    * here as ~350 ms single-task stages on a 32-core session. One hash
    * repartition on the table key buys parallelism for those projections;
    * the shuffled bytes are the table itself (hundreds of KB), orders of
    * magnitude below the projection work it parallelizes.
    *
    * Deliberately NOT applied to every read: a many-task SQL stage costs
    * ~15-50 ms of fixed per-task setup in this environment, so fanning a
    * metadata-only read (doc_id/lang/source projections feeding a tiny
    * aggregate) buys nothing and pays an exchange plus a stage of task
    * overhead — measured as consistent 2-3× regressions on those queries.
    * The fan width is capped ([[FanWidth]]): the point is to shrink a
    * ~350 ms single-core stage to tens of ms, after which per-task
    * overhead dominates and more tasks only add straggler surface.
    *
    * Scale posture: the guard is the INPUT's estimated size, not a local
    * constant — at production scale a scan has >= cores splits (size >>
    * maxPartitionBytes) and this is a no-op, so plans are unchanged where
    * the scan already parallelizes. Decision cached per (session, dir,
    * table); correctness is partition-layout-independent (every declared
    * query orders its output explicitly).
    */
  private def fanOut(spark: SparkSession, sfDir: String, name: String,
      key: String): DataFrame = {
    // resolve the BASE entry before entering the fanout computeIfAbsent:
    // both live in the same map, and ConcurrentHashMap throws "Recursive
    // update" when a mapping function inserts another key — hit whenever
    // the fanned read is the session's first touch of the table
    val base = table(spark, sfDir, name)
    cache.computeIfAbsent((spark, sfDir, name + "#fanout"),
      _ => fanWidth(base).fold(base)(n => base.repartition(n, col(key))))
  }

  /** The single-split fan decision: `min(cores, FanWidth)` when the
    * session has more than one core and `input` is estimated below one
    * scan split (`spark.sql.files.maxPartitionBytes`), else None — the
    * input already parallelizes. [[fanOut]] and the pair confirms that
    * pin their dedup exchange to the fan width (q19, q82) all decide
    * here.
    */
  private[graft] def fanWidth(input: DataFrame): Option[Int] = {
    val spark = input.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    if (cores > 1 && input.queryExecution.optimizedPlan.stats.sizeInBytes <
        spark.sessionState.conf.filesMaxPartitionBytes)
      Some(math.min(cores, FanWidth))
    else None
  }

  /** Cap on fan-out width. */
  private val FanWidth = 8

  /** Exact row count of a base table from its parquet footers — pure
    * driver-side metadata (no Spark job), memoized per (dir, table):
    * the construction-time size guards (sampling moduli, brute-force
    * caps) otherwise pay a count JOB inside every consumer's timed
    * window for a number the files already carry. Snapshot dirs are
    * immutable by contract; an announced in-place rewrite invalidates
    * through [[invalidate]] like every other cached handle.
    */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    countCache.computeIfAbsent((sfDir, name),
      _ => footerRows(spark, s"$sfDir/$name.parquet"))

  /** Exact row count of the parquet data at `path` — one file, or every
    * part file of a directory — from the footers alone (file metadata,
    * no Spark job).
    */
  private[graft] def footerRows(spark: SparkSession, path: String): Long = {
    val dir = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(dir).isDirectory)
        fs.listStatus(dir).filter(st => st.isFile &&
          st.getPath.getName.endsWith(".parquet"))
      else Array(fs.getFileStatus(dir))
    files.map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Drop cached handles for `sfDir` — required after an IN-PLACE rewrite
    * of a table under it (the cached DataFrame pins the file listing from
    * read time; Spark's own posture is `REFRESH TABLE` in that case).
    * Immutable snapshot dirs — the 100 TB norm, and what
    * `Artifacts.corpusFingerprint` keys on — never need this.
    */
  def invalidate(sfDir: String): Unit = {
    cache.keySet().removeIf(_._2 == sfDir)
    countCache.keySet().removeIf(_._1 == sfDir)
    // the artifact layer memoizes the corpus fingerprint per dir; an
    // in-place rewrite invalidates that listing too
    Artifacts.invalidateFingerprint(sfDir)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` arrives in one of two physical encodings depending on
    * the generator vintage, and this adapter normalizes BOTH to the same
    * logical pair: `ts` as a TimestampType for event-time ops (windows,
    * watermarks) and `ts_ns` as an epoch-nanosecond long for total
    * ordering (upsert version ordering must match the oracle's sort at
    * full stored precision).
    *
    *  - parquet `TIMESTAMP(NANOS)`: Spark's reader rejects it outright
    *    ([PARQUET_TYPE_ILLEGAL]), so it is read as a raw ns long
    *    (`spark.sql.legacy.parquet.nanosAsLong`) and `ts` is the
    *    µs-truncated derivation;
    *  - parquet `timestamp[us]`, not UTC-adjusted (read as
    *    TIMESTAMP_NTZ): the stored wall clock IS the epoch reading —
    *    `ts_ns` measures it against the NTZ epoch with `timestampdiff`,
    *    which is SESSION-TIMEZONE-FREE, where a cast-then-unix_micros
    *    would shift by the session offset (DuckDB's `epoch_us` over the
    *    same naive timestamp applies no zone either — the two must
    *    agree in any session);
    *  - parquet `timestamp[us]`, UTC-adjusted (read as TimestampType):
    *    already an instant; `unix_micros` is zone-free on instants.
    *
    * Oracle-side convention either way: compare timestamps via
    * `epoch_us(ts)` and order via raw `ts` ⇔ Spark `ts_ns` (DuckDB reads
    * every encoding as a native timestamp, so the oracle SQL is
    * vintage-independent).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    val normalized = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts_ns", expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case _ =>
        raw.withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    }
    normalized
      .select("event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props")
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `documents` fanned across cores — use at call sites whose scan-side
    * projection is expensive (tokenize / shingle / regex / media decode),
    * never for metadata-only reads. See [[fanOut]].
    */
  def documentsFanned(s: SparkSession, d: String): DataFrame =
    fanOut(s, d, "documents", "doc_id")

  /** `embeddings` fanned across cores — for vector-arithmetic consumers
    * (distance evals, quantization); see [[fanOut]].
    */
  def embeddingsFanned(s: SparkSession, d: String): DataFrame =
    fanOut(s, d, "embeddings", "vec_id")

  /** `lineitem` fanned across cores, keyed on `l_orderkey` — for the
    * orderkey-grain pre-aggregate (q4), whose scan-fused partial agg
    * otherwise runs on ONE core (the table is a single parquet row
    * group locally). The exchange doubles as the aggregate's required
    * distribution, so the fan adds no shuffle the groupBy would not
    * need; see [[fanOut]].
    */
  def lineitemFanned(s: SparkSession, d: String): DataFrame =
    fanOut(s, d, "lineitem", "l_orderkey")
}
