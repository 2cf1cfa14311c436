package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps

/** Deduplication operators for a large-scale training-data pipeline —
  * exact hashing, MinHash+LSH, SimHash, exact n-gram Jaccard, and
  * embedding-cosine near-dup (BASELINE.json north star; no counterpart in
  * the reference, which dedups only on primary keys via `INSERT OR
  * REPLACE`/`IGNORE`, `etl.py:238-258`).
  *
  * Scale shape: every candidate-generation path here is
  * inverted-index-or-bucket based — near-dup pairs come from equi-joins on
  * shingles / LSH bands / simhash chunks, never from an O(n²) cross join.
  * The only cross join in this family is [[q21EmbeddingNearDup]]'s
  * brute-force baseline, kept as the oracle-checkable ground truth (the
  * scalable path is `Similarity.q23AnnLsh`).
  */
object Dedup {

  /** Whitespace tokens of the document text (already lower-cased in this
    * corpus; composition with TextNorm.tidyWhitespace is the general
    * path). Delegates to the [[graft.functions.Tokenizer]] seam's
    * default — the token-mass operators accept any `Tokenizer`, and the
    * shingle-based dedup family deliberately pins whitespace (its
    * oracles and hash families are defined over it).
    */
  def tokens(text: Column): Column =
    graft.functions.Tokenizer.Whitespace.tokens(text)

  /** Distinct 3-token shingles via the native
    * [[graft.functions.NgramShingles]] kernel (the HOF
    * `transform`+`array_distinct` chain runs interpreted and dominated the
    * sf0.1 dedup bench; <3-token docs yield an empty list).
    */
  def shingles3(toks: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NgramShingles(
        org.apache.spark.sql.GraftSqlBridge.expression(toks), 3))

  /** (doc_id, shingle) inverted-index rows — distinct 3-shingles per
    * document. This frame IS the `ngram_postings` corpus artifact
    * ([[graft.Artifacts]]): the standing index that incremental artifact
    * maintenance updates per-document and rebuilds edges from.
    */
  private[graft] def shingleIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(shingles3(tokens(col("text")))).as("sh"))

  // ---- q17: exact dedup --------------------------------------------------

  /** q17 — exact dedup by content hash: one row per distinct text with the
    * deterministic keeper (min id) and multiplicity. Single hash-partition
    * shuffle; the 100 TB-scale shape (hash is computed map-side, groups
    * are tiny).
    */
  def q17DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(col("text")).as("text_hash"), col("doc_id"))
      .groupBy("text_hash")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_docs"))
      .orderBy("text_hash")

  lazy val q17OracleSql: String =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id,
      |       COUNT(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin

  // ---- q18: MinHash + LSH ------------------------------------------------

  private val MinhashP = graft.functions.PolyHash.Mod // 2^31 - 1
  private val NumHashes = 16
  private val Bands = 4 // x 4 rows per band

  /** Shared affine-family coefficients: the SAME values parameterize the
    * Spark expressions and the generated oracle SQL.
    */
  private val MinhashCoeffs: Seq[(Long, Long)] = {
    val rnd = new java.util.Random(42)
    Seq.fill(NumHashes)(
      (1L + rnd.nextInt(Int.MaxValue - 1), rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Affine hash family over the [[graft.functions.PolyHash]] base value
    * (cross-engine computable — this is what makes q18 fully
    * oracle-checkable). The base is already < p, so `a*h + b` stays below
    * 2^62 — Spark 4 runs in ANSI mode where a silent long overflow is
    * instead a runtime error.
    */
  private def minhashFns: Seq[Column] = {
    val base = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.GraftSqlBridge.expression(col("sh"))))
    MinhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      pmod(lit(a) * base + lit(b), lit(MinhashP)).as(s"h$i")
    }
  }

  /** Per-doc MinHash signature: groupBy(doc) of k column-wise mins — pure
    * hash-aggregate with map-side partials, one shuffle.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesFrom(shingleIndex(docs))

  /** [[minhashSignatures]] over a given (doc_id, sh) postings frame —
    * the committed `ngram_postings` artifact in `Artifacts.materialize`,
    * so the band build reuses the one shingle scan the posting build
    * already paid for instead of re-tokenizing the corpus.
    */
  private[graft] def minhashSignaturesFrom(postings: DataFrame): DataFrame = {
    val hashed = postings.select(col("doc_id") +: minhashFns: _*)
    hashed.groupBy("doc_id")
      .agg(min(col("h0")).as("h0"),
        (1 until NumHashes).map(i => min(col(s"h$i")).as(s"h$i")): _*)
  }

  /** Bucket-population cap shared by both LSH candidate joins (q18 band
    * buckets, q19 simhash chunk buckets): buckets holding more than this
    * many documents are dropped BEFORE the self-join. Same disease and
    * same cure as q20's [[MaxShingleDf]]: the candidate join's cost is
    * Σ pop(bucket)², and on a real training corpus duplicate clusters are
    * exactly what is common — k copies of one boilerplate page share every
    * bucket, so one hot bucket goes O(k²). The cap bounds fan-out at 64²
    * rows per bucket, which is also a bound on the pair OUTPUT (itself
    * O(k²) by the pair semantics; the cluster-true shape is
    * [[q40DedupKeepers]]). A bucket with >64 members carries little
    * discriminating signal anyway — a pair inside one usually shares
    * another, colder bucket. The SAME cap is applied in the generated
    * oracle SQL, so the cross-engine hash checks still hold.
    */
  private[operators] val MaxBucketPop = 64

  /** Drop rows of `df` whose (bucket-key) group has more than `max`
    * members: a window count partitioned by the bucket
    * keys, not a separate aggregate + equi-join. One shuffle computes the
    * population AND leaves the index hash-partitioned by the bucket keys
    * — the partitioning the downstream self-join requires, so Catalyst's
    * exchange reuse serves both join sides from the single shuffle
    * (verified on the executed plan: the second side is a
    * `ReusedExchange`). An earlier shape localCheckpoint'ed the index
    * twice; the checkpoint write/read jobs cost more than the subtree
    * evaluation they saved. The bound is an explicit parameter so each
    * caller's cap is the SAME constant its oracle interpolates — two
    * values that must agree by coincidence broke q65's review.
    */
  private[operators] def capBuckets(df: DataFrame, max: Long,
      keys: String*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    df.withColumn("__pop", count(lit(1)).over(w))
      .filter(col("__pop") <= max)
      .drop("__pop")
  }

  /** Per-doc LSH band index over the MinHash signature: one row per
    * (doc_id, band) with `sig` (the full 16-min array) and `bucket` (the
    * band's signature slice rendered as a string — directly joinable, no
    * second hash). Shared by [[q18DedupMinhash]] and
    * `CorpusOps.q50IncrementalDedup`.
    */
  private[graft] def bandedSignatures(docs: DataFrame): DataFrame =
    bandedSignaturesFrom(shingleIndex(docs))

  /** [[bandedSignatures]] over a given postings frame (see
    * [[minhashSignaturesFrom]]).
    */
  private[graft] def bandedSignaturesFrom(postings: DataFrame): DataFrame = {
    val sigs = minhashSignaturesFrom(postings)
      .withColumn("sig", array((0 until NumHashes).map(i => col(s"h$i")): _*))
      .select("doc_id", "sig")
    val rowsPerBand = NumHashes / Bands
    sigs.select(col("doc_id"), col("sig"),
      posexplode(transform(
        sequence(lit(0), lit(Bands - 1)),
        b => concat_ws("_",
          transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            _.cast("string")))))
        .as(Seq("band", "bucket")))
  }

  /** Signature agreement fraction between sig arrays `a` and `b`. */
  private[operators] def estJaccard(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m))
      .cast("double") / NumHashes

  /** q18 — MinHash LSH near-dup pairs: band-bucket equi-join generates
    * candidates (bucket = the band's signature slice rendered as a string
    * — directly joinable, no second hash); signature agreement estimates
    * Jaccard; pairs ≥ 0.5 kept. Buckets over [[MaxBucketPop]] are dropped
    * first (hot-bucket bound). Fully oracle-checked: the PolyHash base +
    * shared affine coefficients are computed identically in DuckDB
    * ([[q18OracleSql]] is generated from the same constants).
    */
  def q18DedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val banded = graft.Artifacts.serve(spark, dir, graft.Artifacts.MinhashBandsName)
    val kept = capBuckets(banded, MaxBucketPop, "band", "bucket")

    val a = kept.select(col("band"), col("bucket"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = kept.select(col("band"), col("bucket"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sig_a", "sig_b")
      .dropDuplicates("doc_a", "doc_b")

    cand.withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= 0.5)
      .select("doc_a", "doc_b", "est_jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** CTE chain ending in `sigs(doc_id, h0..h15)` and `bands(doc_id, band,
    * bucket)` — the oracle counterpart of [[minhashSignatures]] +
    * [[bandedSignatures]], generated from the PolyHash SQL kernel and
    * [[MinhashCoeffs]]. Shared by [[q18OracleSql]] and
    * `CorpusOps.q50OracleSql` so the two cannot drift.
    */
  private[operators] lazy val minhashCtes: String = {
    val ph = graft.functions.PolyHash.sql("sh")
    val minCols = MinhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * base + $b) % $MinhashP) AS h$i"
    }.mkString(",\n         ")
    val rowsPerBand = NumHashes / Bands
    val bandRows = (0 until Bands).map { bnd =>
      val cols = (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT doc_id, $bnd AS band, $cols AS bucket FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""toks AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(t) < 3 THEN []
      |         ELSE list_transform(generate_series(1, len(t) - 2),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)) AS sh
      |  FROM toks
      |), hashed AS (
      |  SELECT doc_id, $ph AS base FROM sh
      |), sigs AS (
      |  SELECT doc_id,
      |         $minCols
      |  FROM hashed GROUP BY doc_id
      |), bands AS (
      |  $bandRows
      |)""".stripMargin
  }

  /** Signature-agreement SQL over sig rows aliased `sa`/`sb`. */
  private[operators] val minhashEqTerms: String = (0 until NumHashes)
    .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
    .mkString(" + ")

  /** Generated from the same shingle chain as q20's oracle, the PolyHash
    * SQL kernel, and [[MinhashCoeffs]].
    */
  lazy val q18OracleSql: String = {
    val eqTerms = minhashEqTerms
    s"""WITH $minhashCtes, bkeep AS (
      |  SELECT band, bucket FROM bands
      |  GROUP BY 1, 2 HAVING COUNT(*) <= $MaxBucketPop
      |), kept AS (
      |  SELECT b.doc_id, b.band, b.bucket FROM bands b
      |  JOIN bkeep k ON b.band = k.band AND b.bucket = k.bucket
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM kept a JOIN kept b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      |)
      |SELECT c.doc_a, c.doc_b,
      |       ($eqTerms) / 16.0 AS est_jaccard
      |FROM cand c
      |JOIN sigs sa ON sa.doc_id = c.doc_a
      |JOIN sigs sb ON sb.doc_id = c.doc_b
      |WHERE ($eqTerms) / 16.0 >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- q141: LSH band-calibration audit -----------------------------------

  /** Band counts audited by [[q141LshCalibration]]: every (bands x rows)
    * factorization of the [[NumHashes]]-hash signature from 2 bands up
    * to the rows=1 extreme that anchors recall.
    */
  private[graft] val CalibrationBands: Seq[Int] = Seq(2, 4, 8, 16)

  /** Candidate-acceptance threshold -- q18's est-Jaccard working point. */
  private val AcceptEst = 0.5

  /** q141 -- LSH band-calibration audit, the S-curve table a deployment
    * reads before picking q18's operating point (Leskovec, Rajaraman &
    * Ullman, "Mining of Massive Datasets" 3.4.3): for each
    * factorization of the standing [[NumHashes]]-hash MinHash signature
    * into (bands x rows), band-bucket the SAME signatures, run the same
    * hot-bucket-capped candidate self-join, and report candidate
    * volume, accepted volume (est-Jaccard >= [[AcceptEst]], q18's
    * verdict), precision (accepted / candidates), and recall measured
    * against the rows=1 configuration's accepted set -- the loosest
    * candidate generator 16 hashes support, so the closest available
    * stand-in for "every pair the signature could have surfaced".
    * Recall is a REAL pair intersection, not a count ratio: the
    * hot-bucket cap means a coarse band can surface a pair the rows=1
    * config dropped (its singleton buckets run hot first), so subset
    * reasoning does not survive the cap. More bands -> more candidates,
    * lower precision, higher recall; the four rows ARE the tuning
    * curve.
    *
    * Scale shape: the corpus appears only through the standing
    * signature artifact (one checkpointed scan feeds all four
    * configs); each config is q18's capped bucket equi-join with the
    * SAME [[MaxBucketPop]] bound; the only pair-grain join after that
    * is accepted x (rows=1 accepted) -- both sides already
    * cap-bounded. The audit is what a 100 TB deployment runs on a
    * sample before committing a band layout to the full corpus.
    */
  def q141LshCalibration(spark: SparkSession, dir: String): DataFrame =
    // artifact-first (the neardup_truth posture): the table is a pure
    // function of the standing minhash_bands artifact, so the four
    // capped self-joins run once per corpus snapshot — a consumer
    // reads the 4-row standing table (re-ordered after the parquet
    // round-trip; the inline plan carries its own orderBy)
    graft.Artifacts.current(spark, dir, graft.Artifacts.LshCalibrationName)
      .map(_.orderBy("bands"))
      .getOrElse(lshCalibrationFrame(spark, dir))

  /** The inline calibration pass — what the standing `lsh_calibration`
    * artifact materializes and the no-root fallback runs per query.
    */
  private[graft] def lshCalibrationFrame(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val sigs = graft.Checkpoints.checkpoint(
      graft.Artifacts.serve(spark, dir, graft.Artifacts.MinhashBandsName)
        .select("doc_id", "sig").dropDuplicates("doc_id"))
    def candPairs(bands: Int): DataFrame = {
      val r = NumHashes / bands
      val banded = sigs.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws("_",
            transform(slice(col("sig"), b * r + 1, lit(r)),
              _.cast("string")))))
          .as(Seq("band", "bucket")))
      val kept = capBuckets(banded, MaxBucketPop, "band", "bucket")
      val a = kept.select(col("band"), col("bucket"),
        col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val b = kept.select(col("band"), col("bucket"),
        col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      a.join(b, Seq("band", "bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
        .select(lit(bands).as("bands"), col("doc_a"), col("doc_b"),
          (estJaccard(col("sig_a"), col("sig_b")) >= AcceptEst)
            .as("accepted"))
    }
    val pairs = graft.Checkpoints.checkpoint(
      CalibrationBands.map(candPairs).reduce(_ union _))
    val widest = pairs
      .filter(col("bands") === NumHashes && col("accepted"))
      .select("doc_a", "doc_b")
    val stats = pairs.groupBy("bands")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("accepted"), 1L).otherwise(0L)).as("n_accepted"))
    val hits = pairs.filter(col("accepted"))
      .join(widest, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy("bands").agg(count(lit(1)).as("n_hit"))
    val nMax = widest.agg(count(lit(1)).as("n_max"))
    // literal config spine: a config whose candidate set is EMPTY still
    // reports its zero row (the oracle's per-config aggregates do)
    val spine = CalibrationBands
      .map(b => (b, NumHashes / b)).toDF("bands", "rows_per_band")
    spine.join(stats, Seq("bands"), "left")
      .join(hits, Seq("bands"), "left")
      .crossJoin(broadcast(nMax))
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_accepted"), lit(0L)).as("n_accepted"),
        graft.functions.VectorOps.round6(
          when(coalesce(col("n_candidates"), lit(0L)) > 0,
            col("n_accepted").cast("double") / col("n_candidates"))
            .otherwise(0.0)).as("precision"),
        graft.functions.VectorOps.round6(when(col("n_max") > 0,
          coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_max"))
          .otherwise(0.0)).as("recall"))
      .orderBy("bands")
  }

  /** Per-config band/cap/join/verdict chains generated from the same
    * constants, with the rows=1 accepted set as the recall baseline
    * and per-config scalar aggregates so empty configs still report.
    */
  lazy val q141OracleSql: String = {
    val eqTerms = minhashEqTerms
    val configs = CalibrationBands.map { bands =>
      val r = NumHashes / bands
      val bandRows = (0 until bands).map { bnd =>
        val cols = (bnd * r until (bnd + 1) * r)
          .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || '_' || ")
        s"SELECT doc_id, $bnd AS band, $cols AS bucket FROM sigs"
      }.mkString("\n  UNION ALL\n  ")
      s"""bands$bands AS (
         |  $bandRows
         |), bkeep$bands AS (
         |  SELECT band, bucket FROM bands$bands
         |  GROUP BY 1, 2 HAVING COUNT(*) <= $MaxBucketPop
         |), kept$bands AS (
         |  SELECT b.doc_id, b.band, b.bucket FROM bands$bands b
         |  JOIN bkeep$bands k ON b.band = k.band AND b.bucket = k.bucket
         |), cand$bands AS (
         |  SELECT c.doc_a, c.doc_b,
         |         ($eqTerms) / 16.0 >= $AcceptEst AS accepted
         |  FROM (
         |    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |    FROM kept$bands a JOIN kept$bands b
         |      ON a.band = b.band AND a.bucket = b.bucket
         |        AND a.doc_id < b.doc_id
         |  ) c
         |  JOIN sigs sa ON sa.doc_id = c.doc_a
         |  JOIN sigs sb ON sb.doc_id = c.doc_b
         |)""".stripMargin
    }.mkString(", ")
    val stats = CalibrationBands.map { bands =>
      val r = NumHashes / bands
      s"""stat$bands AS (
         |  SELECT $bands AS bands, $r AS rows_per_band,
         |         (SELECT COUNT(*) FROM cand$bands) AS n_candidates,
         |         (SELECT CAST(COALESCE(SUM(CASE WHEN accepted
         |            THEN 1 ELSE 0 END), 0) AS BIGINT) FROM cand$bands)
         |           AS n_accepted,
         |         (SELECT COUNT(*) FROM cand$bands c
         |          JOIN widest w ON c.doc_a = w.doc_a AND c.doc_b = w.doc_b
         |          WHERE c.accepted) AS n_hit
         |)""".stripMargin
    }.mkString(", ")
    val unioned = CalibrationBands
      .map(b => s"SELECT * FROM stat$b").mkString("\n  UNION ALL\n  ")
    val prec = graft.functions.VectorOps.round6Sql(
      "CASE WHEN s.n_candidates > 0 THEN " +
        "CAST(s.n_accepted AS DOUBLE) / s.n_candidates ELSE 0.0 END")
    val rec = graft.functions.VectorOps.round6Sql(
      "CASE WHEN m.n_max > 0 THEN " +
        "CAST(s.n_hit AS DOUBLE) / m.n_max ELSE 0.0 END")
    s"""WITH $minhashCtes, $configs, widest AS (
       |  SELECT doc_a, doc_b FROM cand$NumHashes WHERE accepted
       |), $stats, stats AS (
       |  $unioned
       |)
       |SELECT s.bands, s.rows_per_band, s.n_candidates, s.n_accepted,
       |       $prec AS precision, $rec AS recall
       |FROM stats s,
       |     (SELECT COUNT(*) AS n_max FROM widest) m
       |ORDER BY s.bands""".stripMargin
  }

  // ---- q19: SimHash ------------------------------------------------------

  // Two PolyHash multiplier variants concatenated -> 62-bit signature
  // (31 bits each); 31 bits alone is too coarse on a shared-vocabulary
  // corpus (41% of all pairs landed within Hamming 3).
  private val SimhashBits = 62

  /** Per-doc 62-bit SimHash over distinct tokens: 62 ±1 bit-sums in one
    * hash-aggregate, sign-assembled into a long. The base hash is the
    * cross-engine [[graft.functions.PolyHash]] (multipliers 31 and 37),
    * which is what lets q19 carry a full DuckDB oracle.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("tok"))
    // Affine scramble decorrelates the polynomial hash's magnitude from
    // token length (short tokens otherwise leave high signature bits
    // biased toward zero and collapse the signature's entropy).
    def ph(mult: Int) = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.GraftSqlBridge.expression(col("tok")), mult))
    def scrambled(mult: Int) =
      pmod(lit(1103515245L) * ph(mult) + lit(12345L), lit(MinhashP))
    val hashed = tok.withColumn("h",
      scrambled(31).bitwiseOR(shiftleft(scrambled(37), 31)))
    val simhash = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.SimhashAgg(
        org.apache.spark.sql.GraftSqlBridge.expression(col("h")), SimhashBits)
        .toAggregateExpression())
    hashed.groupBy("doc_id").agg(simhash.as("simhash"))
  }

  /** q19 — SimHash near-dup pairs: candidates share at least one of four
    * 16-bit chunks; by pigeonhole every pair with Hamming ≤ 3 lands in
    * some shared chunk, so the ≤ 3 verification is exact — and complete
    * for pairs whose shared chunk's bucket holds ≤ [[MaxBucketPop]] docs.
    * Hot buckets (e.g. near-empty docs collapsing toward simhash 0) are
    * dropped before the self-join, trading completeness inside a >64-way
    * duplicate cluster for a bounded join (see [[MaxBucketPop]]; clusters
    * are the province of [[q40DedupKeepers]]). Fully oracle-checked
    * ([[q19OracleSql]] regenerates the bit-sums in SQL from the same
    * PolyHash base, same cap).
    */
  def q19DedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val sigs = simhashSignatures(Tables.documentsFanned(spark, dir))
    val chunked = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk", "chunk_val")))
    val kept = capBuckets(chunked, MaxBucketPop, "chunk", "chunk_val")
    val a = kept.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = kept.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    // The pair dedup's exchange carries bytes-tiny rows but the hamming
    // confirm downstream is the op's per-pair CPU; when the whole corpus
    // is below one scan split AQE coalesces that exchange to 1 task by
    // its BYTES and the confirm runs serial (profiled: a 147 ms 1-task
    // stage). Pin the dedup's own exchange to the fan width under
    // Tables.fanOut's single-split decision (Tables.fanWidth) — the
    // numbered hash repartition satisfies the dedup's required
    // distribution, so this adds no exchange; past one split there is no
    // width and AQE keeps sizing by bytes (the corpus-scale posture, as
    // in q82's confirm).
    val pairs0 = a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
    val pairs = Tables.fanWidth(Tables.documents(spark, dir))
      .fold(pairs0)(n => pairs0.repartition(n, col("doc_a"), col("doc_b")))
    pairs
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Generated from the PolyHash SQL kernel + the same bit/chunk layout. */
  lazy val q19OracleSql: String = {
    val ph31 = graft.functions.PolyHash.sql("tok", 31)
    val ph37 = graft.functions.PolyHash.sql("tok", 37)
    val sigExpr = (0 until SimhashBits).map { i =>
      s"(CASE WHEN SUM(CASE WHEN (base >> $i) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
        s"THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)"
    }.mkString("\n           + ")
    val chunkRows = (0 until 4).map(c =>
      s"SELECT doc_id, $c AS chunk, (simhash >> ${c * 16}) & 65535 AS chunk_val, simhash FROM sigs")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS tok
      |  FROM documents
      |), hashed AS (
      |  SELECT doc_id,
      |         ((1103515245 * ($ph31) + 12345) % $MinhashP)
      |         | (((1103515245 * ($ph37) + 12345) % $MinhashP) << 31) AS base
      |  FROM tok
      |), sigs AS (
      |  SELECT doc_id,
      |         $sigExpr AS simhash
      |  FROM hashed GROUP BY doc_id
      |), chunks AS (
      |  $chunkRows
      |), ckeep AS (
      |  SELECT chunk, chunk_val FROM chunks
      |  GROUP BY 1, 2 HAVING COUNT(*) <= $MaxBucketPop
      |), kept AS (
      |  SELECT c.doc_id, c.chunk, c.chunk_val, c.simhash FROM chunks c
      |  JOIN ckeep k ON c.chunk = k.chunk AND c.chunk_val = k.chunk_val
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.simhash AS sim_a, b.simhash AS sim_b
      |  FROM kept a JOIN kept b
      |    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
      |   AND a.doc_id < b.doc_id
      |)
      |SELECT doc_a, doc_b,
      |       CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
      |FROM cand
      |WHERE bit_count(xor(sim_a, sim_b)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- q20: exact n-gram Jaccard ----------------------------------------

  /** Document-frequency cap for the q20 inverted-index join: shingles
    * appearing in more than this many documents are treated as
    * stop-shingles and removed from every document's set BEFORE counting —
    * so the reported Jaccard is exact over the capped shingle universe
    * (sets stay self-consistent; this is not a lossy candidate filter).
    *
    * Why: the self-join's cost is Σ df(shingle)². Uncapped, one
    * boilerplate shingle shared by most of the corpus goes quadratic —
    * the textbook 100 TB scale-killer. A shingle in >64 documents carries
    * no dedup signal (it is corpus boilerplate by definition), and the cap
    * bounds the join fan-out at 64² rows per shingle. The SAME cap is
    * applied in [[q20OracleSql]], so the cross-engine hash check still
    * holds.
    */
  private[graft] val MaxShingleDf = 64

  /** q20 — 3-gram Jaccard pairs ≥ 0.5 via inverted-index self-join over
    * the DF-capped shingle universe (pairs share ≥1 surviving shingle;
    * intersection counted per pair, union by inclusion–exclusion).
    * DuckDB-expressible → full oracle. Served from the `dup_pairs`
    * corpus artifact when one is committed for the corpus's current
    * fingerprint — the pair table is also the keeper build's near-edge
    * input, so materialized mode derives the whole chain once per
    * snapshot, not once per consumer.
    */
  def q20NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.serve(spark, dir, graft.Artifacts.DupPairsName)
      .orderBy("doc_a", "doc_b")

  /** q20's pair chain over a given (doc_id, sh) postings frame (the
    * whole-corpus [[shingleIndex]] inline; the `ngram_postings` artifact
    * in materialized/incremental mode). Unordered — callers sort.
    */
  private[graft] def jaccardPairs(postings: DataFrame): DataFrame = {
    // The df cap is a window count partitioned by shingle, not a separate
    // aggregate + equi-join: one shuffle by `sh` computes the cap AND
    // leaves the index hash-partitioned by `sh`, which is exactly the
    // partitioning the pair self-join needs — Catalyst reuses the
    // exchange for both join sides (verified on the plan), so the whole
    // chain is one job with no materialization barriers. (An earlier
    // shape localCheckpoint'ed the raw index twice to avoid subtree
    // re-evaluation; the checkpoint write/read jobs cost more than the
    // explode they saved.)
    val dfw = org.apache.spark.sql.expressions.Window.partitionBy("sh")
    val idx = postings
      .withColumn("df", count(lit(1)).over(dfw))
      .filter(col("df") <= MaxShingleDf)
      .select("doc_id", "sh")
    val counts = idx.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = idx.as("x").join(idx.as("y"), col("x.sh") === col("y.sh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "n_inter", "jaccard")
  }

  /** Shared CTE chain computing q20's capped-universe Jaccard pairs
    * (`jac` = doc_a, doc_b, n_inter, jaccard). Used verbatim by
    * [[q20OracleSql]] and re-used as the near-dup edge source in
    * [[q40OracleSql]], so the two oracles can never drift apart.
    */
  private[graft] lazy val jaccardCtes: String =
    s"""toks AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |), allsh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(t) < 3 THEN []
      |         ELSE list_transform(generate_series(1, len(t) - 2),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)) AS sh
      |  FROM toks
      |), keep AS (
      |  SELECT sh FROM allsh GROUP BY sh HAVING COUNT(*) <= $MaxShingleDf
      |), sh AS (
      |  SELECT a.doc_id, a.sh FROM allsh a JOIN keep k ON a.sh = k.sh
      |), counts AS (
      |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
      |), pairs AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_inter
      |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |), jac AS (
      |  SELECT doc_a, doc_b, n_inter,
      |         CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
      |  FROM pairs
      |  JOIN counts ca ON ca.doc_id = doc_a
      |  JOIN counts cb ON cb.doc_id = doc_b
      |)""".stripMargin

  lazy val q20OracleSql: String =
    s"""WITH $jaccardCtes
      |SELECT doc_a, doc_b, n_inter, jaccard
      |FROM jac WHERE jaccard >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q100: Jaccard similarity band histogram ---------------------------

  /** q100 — the threshold-picking report over q20's near-dup pair table:
    * pair and distinct-document counts per 0.05-wide Jaccard band
    * (band = `floor(jaccard·20)`, so band 10 = [0.50, 0.55), band 20 =
    * exactly 1.0). Raising a dedup threshold from 0.5 to 0.7 drops every
    * pair in bands 10–13; this histogram is the mass those bands hold —
    * the evidence a pipeline cites when it tunes the cutoff, instead of
    * re-running the full dedup per candidate threshold.
    *
    * Band boundaries are computed from the same double `jaccard` both
    * engines derive (identical IEEE division), so the banding is
    * cross-engine exact like the q56 sampling comparison.
    *
    * Scale shape: one read of the standing `dup_pairs` artifact (the
    * pair table is built once per snapshot, already change-bounded under
    * maintenance), banded map-side, aggregated to ≤11 rows; the
    * distinct-doc count stacks the two id columns before a band-grain
    * distinct — pair-table-bounded, never corpus-bounded. Checkpointed
    * because the banded frame feeds both rollups: without the pin the
    * inline fallback would derive the full pair chain twice.
    */
  def q100JaccardBands(spark: SparkSession, dir: String): DataFrame = {
    val banded = graft.Checkpoints.checkpoint(
      graft.Artifacts.serve(spark, dir, graft.Artifacts.DupPairsName)
        .withColumn("band", floor(col("jaccard") * 20).cast("int"))
        .select("band", "doc_a", "doc_b"))
    val pairCounts = banded.groupBy("band")
      .agg(count(lit(1)).as("n_pairs"))
    val docCounts = banded.select(col("band"), col("doc_a").as("d"))
      .unionByName(banded.select(col("band"), col("doc_b").as("d")))
      .groupBy("band").agg(countDistinct("d").as("n_docs"))
    pairCounts.join(docCounts, Seq("band"))
      .withColumn("band_lo",
        graft.functions.VectorOps.round6(col("band") / lit(20.0)))
      .select("band", "band_lo", "n_pairs", "n_docs")
      .orderBy("band")
  }

  /** q20's pair CTEs verbatim, banded and rolled up with the same
    * floor/stack/distinct arithmetic.
    */
  lazy val q100OracleSql: String =
    s"""WITH $jaccardCtes, banded AS (
      |  SELECT CAST(floor(jaccard * 20) AS INTEGER) AS band, doc_a, doc_b
      |  FROM jac WHERE jaccard >= 0.5
      |), pc AS (
      |  SELECT band, COUNT(*) AS n_pairs FROM banded GROUP BY band
      |), dc AS (
      |  SELECT band, COUNT(DISTINCT d) AS n_docs FROM (
      |    SELECT band, doc_a AS d FROM banded
      |    UNION ALL
      |    SELECT band, doc_b AS d FROM banded
      |  ) GROUP BY band
      |)
      |SELECT band,
      |       ${graft.functions.VectorOps.round6Sql("band / 20.0")} AS band_lo,
      |       n_pairs, n_docs
      |FROM pc JOIN dc USING (band)
      |ORDER BY band""".stripMargin

  // ---- q21: embedding-cosine near-dup -----------------------------------

  /** Hard ceiling on the corpus size [[q21EmbeddingNearDup]] will
    * cross-join. The brute-force path exists as oracle-checkable ground
    * truth for the scalable ANN paths (`Similarity.q82AnnNearDupPairs`
    * for pair enumeration, `Similarity.q23AnnLsh`/`q35IvfAnn` for probe
    * search); pointing it at a production-sized table must fail loudly
    * at plan-build time, not silently run O(n²).
    */
  private[graft] val MaxBruteForceVectors = 20000L

  /** q21 — embedding near-dup pairs: brute-force cosine ≥ 0.4 with the
    * deterministic decimal-rounded score (the oracle ground truth;
    * `Similarity.q82AnnNearDupPairs` is the bucketed scale path — same
    * threshold, same rounding, subset-by-construction).
    *
    * ARTIFACT-FIRST: the truth is eval state — a pure function of the
    * embeddings snapshot — so when the standing `neardup_truth`
    * artifact resolves, q21 (and every recall scorer that reads the
    * truth, q111 foremost) serves the committed pairs instead of
    * re-paying the O(n²) pass per consumer.
    *
    * Guarded inline: refuses corpora larger than
    * [[MaxBruteForceVectors]]. The guard's `count()` on a parquet
    * source is satisfied from row-group metadata (no data scan), so
    * the check is cheap even on a large table it is about to reject —
    * and over-cap corpora never have a truth artifact to serve, so the
    * refusal stays loud in both modes.
    */
  def q21EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.current(spark, dir, graft.Artifacts.NearDupTruthName)
      .map(_.select("id_a", "id_b", "cos").orderBy("id_a", "id_b"))
      .getOrElse(embeddingNearDupPairsFrom(Tables.embeddings(spark, dir)))

  /** [[q21EmbeddingNearDup]] over a caller-supplied embeddings frame —
    * the seam the deterministic eval sample
    * (`Similarity.sampledNearDupRecall`) runs the ground truth through:
    * the guard then bounds the SAMPLE, so the brute-force pass stays
    * refusable at corpus grain while remaining runnable on a hash-chosen
    * subset of any corpus.
    */
  private[graft] def embeddingNearDupPairsFrom(emb: DataFrame): DataFrame = {
    val nVecs = emb.count()
    require(nVecs <= MaxBruteForceVectors,
      s"q21 brute-force cosine is O(n²) and capped at $MaxBruteForceVectors " +
        s"vectors (got $nVecs); use q82_ann_neardup (bucketed pair " +
        "enumeration) or q23_ann_lsh / q35_ivf_ann (probe search) at scale " +
        "— q21 exists only as small-corpus oracle ground truth")
    // Norms are precomputed once per vector (not once per pair): the pair
    // scan then evaluates a single codegen'd dot product per candidate.
    val e = emb
      .select(col("vec_id"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("nrm").as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", VectorOps.round6(
        VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .filter(col("cos") >= 0.4)
      .select("id_a", "id_b", "cos")
      .orderBy("id_a", "id_b")
  }

  lazy val q21OracleSql: String = nearDupTruthSql("embeddings")

  /** [[q21OracleSql]] over a caller-chosen table/CTE name — q117's
    * oracle replays the ground truth over its sampled CTE.
    */
  private[graft] def nearDupTruthSql(table: String): String = {
    val cos = VectorOps.round6Sql(VectorOps.cosineSql("a.embedding", "b.embedding"))
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       $cos AS cos
      |FROM $table a JOIN $table b ON a.vec_id < b.vec_id
      |WHERE $cos >= 0.4
      |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q40: cluster-representative keepers --------------------------------

  /** Connected components by iterative min-label propagation: every vertex
    * starts labelled with its own id; each round takes the min of its own
    * and its neighbours' labels; fixpoint = per-component min id.
    *
    * Scale shape: each round is one shuffle (edge⋈label join + min
    * aggregate), and `localCheckpoint` truncates the lineage so the plan
    * does not grow with the iteration count (on a real cluster, swap for
    * `checkpoint` on durable storage). Rounds needed = component
    * diameter — small for dedup cluster graphs, which are dense blobs of
    * mutual near-dups, not long chains. For adversarial diameters use
    * [[connectedComponentsStar]] (alternating large-star/small-star
    * contraction, O(log) rounds on a chain); plain propagation is the
    * right trade here. Convergence is detected via the label sum: labels only
    * ever decrease, so the sum is strictly monotone until fixpoint — one
    * cheap aggregate per round instead of a per-vertex diff join.
    *
    * @param vertices single `v` column (vertex ids)
    * @param edges    `src`/`dst` columns, treated as undirected
    * @return (v, label) with label = min vertex id in v's component
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // Materialized once: the symmetrized edge list is re-joined every
    // round, and `edges` may carry an arbitrarily expensive upstream plan
    // (q40 feeds it the whole n-gram Jaccard chain) that must not be
    // re-evaluated per iteration.
    val (sym, symHandle) = graft.Checkpoints.checkpointed(
      edges.select(col("src").as("v"), col("dst").as("n"))
        .union(edges.select(col("dst").as("v"), col("src").as("n")))
        .distinct())
    // Only non-isolated vertices take part in propagation: in a dedup
    // graph the overwhelming majority of documents are singletons, so
    // iterating their self-labels would make every round's join scale
    // with the CORPUS instead of with the duplicate surface (the thing
    // that matters at 100 TB — the label table here is bounded by the
    // capped pair output, orders of magnitude below the document count).
    // Isolated vertices rejoin as their own keeper after the fixpoint.
    //
    // Initialization IS round one: with identity labels, the first
    // round's neighbor-min is just min(v, min(neighbors)) — computable
    // as one aggregate over the edge list, no join.
    var (labels, labelsHandle) = graft.Checkpoints.checkpointed(
      sym.select(col("v"), col("n").as("label"))
        .union(sym.select(col("v"), col("v").as("label")))
        .groupBy("v").agg(min("label").as("label")))
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("label"), lit(0L))).head().getLong(0)
    // Each round: ship every vertex's label to its neighbors (one join),
    // then min-reduce the shipped labels TOGETHER with the vertices' own
    // (union + aggregate). Two exchanges per round — the earlier
    // join + groupBy + left-join-back shape paid a third.
    def propagate(l: DataFrame): DataFrame = {
      val nbr = sym
        .join(l.select(col("v").as("n"), col("label").as("nl")), "n")
        .select(col("v"), col("nl").as("label"))
      nbr.union(l).groupBy("v").agg(min("label").as("label"))
    }
    // -1 sentinel skips a separate action for the initial sum (real label
    // sums are never negative). Monotonicity makes the sum an exact
    // convergence test: labels only decrease, so the sum is stable iff
    // the labelling is a fixpoint. (A two-hops-per-materialization
    // variant measured no better — the extra joins per action offset the
    // saved job floors.)
    var prevSum = -1L
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // Lazy checkpoint: the labelSum action below materializes it, so
      // each iteration costs ONE job, not an eager-checkpoint job plus
      // the convergence aggregate. Round N-1's blocks are released the
      // moment round N is materialized — peak pinned storage is one
      // round's label table, not the whole iteration history.
      val (next, nextHandle) =
        graft.Checkpoints.checkpointed(propagate(labels), eager = false)
      val s = labelSum(next)
      labelsHandle.release()
      converged = s == prevSum
      prevSum = s
      labels = next
      labelsHandle = nextHandle
      iter += 1
    }
    // The final label table is checkpointed (lineage truncated), so the
    // symmetrized edge list is no longer reachable from the returned
    // plan — drop its blocks now rather than at session end.
    symHandle.release()
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "component diameter exceeds the bound; raise maxIter or switch to " +
        "connectedComponentsStar (large-star/small-star contraction)")
    vertices.join(labels, Seq("v"), "left")
      .select(col("v"), coalesce(col("label"), col("v")).as("label"))
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — the opt-in for ADVERSARIAL-DIAMETER graphs.
    * [[connectedComponents]]' min-label propagation runs one round per
    * unit of component diameter: right for dedup clusters (dense blobs,
    * diameter 2–3), hopeless for a 10⁶-long chain. Star contraction
    * halves long paths every round instead of shaving one hop, so rounds
    * grow with log(diameter):
    *
    *  - large-star: every node points its LARGER neighbors at the
    *    minimum of its closed neighborhood;
    *  - small-star: every node points its smaller-or-equal neighbors
    *    (and itself) at that minimum.
    *
    * Each phase is one shuffle (a groupBy-min plus an equi-join back to
    * the edge list), exactly like a propagation round — the win is the
    * round COUNT, not the per-round cost. At fixpoint the edge set is a
    * disjoint union of stars whose centers are the component minima.
    * Convergence check: canonical edge-set stability — cheap (count,
    * hash-sum) checksums every round, with an exact `exceptAll` probe
    * only when the checksums agree (same count + empty difference =
    * equal set), so the common path stays one aggregate per phase.
    *
    * Same contract as [[connectedComponents]]: (v, label) with label =
    * min vertex id of v's component; isolated vertices label themselves.
    */
  def connectedComponentsStar(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 50): DataFrame =
    starContraction(vertices, edges, maxIter)._1

  /** [[connectedComponentsStar]] plus the number of alternation rounds
    * taken — exposed for the convergence-rate spec (a 10³ chain must
    * converge in O(log) rounds, where propagation needs O(n)).
    */
  private[graft] def starContraction(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 50): (DataFrame, Int) = {
    // canonical orientation: (u = larger endpoint, v = smaller); self
    // loops dropped. The alternation preserves this invariant — both
    // phases only ever point nodes at a MINIMUM of a neighborhood.
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("c"), least(col("mn"), col("u")).as("m"))
      canon(sym.join(mins, sym("u") === col("c"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // e is canonical: v < u on every row
      val mins = e.groupBy("u").agg(min("v").as("m"))
        .select(col("u").as("c"), col("m"))
      val joined = e.join(mins, e("u") === col("c"))
      canon(joined.select(col("v").as("u"), col("m").as("v"))
        .union(joined.select(col("u"), col("m").as("v"))))
    }

    var (e, eHandle) = graft.Checkpoints.checkpointed(canon(
      edges.select(col("src").as("u"), col("dst").as("v"))))
    // XOR-fold of row hashes: order-insensitive over the (distinct)
    // canonical set and immune to ANSI overflow, unlike a sum
    def checksum(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = checksum(e)
    var iter = 0
    var stable = prev._1 == 0L // no edges -> already a (degenerate) fixpoint
    while (!stable && iter < maxIter) {
      val (next, nextHandle) =
        graft.Checkpoints.checkpointed(smallStar(largeStar(e)), eager = false)
      val chk = checksum(next)
      // same count + empty one-way difference = equal sets; the exact
      // probe runs only on checksum agreement, so steady-state rounds
      // cost two aggregates, not a join
      stable = chk == prev && next.exceptAll(e).isEmpty
      // both probes on the previous edge set have acted — its blocks are
      // dead; release before advancing so pinned storage stays at one
      // round's edge list
      eHandle.release()
      prev = chk
      e = next
      eHandle = nextHandle
      iter += 1
    }
    require(stable,
      s"connectedComponentsStar did not converge in $maxIter rounds")
    // fixpoint is a union of stars: every non-center appears as the
    // larger endpoint pointing at its center; centers (and isolated
    // vertices) label themselves
    val labels = e.groupBy("u").agg(min("v").as("label"))
      .select(col("u").as("v"), col("label"))
    (vertices.join(labels, Seq("v"), "left")
      .select(col("v"), coalesce(col("label"), col("v")).as("label")), iter)
  }

  /** q40 — per-document keeper assignment, the shape a training-data
    * pipeline actually consumes (q17–q20's pair/group outputs are
    * intermediates): cluster the candidate graph — exact-duplicate edges
    * (same md5, rooted at the group's min doc_id) ∪ q20's capped n-gram
    * Jaccard pairs — with [[connectedComponents]], keeper = min doc_id of
    * the cluster. Every document appears; singletons keep themselves.
    * Oracle-checked via a DuckDB recursive CTE enumerating reachability
    * over the same edge set ([[q40OracleSql]]).
    */
  def q40DedupKeepers(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.serve(spark, dir, graft.Artifacts.KeepersName).orderBy("doc_id")

  /** Inline-rebuild cost note (round-8 profile, sf0.1 local[32]): of the
    * ~2.7 s isolated inline q40, ~2.0 s is the EDGE DERIVATION (the q20
    * n-gram Jaccard chain: tokenize + shingle + inverted index), not the
    * fixpoint or its checkpoint lifecycle — so the production lever is
    * not a faster loop but not rebuilding at all: the keeper table is a
    * write-once corpus artifact ([[graft.Artifacts]]), and every
    * consumer including q40 itself reads it in ~0.1 s when materialized.
    */

  /** The q40 keeper assignment WITHOUT its presentation sort — the frame
    * [[graft.Artifacts]] materializes as the `keepers` corpus artifact
    * and every keeper consumer (q41/q43/q69/q70) joins on. Columns
    * `(doc_id, keeper_id, is_keeper)`, one row per document. Consumers
    * read it through `Artifacts.serve`; this fanned form is the
    * independent reference the artifact specs compare against.
    */
  private[graft] def keeperAssignment(spark: SparkSession, dir: String): DataFrame =
    keeperAssignmentFrom(Tables.documentsFanned(spark, dir),
      shingleIndex(Tables.documentsFanned(spark, dir)))

  /** [[keeperAssignment]] parameterized by the postings frame the near
    * edges derive from — inline [[shingleIndex]] for the plain path.
    * (`Artifacts.materialize` instead builds keepers through
    * [[keeperAssignmentFromParts]] against the committed digest and
    * pair artifacts, so the shingle scan and the pair self-join run
    * once per snapshot, not once per artifact.)
    */
  private[graft] def keeperAssignmentFrom(docs: DataFrame,
      postings: DataFrame): DataFrame =
    keeperAssignmentFromParts(docs,
      docs.select(col("doc_id"), md5(col("text")).as("h")),
      jaccardPairs(postings))

  /** The keeper assignment from its three already-derived parts: the
    * vertex set (any frame with a `doc_id` column), the per-document
    * digest frame `(doc_id, h)` (exact-dup edges = same-md5 groups
    * rooted at the group min), and the near-dup pair table
    * `(doc_a, doc_b, …)` (q20's capped-universe Jaccard ≥ 0.5 verdicts).
    * In materialized mode every part is a committed corpus artifact
    * (`doc_hashes`, `dup_pairs`), so the keeper build proper is just
    * the connected-components fixpoint over artifact-read edges — no
    * text hashing and no pair self-join.
    */
  private[graft] def keeperAssignmentFromParts(vertices: DataFrame,
      hashed: DataFrame, pairs: DataFrame): DataFrame = {
    val roots = hashed.groupBy("h").agg(min("doc_id").as("root"))
    val exactEdges = hashed.join(roots, "h")
      .filter(col("doc_id") =!= col("root"))
      .select(col("root").as("src"), col("doc_id").as("dst"))
    val nearEdges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    connectedComponents(vertices.select(col("doc_id").as("v")),
        exactEdges.union(nearEdges))
      .select(col("v").as("doc_id"), col("label").as("keeper_id"),
        (col("label") === col("v")).as("is_keeper"))
  }

  /** Change-bounded maintenance of the `dup_pairs` artifact (q20's pair
    * table) from a snapshot diff and the old/new posting indexes.
    *
    * == Why the result is EXACTLY the full recompute ==
    *
    * A pair's verdict and score are a function of (n_inter, n_a, n_b)
    * over the GLOBALLY df-capped shingle universe. Between old corpus A
    * and new corpus B:
    *
    *  - n_a changes only when doc a's text changed (a ∈ D_new) or one of
    *    a's shingles flipped cap status;
    *  - n_inter(a,b) changes only when an endpoint's text changed or a
    *    SHARED shingle flipped — and a shared shingle is a shingle of
    *    both endpoints.
    *
    * Only D docs change any shingle's df, so flipped shingles are
    * detectable from df deltas over the D docs' shingles alone
    * (`candSh`), and every in-B document containing a flipped shingle
    * is in `flippedDocs`. Hence every pair whose row can differ between
    * A and B has an endpoint in `touchedAll` = D ∪ flippedDocs: the old
    * artifact's rows with no endpoint there carry over verbatim, and the
    * pairs incident to the in-B touched docs are recomputed from the
    * maintained posting index with global df caps. New pairs can only
    * appear incident to touched docs for the same reason (both sides'
    * inputs were otherwise unchanged), so the recompute also catches
    * every appearing pair.
    *
    * Cost shape: artifact-bounded semi-joins and df aggregates over the
    * posting index, plus a self-join restricted to the touched docs'
    * capped shingles — change-bounded, never a corpus-wide re-shingle.
    *
    * Returns the three frames a segmented artifact commit consumes:
    * `retractIds` (drop every old row with an endpoint in it),
    * `recomputed` (the fresh rows), and `full` (the complete new pair
    * table — the whole-frame fallback for plain-layout versions). All
    * lazy; only the branch the caller executes is computed.
    */
  private[graft] final case class IncPairs(full: DataFrame,
      retractIds: DataFrame, recomputed: DataFrame)

  private[graft] def incrementalJaccardPairs(pairsOld: DataFrame,
      diff: DataFrame, postingsOld: DataFrame,
      postingsNew: DataFrame): IncPairs = {
    val dAll = diff.select("doc_id")
    val dNew = diff.filter(col("status").isin("added", "changed"))
      .select("doc_id")

    // shingles whose global df can have changed = shingles of D docs
    // (old or new postings); every other shingle's df is unchanged
    val candSh = postingsOld.join(dAll, Seq("doc_id"), "left_semi")
      .select("sh")
      .union(postingsNew.join(dNew, Seq("doc_id"), "left_semi").select("sh"))
      .distinct()
    def dfOver(post: DataFrame, as: String): DataFrame =
      post.join(candSh, Seq("sh"), "left_semi")
        .groupBy("sh").agg(count(lit(1)).as(as))
    val flipped = dfOver(postingsOld, "df_a")
      .join(dfOver(postingsNew, "df_b"), Seq("sh"), "full_outer")
      .select(col("sh"), coalesce(col("df_a"), lit(0L)).as("a"),
        coalesce(col("df_b"), lit(0L)).as("b"))
      .filter((col("a") <= MaxShingleDf) =!= (col("b") <= MaxShingleDf))
      .select("sh")
    val flippedDocs = postingsNew.join(flipped, Seq("sh"), "left_semi")
      .select("doc_id")

    // in-B docs whose pair rows must be recomputed, and the retract set
    // (which additionally covers removed/changed docs' old rows) —
    // checkpointed: the retract set drives both the segment-candidate
    // probe and the anti-joins of the segmented commit
    val touched = graft.Checkpoints.checkpoint(
      dNew.union(flippedDocs).distinct())
    val touchedAll = graft.Checkpoints.checkpoint(
      dAll.union(touched).distinct())

    val kept = pairsOld
      .join(touchedAll.withColumnRenamed("doc_id", "doc_a"),
        Seq("doc_a"), "left_anti")
      .join(touchedAll.withColumnRenamed("doc_id", "doc_b"),
        Seq("doc_b"), "left_anti")
      .select("doc_a", "doc_b", "n_inter", "jaccard")

    // recompute pairs incident to touched docs: index restricted to the
    // touched docs' shingles that survive the GLOBAL df cap (shared
    // shingles of such pairs are shingles of the touched endpoint, so
    // the restriction loses nothing)
    val shT = postingsNew.join(touched, Seq("doc_id"), "left_semi")
      .select("sh").distinct()
    val cappedShT = postingsNew.join(shT, Seq("sh"), "left_semi")
      .groupBy("sh").agg(count(lit(1)).as("dfg"))
      .filter(col("dfg") <= MaxShingleDf).select("sh")
    val idxT = postingsNew.join(cappedShT, Seq("sh"), "left_semi")
    val flagged = idxT
      .join(touched.withColumn("t", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("sh"), col("t").isNotNull.as("is_t"))
    val rawPairs = flagged.as("x").join(flagged.as("y"),
        col("x.sh") === col("y.sh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .filter(col("x.is_t") || col("y.is_t"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))

    // per-doc capped-universe sizes for every doc a recomputed pair can
    // involve — their FULL postings, capped with global df
    val involved = idxT.select("doc_id").distinct()
    val shI = postingsNew.join(involved, Seq("doc_id"), "left_semi")
    val cappedI = postingsNew
      .join(shI.select("sh").distinct(), Seq("sh"), "left_semi")
      .groupBy("sh").agg(count(lit(1)).as("dfg"))
      .filter(col("dfg") <= MaxShingleDf).select("sh")
    val nSh = shI.join(cappedI, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))

    val recomputed = rawPairs
      .join(nSh.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(nSh.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "n_inter", "jaccard")

    IncPairs(kept.unionByName(recomputed), touchedAll, recomputed)
  }

  /** Incremental keeper maintenance: re-run connected components ONLY on
    * the old components the snapshot diff can have touched, and carry
    * every other component's keeper rows over verbatim. This is what
    * makes the most expensive artifact change-bounded instead of
    * corpus-bounded per snapshot ([[graft.Artifacts.materializeIncremental]]).
    *
    * == Why the result is EXACTLY the full rebuild (the closure argument) ==
    *
    * Let D = added ∪ changed ∪ removed (the diff). Every candidate-graph
    * edge that differs between the old corpus A and the new corpus B has
    * both endpoints inside the SEED set computed here:
    *
    *  - exact edges (same-md5 groups rooted at the group min): an edge
    *    delta means a group's membership changed, i.e. some D doc's old
    *    or new hash is involved — every B doc holding a touched hash is
    *    seeded (`exactTouched`); a REMOVED member's group mates were in
    *    its old component already (they were connected), so marking D
    *    marks them.
    *  - near edges: the edge set IS the maintained `dup_pairs` artifact
    *    (q20's capped-universe Jaccard ≥ 0.5 pair table — exactness of
    *    its maintenance is [[incrementalJaccardPairs]]'s closure
    *    argument), so the near-edge DELTA — pairs present in exactly
    *    one of the old and new artifacts — is computable from the
    *    maintenance's own CHANGE-BOUNDED frames: every differing pair
    *    has an endpoint in the retract set, so old-side candidates are
    *    the retracted old pairs and new-side candidates the recomputed
    *    pairs, and the XOR of those two bounded frames is exactly the
    *    global delta (no full-table anti-join). Both endpoints of every
    *    delta edge are seeded (`nearTouched`) — a pair present in both
    *    with a different SCORE connects the same component either way,
    *    so existence is the right grain here.
    *
    * M = (members of old components containing a seed, still present in
    * B) ∪ added docs. Every changed edge is internal to M, and every
    * A-edge or B-edge incident to M stays inside M: an edge present in
    * both corpora connects docs of one old component, so one endpoint
    * in M (its component affected) puts the other there too; a B-only
    * or A-only edge has both endpoints seeded. So B's component
    * structure outside M is exactly A's — those keeper rows carry over —
    * and CC over the induced subgraph on M, with exact edges re-derived
    * from B's hashes and near edges READ from the new pair artifact,
    * yields the same min-label components a full rebuild would.
    *
    * Cost shape: everything here is ARTIFACT-bounded (pair-table
    * anti-joins, digest semi-joins) or CHANGE-bounded (the CC re-run
    * over M); the only corpus-grain work is the id+md5 scan the caller's
    * diff already paid for. The heavy posting-index machinery (df-flip
    * detection, partner expansion, the pair self-join) lives in the
    * pair-artifact maintenance, upstream of this call — the keeper
    * re-run no longer touches postings at all.
    *
    * @param keepersOld  old keeper artifact `(doc_id, keeper_id, is_keeper)`
    * @param hashedNew   `(doc_id, h)` — md5 of every new-corpus doc
    * @param diff        `(doc_id, h_old, h_new, status)`, unchanged rows dropped
    * @param pairsOld    old `dup_pairs` artifact `(doc_a, doc_b, n_inter, jaccard)`
    * @param pairsNew    NEW `dup_pairs` artifact (already maintained)
    * @param incPairs    the pair maintenance's own frames ([[IncPairs]])
    *                    — the change-bounded delta inputs
    */
  private[graft] final case class IncKeepers(full: DataFrame,
      retractIds: DataFrame, relabeled: DataFrame,
      affectedComponents: Long, ccVertices: Long)

  private[graft] def incrementalKeepers(keepersOld: DataFrame,
      hashedNew: DataFrame, diff: DataFrame, pairsOld: DataFrame,
      pairsNew: DataFrame, incPairs: IncPairs): IncKeepers = {
    val dAll = diff.select("doc_id")

    val touchedH = diff.select(col("h_new").as("h"))
      .union(diff.select(col("h_old").as("h")))
      .filter(col("h").isNotNull).distinct()
    val exactTouched = hashedNew.join(touchedH, Seq("h"), "left_semi")
      .select("doc_id")

    // near-edge delta endpoints via the maintenance's retract set (see
    // the closure argument above): candidates on EACH side are the pairs
    // with a retracted/touched endpoint — semi-joins against the small
    // checkpointed id set, on both committed artifacts — and the XOR of
    // the two candidate sets is the exact set of pairs present in
    // exactly one artifact. (The new side semi-join equals the
    // maintenance's `recomputed` frame by construction, read back from
    // the committed artifact instead of re-evaluating its plan.)
    val rid = incPairs.retractIds
    // distinct: a pair with BOTH endpoints retracted appears in both
    // semi-joins — without it the XOR and seed frames double such rows
    // (the common case: a recomputed pair usually has both endpoints
    // touched)
    def sideOf(pairs: DataFrame, k: String): DataFrame =
      pairs.join(rid.select(col(rid.columns.head).as(k)), Seq(k), "left_semi")
        .select("doc_a", "doc_b")
    val eOld = sideOf(pairsOld, "doc_a").union(sideOf(pairsOld, "doc_b"))
      .distinct()
    val eNew = sideOf(pairsNew, "doc_a").union(sideOf(pairsNew, "doc_b"))
      .distinct()
    val changedPairs = eOld.join(eNew, Seq("doc_a", "doc_b"), "left_anti")
      .union(eNew.join(eOld, Seq("doc_a", "doc_b"), "left_anti"))
    val nearTouched = changedPairs.select(col("doc_a").as("doc_id"))
      .union(changedPairs.select(col("doc_b").as("doc_id")))

    val seeds = dAll.union(exactTouched).union(nearTouched).distinct()
    val affected = graft.Checkpoints.checkpoint(
      keepersOld.join(seeds, Seq("doc_id"), "left_semi")
        .select("keeper_id").distinct())
    val m = graft.Checkpoints.checkpoint(
      keepersOld.join(affected, Seq("keeper_id"), "left_semi")
        .select("doc_id")
        .join(hashedNew.select("doc_id"), Seq("doc_id"), "left_semi")
        .union(diff.filter(col("status") === "added").select("doc_id"))
        .distinct())

    // B's edges restricted to M: exact edges from the (id, md5) frame,
    // near edges read straight from the maintained pair artifact
    val hashedM = hashedNew.join(m, Seq("doc_id"), "left_semi")
    val roots = hashedM.groupBy("h").agg(min("doc_id").as("root"))
    val exactEdges = hashedM.join(roots, "h")
      .filter(col("doc_id") =!= col("root"))
      .select(col("root").as("src"), col("doc_id").as("dst"))
    val nearEdges = pairsNew
      .join(m.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(m.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))

    val relabeled = connectedComponents(m.select(col("doc_id").as("v")),
        exactEdges.union(nearEdges))
      .select(col("v").as("doc_id"), col("label").as("keeper_id"),
        (col("label") === col("v")).as("is_keeper"))
    val keepersNew = keepersOld
      .join(affected, Seq("keeper_id"), "left_anti")
      .select("doc_id", "keeper_id", "is_keeper")
      .unionByName(relabeled)
    // every old row of an affected component, by doc_id — the segmented
    // commit's retract set (≡ the anti-join on keeper_id above)
    val retractIds = keepersOld
      .join(affected, Seq("keeper_id"), "left_semi")
      .select("doc_id")
    IncKeepers(keepersNew, retractIds, relabeled, affected.count(), m.count())
  }

  /** Recursive reachability in DuckDB over the SAME edge set (exact-dup
    * roots + the shared [[jaccardCtes]] pair chain); keeper = min
    * reachable id. Cluster enumeration is O(size²) rows per cluster —
    * fine at oracle scale, which is the point of the Spark operator.
    * Exposed as a CTE chain (ending in `keepers(doc_id, keeper_id,
    * is_keeper)`) so `Curation.q41OracleSql` can reuse it verbatim; must
    * appear under `WITH RECURSIVE`.
    */
  lazy val keeperCtes: String =
    s"""$jaccardCtes, hashes AS (
      |  SELECT doc_id, md5(text) AS h FROM documents
      |), roots AS (
      |  SELECT h, MIN(doc_id) AS root FROM hashes GROUP BY 1
      |), exact_edges AS (
      |  SELECT r.root AS src, x.doc_id AS dst
      |  FROM hashes x JOIN roots r ON x.h = r.h AND x.doc_id <> r.root
      |), near_edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5
      |), edges AS (
      |  SELECT src, dst FROM exact_edges
      |  UNION SELECT dst, src FROM exact_edges
      |  UNION SELECT src, dst FROM near_edges
      |  UNION SELECT dst, src FROM near_edges
      |), reach(v, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT reach.v, e.dst FROM reach JOIN edges e ON e.src = reach.r
      |), keepers AS (
      |  SELECT v AS doc_id, MIN(r) AS keeper_id, MIN(r) = v AS is_keeper
      |  FROM reach GROUP BY v
      |)""".stripMargin

  lazy val q40OracleSql: String =
    s"""WITH RECURSIVE $keeperCtes
      |SELECT doc_id, keeper_id, is_keeper FROM keepers ORDER BY doc_id""".stripMargin

  // ---- q106: quality-aware keeper selection --------------------------------

  /** q106 — quality-aware dedup representative selection: within each
    * q40 duplicate cluster, re-elect the keeper as the member with the
    * HIGHEST q83 quality score (ties toward the smaller doc_id) instead
    * of the smallest id. Min-id election is the right convergence anchor
    * for the connected-components fixpoint, but it keeps an arbitrary
    * copy; when duplicates differ — one copy OCR-mangled, one clean; one
    * boilerplate-wrapped, one bare — a curation pipeline wants to keep
    * the BEST copy and drop the rest, which is exactly the difference
    * between this query and q40. Emits every document with its cluster
    * (the stable min-id label), the elected quality keeper, and the
    * keep/drop verdict a downstream funnel consumes in q41's place.
    *
    * Scale shape: a join of the standing `keepers` artifact against the
    * map-only q83 scoring pass (codegen'd fold, no shuffle), a per-
    * cluster top-1 window (`WindowGroupLimit` — only the argmax row
    * survives the shuffle per cluster), and one cluster-keyed join to
    * label members. Nothing rescans text pairwise; the clustering
    * fixpoint is NOT re-run — election composes on top of the artifact.
    */
  def q106QualityKeepers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = graft.Artifacts.serve(spark, dir, graft.Artifacts.KeepersName)
      .select(col("doc_id"), col("keeper_id").as("cluster_id"))
    val scores = TextAnalysis
      .scoredQuality(graft.Tables.documentsFanned(spark, dir), "text")
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc_nulls_last, col("doc_id").asc)
    val best = members.join(scores, "doc_id")
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("cluster_id"), col("doc_id").as("quality_keeper_id"))
    members.join(best, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("quality_keeper_id"),
        (col("doc_id") === col("quality_keeper_id")).as("is_quality_keeper"))
      .orderBy("doc_id")
  }

  /** q40's recursive cluster assignment + q83's score expression, argmax
    * replayed with the same (score DESC NULLS LAST, doc_id ASC) order.
    */
  lazy val q106OracleSql: String =
    s"""WITH RECURSIVE $keeperCtes, quality AS (
      |  SELECT doc_id, quality_score FROM (
      |${TextAnalysis.q83OracleSql}
      |  )
      |), best AS (
      |  SELECT keeper_id AS cluster_id, doc_id AS quality_keeper_id FROM (
      |    SELECT k.keeper_id, k.doc_id,
      |           row_number() OVER (PARTITION BY k.keeper_id
      |             ORDER BY q.quality_score DESC NULLS LAST, k.doc_id ASC)
      |             AS r
      |    FROM keepers k JOIN quality q USING (doc_id)
      |  ) WHERE r = 1
      |)
      |SELECT k.doc_id, k.keeper_id AS cluster_id, b.quality_keeper_id,
      |       (k.doc_id = b.quality_keeper_id) AS is_quality_keeper
      |FROM keepers k JOIN best b ON b.cluster_id = k.keeper_id
      |ORDER BY k.doc_id""".stripMargin
}
