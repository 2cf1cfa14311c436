package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps.{round6, round6Sql}

/** Token-segment operators: fixed-window document chunking (q64) and
  * winnowed-fingerprint near-dup detection (q65). Both operate on token
  * positions rather than token sets — the complement of the bag/shingle
  * family (q17–q20) — and both carry full DuckDB oracles.
  */
object Segments {

  // ---- q64: document chunking ---------------------------------------------

  /** Tokens per chunk. */
  private[graft] val ChunkWidth = 32

  /** Chunk stride (overlap = width − stride). */
  private[graft] val ChunkStride = 24

  /** q64 — context-window chunking: each document is cut into
    * [[ChunkWidth]]-token windows starting every [[ChunkStride]] tokens
    * (trailing chunks may be short; every token is covered; docs with no
    * tokens yield no chunks). The prep step for embedding models and
    * RAG indexes with bounded context — and the "split before packing"
    * alternative to q48 for over-long documents.
    *
    * Scale shape: pure map — `sequence` + `posexplode` + `slice` over
    * one scan, no shuffle but the presentation sort. Chunk blow-up is
    * bounded by width/stride (≈1.33× token mass here).
    */
  def q64ChunkDocs(spark: SparkSession, dir: String): DataFrame =
    chunkTokenFrame(spark, dir)
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("ctoks")).as("n_chunk_tokens"),
        concat_ws(" ", col("ctoks")).as("chunk_text"))
      .orderBy("doc_id", "chunk_id")

  /** The chunk derivation behind [[q64ChunkDocs]], ONE definition shared
    * with the passage-retrieval consumer (`Search.q101ChunkSearch`):
    * `(doc_id, chunk_id, start_tok, ctoks)` with `ctoks` the sliced
    * token array itself — consumers tokenize the SLICE, never a
    * re-split of the joined chunk text (a text round-trip would not
    * survive empty tokens from leading/duplicate whitespace).
    */
  private[graft] def chunkTokenFrame(spark: SparkSession,
      dir: String): DataFrame =
    chunkTokens(Tables.documentsFanned(spark, dir))

  /** [[chunkTokenFrame]] over a caller-supplied documents frame — the
    * seam the `chunk_postings` artifact build and its incremental
    * maintenance (which chunk only the diff's documents) share with the
    * per-query inline path.
    */
  private[graft] def chunkTokens(docs: DataFrame): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    val n = size(toks)
    val starts = when(n > 0, sequence(lit(0), n - 1, lit(ChunkStride)))
      .otherwise(array().cast("array<int>"))
    docs
      .select(col("doc_id"), toks.as("t"),
        posexplode(starts).as(Seq("chunk_id", "start_tok")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        slice(col("t"), col("start_tok") + 1, lit(ChunkWidth)).as("ctoks"))
  }

  /** [[chunkTokenFrame]] as SQL CTEs (`chunkslice` = doc_id, chunk_id,
    * start_tok, ctoks) — interpolated by [[q64OracleSql]] and q101's
    * oracle from the same width/stride constants.
    */
  private[graft] lazy val chunkCtesSql: String =
    s"""ctoks_src AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |), chunkpos AS (
      |  SELECT doc_id, t,
      |         generate_subscripts(starts, 1) - 1 AS chunk_id,
      |         unnest(starts) AS start_tok
      |  FROM (
      |    SELECT doc_id, t,
      |           CASE WHEN len(t) > 0
      |                THEN generate_series(0, len(t) - 1, $ChunkStride)
      |                ELSE [] END AS starts
      |    FROM ctoks_src
      |  )
      |), chunkslice AS (
      |  SELECT doc_id, chunk_id, start_tok,
      |         list_slice(t, start_tok + 1, start_tok + $ChunkWidth) AS ctoks
      |  FROM chunkpos
      |)""".stripMargin

  lazy val q64OracleSql: String =
    s"""WITH $chunkCtesSql
      |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
      |       CAST(start_tok AS INTEGER) AS start_tok,
      |       CAST(len(ctoks) AS INTEGER) AS n_chunk_tokens,
      |       array_to_string(ctoks, ' ') AS chunk_text
      |FROM chunkslice ORDER BY doc_id, chunk_id""".stripMargin

  // ---- q65: winnowed-fingerprint near-dup ---------------------------------

  /** k-gram width for winnowing. */
  private val WinnowK = 4

  /** Winnowing window: one fingerprint is selected from every
    * [[WinnowW]] consecutive k-gram hashes.
    */
  private val WinnowW = 4

  /** Fingerprint document-frequency cap (same disease and cure as q20's
    * shingle-df cap: the pair join's cost is Σ df², and a fingerprint in
    * >64 docs is corpus boilerplate with no matching signal).
    */
  private val MaxFpDf = 64

  /** Containment threshold for reported pairs. */
  private val MinContainment = 0.5

  /** Per-document winnowed fingerprint set (doc_id, fp) — the selection
    * step of [[q65WinnowPairs]], exposed for the guarantee property test
    * (any two docs sharing a run of k+w−1 tokens share a fingerprint).
    */
  private[graft] def winnowFingerprints(d: DataFrame): DataFrame = {
    val posSh = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NgramShinglesAll(
        org.apache.spark.sql.GraftSqlBridge.expression(
          Dedup.tokens(col("text"))), WinnowK))
    val h = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.GraftSqlBridge.expression(col("sh"))))
    val hashed = d
      .select(col("doc_id"), posexplode(posSh).as(Seq("start", "sh")))
      .select(col("doc_id"), col("start"), h.as("h"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val winFrame = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("start")
      .rowsBetween(0, WinnowW - 1)
    // full windows only (start ≤ m − w); a doc with fewer than w k-grams
    // keeps its single all-hash minimum (start 0 survives the filter).
    // (A per-doc higher-order-function form — window minima via
    // transform(sequence, j -> array_min(slice(hs, j, w))) — was
    // measured at 10× the CPU: the sliced hash array re-evaluates per
    // window element inside the collapsed projection. The explode +
    // doc-partitioned windows keep each hash computed once.)
    hashed
      .withColumn("m", count(lit(1)).over(byDoc))
      .withColumn("wmin", min("h").over(winFrame))
      .filter(col("start") <= greatest(col("m") - WinnowW, lit(0)))
      .select(col("doc_id"), col("wmin").as("fp"))
      .distinct()
  }

  /** q65 — winnowed-fingerprint near-dup pairs (Schleimer et al.,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003 — the MOSS algorithm): hash every [[WinnowK]]-gram
    * (cross-engine [[graft.functions.PolyHash]]), keep the MINIMUM hash
    * of every [[WinnowW]]-wide window of consecutive positions (the
    * guarantee: any shared run of k+w−1 tokens shares ≥1 selected
    * fingerprint), pair documents through the inverted fingerprint index,
    * and report pairs whose shared-fingerprint CONTAINMENT
    * (|A∩B| / min(|A|,|B|)) reaches [[MinContainment]] — containment
    * rather than Jaccard so a short document pasted inside a long one
    * still surfaces. The sixth member of the dedup family: positional
    * like q54, sampled like MinHash, exact-guarantee like q20, at ~1/w
    * of q20's index size.
    *
    * Scale shape: one shuffle by doc for the per-doc window min (sort
    * bounded by doc length), one shuffle by fingerprint for the df-capped
    * inverted-index self-join — q20's bounded join on a w× smaller index.
    */
  def q65WinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    // materialized once: the winnow chain (explode + two windows +
    // distinct) feeds both the capped pair join AND the per-doc counts,
    // whose different downstreams defeat exchange reuse — the executed
    // plan otherwise runs the whole chain twice from the scan
    val fps = graft.Checkpoints.checkpoint(
      winnowFingerprints(Tables.documentsFanned(spark, dir)))
    val capped = Dedup.capBuckets(fps, MaxFpDf, "fp")
    val counts = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val pairs = capped.as("x").join(capped.as("y"), Seq("fp"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_fp", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_fp", "n_b"), "doc_b")
      .withColumn("containment",
        round6(col("n_shared").cast("double") / least(col("n_a"), col("n_b"))))
      .filter(col("containment") >= MinContainment)
      .select("doc_a", "doc_b", "n_shared", "containment")
      .orderBy("doc_a", "doc_b")
  }

  lazy val q65OracleSql: String = {
    val ph = graft.functions.PolyHash.sql("s")
    s"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |), hashed AS (
      |  SELECT doc_id,
      |         list_transform(${CorpusOps.shingleSqlN(WinnowK)},
      |           s -> $ph) AS hs
      |  FROM toks
      |), fps AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(
      |           CASE WHEN len(hs) = 0 THEN []
      |                ELSE generate_series(1, greatest(len(hs) - $WinnowW + 1, 1)) END,
      |           j -> list_min(list_slice(hs, j, j + $WinnowW - 1)))) AS fp
      |  FROM hashed
      |), keep AS (
      |  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= $MaxFpDf
      |), kept AS (
      |  SELECT f.doc_id, f.fp FROM fps f JOIN keep k ON f.fp = k.fp
      |), counts AS (
      |  SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id
      |), pairs AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_shared
      |  FROM kept x JOIN kept y ON x.fp = y.fp AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b, n_shared,
      |       ${round6Sql(
           "CAST(n_shared AS DOUBLE) / least(ca.n_fp, cb.n_fp)")} AS containment
      |FROM pairs
      |JOIN counts ca ON ca.doc_id = doc_a
      |JOIN counts cb ON cb.doc_id = doc_b
      |WHERE ${round6Sql(
           "CAST(n_shared AS DOUBLE) / least(ca.n_fp, cb.n_fp)")} >= $MinContainment
      |ORDER BY doc_a, doc_b""".stripMargin
  }
}
