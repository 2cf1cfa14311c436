package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps
import graft.functions.VectorOps.{round6, round6Sql}

/** Corpus AUDIT rollups — the small-output reports a pipeline runs to
  * judge a delivered corpus as a whole, complementing the per-document
  * operators (q17–q59): cross-split contamination surface (q60),
  * vocabulary coverage (q61), embedding-norm health (q62), and a
  * per-source quality dashboard (q63). Every query is a
  * `SparkEntry.queries` entry with a full DuckDB oracle, and every one
  * reduces to dimension-sized output through map-side-partial aggregates
  * — no per-document result ships off the cluster.
  */
object CorpusAudit {

  // ---- q60: cross-split contamination matrix ------------------------------

  /** q60 — the pairwise contamination surface between the q42 splits:
    * for each split pair, how many distinct [[CorpusOps.DecontamN]]-gram
    * shingles they share, beside each split's own shingle vocabulary and
    * the pair's Jaccard. q47 answers "which TRAIN docs touch TEST"; this
    * answers the release-gate question "how entangled are the splits at
    * all" — the number a corpus card reports.
    *
    * Scale shape: ONE shuffle — per-shingle membership flags (which of
    * the three splits contain it) via groupBy(sh) with max-flags (no
    * pre-distinct needed: max absorbs duplicate docs), then a scalar
    * aggregate over the flag products gives every pairwise intersection
    * and every per-split total in a single row. No shingle-keyed
    * self-join, no pinned distinct set — the corpus-scale state flows
    * through exactly once, from the standing shingles8 artifact when one
    * resolves (split is a pure function of doc_id) or the inline
    * tokenize+shingle pass otherwise.
    */
  def q60SplitOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sh = graft.Artifacts.serve(spark, dir, graft.Artifacts.Shingles8Name)
      .withColumn("split", Curation.splitOf(col("doc_id")))
    def flag(s: String) =
      max(when(col("split") === s, 1L).otherwise(0L)).as(s"in_$s")
    val flags = sh.groupBy("sh")
      .agg(flag("train"), flag("val"), flag("test"))
    val totals = flags.agg(
      sum("in_train").as("n_train"), sum("in_val").as("n_val"),
      sum("in_test").as("n_test"),
      sum(col("in_test") * col("in_train")).as("s_test_train"),
      sum(col("in_test") * col("in_val")).as("s_test_val"),
      sum(col("in_train") * col("in_val")).as("s_train_val"))
    // the three pair rows explode out of the ONE aggregate row (a union
    // of three selects would re-run the corpus-wide aggregation per
    // branch); lexicographic pair order (test < train < val) matches the
    // old self-join's split_a < split_b convention
    def pair(a: String, b: String, na: String, nb: String, s: String) =
      struct(lit(a).as("split_a"), lit(b).as("split_b"),
        col(na).as("shingles_a"), col(nb).as("shingles_b"),
        col(s).as("shared_shingles"))
    totals
      .select(explode(array(
        pair("test", "train", "n_test", "n_train", "s_test_train"),
        pair("test", "val", "n_test", "n_val", "s_test_val"),
        pair("train", "val", "n_train", "n_val", "s_train_val"))).as("p"))
      .select("p.*")
      // the old inner self-join emitted a pair only when it shared at
      // least one shingle; empty-split pairs (and the empty corpus,
      // where the sums are NULL) drop the same way
      .filter(col("shared_shingles") > 0)
      .select(col("split_a"), col("split_b"),
        col("shingles_a"), col("shingles_b"), col("shared_shingles"),
        round6(col("shared_shingles").cast("double") /
          (col("shingles_a") + col("shingles_b") - col("shared_shingles")))
          .as("jaccard"))
      .orderBy("split_a", "split_b")
  }

  lazy val q60OracleSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, text, ${Curation.splitSqlOf("doc_id")} AS split
      |  FROM documents
      |), toks AS (
      |  SELECT split, string_split_regex(text, '\\s+') AS t FROM d
      |), sh AS (
      |  SELECT DISTINCT split,
      |         unnest(${CorpusOps.shingleSqlN(CorpusOps.DecontamN)}) AS sh
      |  FROM toks
      |), totals AS (
      |  SELECT split, COUNT(*) AS n FROM sh GROUP BY split
      |), pairs AS (
      |  SELECT a.split AS split_a, b.split AS split_b,
      |         COUNT(*) AS shared_shingles
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.split < b.split
      |  GROUP BY 1, 2
      |)
      |SELECT p.split_a, p.split_b, ta.n AS shingles_a, tb.n AS shingles_b,
      |       p.shared_shingles,
      |       ${round6Sql("CAST(p.shared_shingles AS DOUBLE) / " +
           "(ta.n + tb.n - p.shared_shingles)")} AS jaccard
      |FROM pairs p
      |JOIN totals ta ON ta.split = p.split_a
      |JOIN totals tb ON tb.split = p.split_b
      |ORDER BY split_a, split_b""".stripMargin

  // ---- q61: vocabulary coverage -------------------------------------------

  /** How many head tokens q61 reports. */
  private val VocabTopK = 100

  /** q61 — vocabulary coverage: the [[VocabTopK]] most frequent tokens
    * corpus-wide with each token's share of the total token mass and the
    * cumulative share down the ranking — "how much of the corpus do the
    * top-K cover", the curve a tokenizer/vocab decision reads.
    *
    * Scale shape: token-frequency aggregate with map-side partials, then
    * `TakeOrderedAndProject` to K rows; the ranking window runs AFTER
    * the limit, over exactly K rows (one bounded-by-constant partition —
    * the same stance as q46's capped strata). The total is a one-row
    * broadcast.
    */
  def q61VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val counts = graft.Artifacts.tokenTotals(spark, dir)
    val total = counts.agg(sum("n").as("total"))
    val top = counts.orderBy(desc("n"), asc("token")).limit(VocabTopK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n"), asc("token"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_n", sum("n").over(w))
      .select(col("rank"), col("token"), col("n"),
        round6(col("n").cast("double") / col("total")).as("share"),
        round6(col("cum_n").cast("double") / col("total")).as("cum_share"))
      .orderBy("rank")
  }

  lazy val q61OracleSql: String =
    s"""WITH tok AS (
      |  SELECT unnest(string_split_regex(text, '\\s+')) AS token
      |  FROM documents
      |), counts AS (
      |  SELECT token, COUNT(*) AS n FROM tok GROUP BY token
      |), total AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts
      |), top AS (
      |  SELECT token, n FROM counts ORDER BY n DESC, token LIMIT $VocabTopK
      |)
      |SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER) AS rank,
      |       token, n,
      |       ${round6Sql("CAST(n AS DOUBLE) / total")} AS share,
      |       ${round6Sql(
           """CAST(SUM(n) OVER (ORDER BY n DESC, token
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         / total""")} AS cum_share
      |FROM top, total ORDER BY rank""".stripMargin

  // ---- q62: embedding norm audit ------------------------------------------

  /** q62 — embedding-norm health per source: vector count, average /
    * min / max L2 norm, and the count of zero vectors. The first probe
    * run on a delivered embedding table — un-normalized or zeroed
    * vectors are the classic silent corruption after a failed encode.
    *
    * Parity: norms are decimal-rounded PER ROW (the established
    * cross-engine dot-product path), then averaged through an exact
    * DECIMAL sum — so the aggregate is order-independent and
    * hash-checkable, not a float-summation race.
    *
    * Scale shape: map-only norm over the embeddings scan, broadcast-sized
    * doc→source join (source rides the documents table), stratum-grain
    * aggregate with map-side partials.
    */
  def q62EmbeddingAudit(spark: SparkSession, dir: String): DataFrame = {
    val nrm = round6(VectorOps.norm(col("embedding")))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), nrm.as("nrm"))
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    e.join(src, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("nrm").cast(org.apache.spark.sql.types.DecimalType(24, 12)))
          .as("nrm_sum"),
        min("nrm").as("min_norm"),
        max("nrm").as("max_norm"),
        count(when(col("nrm") === 0.0, 1)).as("n_zero"))
      .select(col("source"), col("n_vectors"),
        round6(col("nrm_sum").cast("double") / col("n_vectors")).as("avg_norm"),
        col("min_norm"), col("max_norm"), col("n_zero"))
      .orderBy("source")
  }

  lazy val q62OracleSql: String = {
    val nrm = round6Sql(
      "sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))")
    s"""WITH e AS (
      |  SELECT vec_id AS doc_id, $nrm AS nrm FROM embeddings
      |), j AS (
      |  SELECT d.source, e.nrm FROM e JOIN documents d ON d.doc_id = e.doc_id
      |)
      |SELECT source, COUNT(*) AS n_vectors,
      |       ${round6Sql(
           "CAST(SUM(CAST(nrm AS DECIMAL(24,12))) AS DOUBLE) / COUNT(*)")} AS avg_norm,
      |       MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
      |       CAST(COUNT(*) FILTER (WHERE nrm = 0.0) AS BIGINT) AS n_zero
      |FROM j GROUP BY source ORDER BY source""".stripMargin
  }

  // ---- q67: per-source duplication burden ---------------------------------

  /** q67 — q54's duplicated-span diagnosis rolled up to SOURCE grain:
    * per source, how many of its span positions are cross-document
    * duplicates, as counts and a rate. The "which feed is boilerplate"
    * number a crawl review reads next to q63's quality dashboard —
    * doc-level fractions (q54) say which PAGES are duplicated, this says
    * which SOURCES are.
    *
    * Parity: the rate is a ratio of exact integer sums (one double
    * division at the end), so no float-summation ordering is involved.
    * Scale shape: the q54 chain plus one broadcast-sized source join
    * and a stratum-grain aggregate.
    */
  def q67SourceDupBurden(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = CorpusOps.q54DupSpans(spark, dir)
      .select("doc_id", "n_spans", "n_dup_spans")
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    perDoc.join(src, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_spans").as("total_spans"),
        sum("n_dup_spans").as("dup_spans"),
        count(when(col("n_dup_spans") > 0, 1)).as("docs_with_dups"))
      .select(col("source"), col("n_docs"),
        col("total_spans"), col("dup_spans"), col("docs_with_dups"),
        round6(when(col("total_spans") > 0,
          col("dup_spans").cast("double") / col("total_spans"))
          .otherwise(0.0)).as("dup_rate"))
      .orderBy("source")
  }

  lazy val q67OracleSql: String = {
    // q54's statement as a subquery (shared via the structural
    // q54OracleBody val, not a textual scrape), so the two oracles can
    // never drift
    s"""WITH per_doc AS (
      |${CorpusOps.q54OracleBody}
      |)
      |SELECT d.source, COUNT(*) AS n_docs,
      |       CAST(SUM(p.n_spans) AS BIGINT) AS total_spans,
      |       CAST(SUM(p.n_dup_spans) AS BIGINT) AS dup_spans,
      |       CAST(COUNT(*) FILTER (WHERE p.n_dup_spans > 0) AS BIGINT)
      |         AS docs_with_dups,
      |       ${round6Sql(
           """CASE WHEN SUM(p.n_spans) > 0
      |            THEN CAST(SUM(p.n_dup_spans) AS DOUBLE) / SUM(p.n_spans)
      |            ELSE 0.0 END""")} AS dup_rate
      |FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
      |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  // ---- q68: length histogram ----------------------------------------------

  /** q68 — per-source doc-length histogram on log₂ buckets (bucket k =
    * docs with 2^(k−1) ≤ tokens < 2^k; NULL-text docs in bucket 0 —
    * note an EMPTY string still whitespace-tokenizes to one empty token,
    * so it lands in bucket 1 like any 1-token doc). The corpus-card
    * figure q57's quantiles summarize — the histogram shows the
    * bimodality quantiles hide. Bucket = `length(bin(n))`, an INTEGER
    * computation identical in both engines, so the oracle needs no
    * float log parity.
    *
    * Scale shape: map + stratum-grain aggregate, nothing else.
    */
  def q68LengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val n = size(Dedup.tokens(col("text")))
    // the explicit isNull arm pins NULL text to bucket 0 on BOTH
    // engines — without it Spark's size(NULL) sentinel and DuckDB's
    // NULL-propagating CASE would bucket the q58 violation class
    // differently
    val bucket = when(col("text").isNull || n <= 0, lit(0))
      .otherwise(length(bin(n.cast("long"))))
    Tables.documents(spark, dir)
      .select(col("source"), bucket.as("len_bucket"))
      .groupBy("source", "len_bucket")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "len_bucket")
  }

  lazy val q68OracleSql: String =
    """SELECT source,
      |       CAST(CASE WHEN text IS NULL THEN 0
      |            WHEN len(string_split_regex(text, '\s+')) <= 0 THEN 0
      |            ELSE length(bin(len(string_split_regex(text, '\s+')))) END
      |         AS INTEGER) AS len_bucket,
      |       COUNT(*) AS n_docs
      |FROM documents GROUP BY 1, 2 ORDER BY source, len_bucket""".stripMargin

  // ---- q70: dedup cluster-size profile ------------------------------------

  /** q70 — the dedup summary report: for each cluster SIZE, how many
    * q40 clusters have it and how many documents they hold. The figure
    * that says whether duplication is a long tail of pairs or a few
    * massive boilerplate blobs — which decides whether near-dup capping
    * (q18–q20's bounds) or cluster-keeper dedup (q40) is carrying the
    * corpus.
    *
    * Scale shape: the keeper chain (materialized once per corpus in
    * practice), then two tiny aggregates — cluster grain, then size
    * grain.
    */
  def q70ClusterProfile(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.serve(spark, dir, graft.Artifacts.KeepersName)
      .groupBy("keeper_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum("cluster_size").as("n_docs"))
      .orderBy("cluster_size")

  lazy val q70OracleSql: String =
    s"""WITH RECURSIVE ${Dedup.keeperCtes}, sizes AS (
      |  SELECT keeper_id, COUNT(*) AS cluster_size
      |  FROM keepers GROUP BY keeper_id
      |)
      |SELECT cluster_size, COUNT(*) AS n_clusters,
      |       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
      |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  // ---- q63: per-source quality dashboard ----------------------------------

  /** q63 — the per-source quality dashboard: document count, average
    * token count, average 3-gram repetition, and the predicted-English
    * fraction, per source. The rollup of the q24/q25/q38 per-document
    * signals into the table a curation review actually reads ("which
    * source is junk before we spend dedup on it").
    *
    * Parity: repetition is decimal-rounded per row (q38's expression),
    * then averaged through an exact DECIMAL sum; token counts and
    * language votes are integers, exact on both engines.
    *
    * Scale shape: codegen'd signal expressions over one scan, map-side
    * partial aggregate to source grain.
    */
  def q63SourceQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    val total = greatest(size(toks) - 2, lit(0))
    val distinctSh = size(Dedup.shingles3(toks))
    val rep = round6(when(total > 0,
      lit(1.0) - distinctSh.cast("double") / total).otherwise(0.0))
    Tables.documentsFanned(spark, dir)
      .select(col("source"),
        size(toks).cast("long").as("n_tokens"),
        rep.as("rep"),
        (TextAnalysis.langPred(col("text")) === "en").as("is_en"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tok_sum"),
        sum(col("rep").cast(org.apache.spark.sql.types.DecimalType(24, 12)))
          .as("rep_sum"),
        count(when(col("is_en"), 1)).as("n_en"))
      .select(col("source"), col("n_docs"),
        round6(col("tok_sum").cast("double") / col("n_docs")).as("avg_tokens"),
        round6(col("rep_sum").cast("double") / col("n_docs")).as("avg_repetition"),
        col("n_en"),
        round6(col("n_en").cast("double") / col("n_docs")).as("frac_en"))
      .orderBy("source")
  }

  lazy val q63OracleSql: String = {
    val ratio = round6Sql(
      "1.0 - CAST(len(list_distinct(shl)) AS DOUBLE) / greatest(len(tl) - 2, 1)")
    s"""WITH sig AS (
      |  SELECT source,
      |         CAST(len(tl) AS BIGINT) AS n_tokens,
      |         CASE WHEN len(tl) - 2 > 0 THEN $ratio ELSE 0.0 END AS rep,
      |         (${TextAnalysis.langPredSql}) = 'en' AS is_en
      |  FROM (
      |    SELECT source, text, string_split_regex(text, '\\s+') AS tl,
      |           CASE WHEN len(string_split_regex(text, '\\s+')) < 3 THEN []
      |                ELSE list_transform(generate_series(1, len(string_split_regex(text, '\\s+')) - 2),
      |                       i -> string_split_regex(text, '\\s+')[i] || ' ' ||
      |                            string_split_regex(text, '\\s+')[i+1] || ' ' ||
      |                            string_split_regex(text, '\\s+')[i+2]) END AS shl
      |    FROM documents
      |  )
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |       ${round6Sql(
           "CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*)")} AS avg_tokens,
      |       ${round6Sql(
           "CAST(SUM(CAST(rep AS DECIMAL(24,12))) AS DOUBLE) / COUNT(*)")} AS avg_repetition,
      |       CAST(COUNT(*) FILTER (WHERE is_en) AS BIGINT) AS n_en,
      |       ${round6Sql(
           "CAST(COUNT(*) FILTER (WHERE is_en) AS DOUBLE) / COUNT(*)")} AS frac_en
      |FROM sig GROUP BY source ORDER BY source""".stripMargin
  }

  // ---- q71: source × lang rollup ------------------------------------------

  /** q71 — the corpus composition report as a ROLLUP: (source, lang)
    * cells, per-source subtotals, and the grand total in ONE aggregate
    * pass, distinguished by `grouping_id` (0 = cell, 1 = source
    * subtotal, 3 = grand total). The multi-granularity summary a corpus
    * card leads with — and the GROUPING SETS surface of the SQL layer,
    * which none of q1–q70 exercised.
    *
    * Scale: Spark plans rollup as one Expand (3 rows per input) feeding
    * one map-side-partial aggregate — output is dimension-sized, and no
    * second scan per granularity.
    */
  def q71RollupReport(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        grouping_id().cast("int").as("gid"))
      .select(col("source"), col("lang"), col("gid"), col("n_docs"),
        col("sum_chars"),
        round6(col("sum_chars").cast("double") / col("n_docs"))
          .as("avg_chars"))
      .orderBy(col("gid"), col("source").asc_nulls_first,
        col("lang").asc_nulls_first)

  lazy val q71OracleSql: String =
    s"""SELECT source, lang,
      |       CAST(GROUPING(source, lang) AS INTEGER) AS gid,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |       ${round6Sql("CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)")} AS avg_chars
      |FROM documents
      |GROUP BY ROLLUP (source, lang)
      |ORDER BY gid, source NULLS FIRST, lang NULLS FIRST""".stripMargin

  // ---- q77: pairwise source vocabulary overlap ----------------------------

  /** q77 — the source-overlap matrix: for every source pair, shared
    * vocabulary (distinct-token Jaccard) and token-frequency cosine. The
    * "are these two crawls secretly the same feed" diagnostic that
    * decides whether sources get deduped jointly or independently —
    * q60's split-contamination question asked of the SOURCE dimension,
    * with a frequency-weighted angle beside the set overlap.
    *
    * Parity: dot products and squared norms are exact BIGINT sums
    * (counts × counts); the only float steps are two correctly-rounded
    * `sqrt`s and one multiply/divide, identical IEEE-754 on both
    * engines, then decimal-routed rounding.
    *
    * Scale shape: the inverted index (token, source, n) is one map-side
    * partial aggregate; the per-token self-join fans out to at most
    * |sources|² rows per token (df is bounded by the source count, the
    * way q20's df is capped); everything after is |sources|²-sized.
    * The index is checkpointed once — it feeds the norms aggregate and
    * both join sides.
    */
  def q77SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // the (source, token, n) index is a standing artifact when one
    // resolves (a parquet read feeds all three consumers — no checkpoint
    // needed); inline mode derives and pins it as before
    val idx = graft.Artifacts.current(spark, dir,
        graft.Artifacts.TokenFreqName).getOrElse(
      graft.Checkpoints.checkpoint(
        CorpusOps.tokenFreqRows(Tables.documentsFanned(spark, dir))))
    val norms = idx.groupBy("source").agg(
      count(lit(1)).as("vocab"),
      sum(col("n") * col("n")).as("sumsq"))
    val a = idx.select(col("source").as("source_a"), col("token"),
      col("n").as("n_a"))
    val b = idx.select(col("source").as("source_b"), col("token"),
      col("n").as("n_b"))
    a.join(b, "token")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_vocab"),
        sum(col("n_a") * col("n_b")).as("dot"))
      .join(broadcast(norms.select(col("source").as("source_a"),
        col("vocab").as("vocab_a"), col("sumsq").as("sumsq_a"))), "source_a")
      .join(broadcast(norms.select(col("source").as("source_b"),
        col("vocab").as("vocab_b"), col("sumsq").as("sumsq_b"))), "source_b")
      .select(col("source_a"), col("source_b"),
        col("vocab_a"), col("vocab_b"), col("shared_vocab"),
        round6(col("shared_vocab").cast("double") /
          (col("vocab_a") + col("vocab_b") - col("shared_vocab")))
          .as("jaccard"),
        round6(col("dot").cast("double") /
          (sqrt(col("sumsq_a").cast("double")) *
            sqrt(col("sumsq_b").cast("double")))).as("cosine"))
      .orderBy("source_a", "source_b")
  }

  lazy val q77OracleSql: String =
    s"""WITH idx AS (
      |  SELECT source, unnest(string_split_regex(text, '\\s+')) AS token
      |  FROM documents
      |), counts AS (
      |  SELECT source, token, COUNT(*) AS n FROM idx GROUP BY 1, 2
      |), norms AS (
      |  SELECT source, COUNT(*) AS vocab,
      |         CAST(SUM(n * n) AS BIGINT) AS sumsq
      |  FROM counts GROUP BY source
      |), pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         COUNT(*) AS shared_vocab,
      |         CAST(SUM(a.n * b.n) AS BIGINT) AS dot
      |  FROM counts a JOIN counts b
      |    ON a.token = b.token AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT p.source_a, p.source_b,
      |       na.vocab AS vocab_a, nb.vocab AS vocab_b, p.shared_vocab,
      |       ${round6Sql("CAST(p.shared_vocab AS DOUBLE) / " +
           "(na.vocab + nb.vocab - p.shared_vocab)")} AS jaccard,
      |       ${round6Sql("CAST(p.dot AS DOUBLE) / " +
           "(sqrt(CAST(na.sumsq AS DOUBLE)) * sqrt(CAST(nb.sumsq AS DOUBLE)))")} AS cosine
      |FROM pairs p
      |JOIN norms na ON p.source_a = na.source
      |JOIN norms nb ON p.source_b = nb.source
      |ORDER BY source_a, source_b""".stripMargin

  // ---- q90: per-source distribution divergence ----------------------------

  /** q90 — per-source unigram-distribution divergence from the corpus
    * mix: the q86 integer-rarity quantization of KL(source ∥ corpus).
    * Per (source, token), `gap` = corpus rarity − source rarity (each a
    * ⌊log₂⌋+1 binary-digit count, so the whole sum is exact integer
    * arithmetic — bit-reproducible in any engine, the q86/q68 posture);
    * the source's divergence is Σ n·gap over its tokens and
    * `mean_divergence` divides by its token mass once at the end. High
    * mean = the source's vocabulary usage is far from the corpus mix
    * (code beside prose, another language, spam beside curated text) —
    * the distributional out-of-family alarm a curation dashboard
    * watches per delivery, complementing q63's per-source QUALITY
    * aggregates (which see length and rating signals, not vocabulary).
    * Quantization note: real KL is ≥ 0; the integer-log form can dip
    * slightly negative per token, so a stratum at ≈0 reads "in-family",
    * large positive reads "out-of-family".
    *
    * Scale shape: derives ENTIRELY from the standing (source, token, n)
    * frequency index — zero documents scans in artifact mode (q61/q77's
    * posture); inline mode pays the one tokenizing scan the artifact
    * retires, checkpointed so the three aggregation grains (per-source,
    * per-token, corpus total) share it. Every aggregate is map-side
    * partial to source- or vocab-sized frames; the one real shuffle is
    * the per-token join, on the token key.
    */
  def q90SourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.Checkpoints.checkpoint(
      graft.Artifacts.current(spark, dir, graft.Artifacts.TokenFreqName).getOrElse(
        CorpusOps.tokenFreqRows(Tables.documentsFanned(spark, dir))))
    val srcTot = tf.groupBy("source").agg(sum("n").as("src_total"))
    val corpus = tf.groupBy("token").agg(sum("n").as("nc"))
    val corpusTot = corpus.agg(sum("nc").as("corpus_total"))
    tf.join(broadcast(srcTot), "source")
      .join(corpus, "token")
      .crossJoin(broadcast(corpusTot))
      .withColumn("gap",
        length(bin(expr("corpus_total DIV nc"))) -
          length(bin(expr("src_total DIV n"))))
      .groupBy("source")
      .agg(
        max("src_total").as("src_tokens"),
        count(lit(1)).as("distinct_tokens"),
        sum(col("n") * col("gap")).as("divergence"))
      .withColumn("mean_divergence",
        round6(col("divergence").cast("double") / col("src_tokens")))
      .orderBy("source")
  }

  /** The same census, integer rarities, and gap sum as the plan. */
  lazy val q90OracleSql: String =
    s"""WITH tf AS (
      |  SELECT source, token, COUNT(*) AS n
      |  FROM (SELECT source, unnest(string_split_regex(text, '\\s+')) AS token
      |        FROM documents)
      |  GROUP BY source, token
      |), st AS (
      |  SELECT source, CAST(SUM(n) AS BIGINT) AS src_total FROM tf GROUP BY source
      |), ct AS (
      |  SELECT token, CAST(SUM(n) AS BIGINT) AS nc FROM tf GROUP BY token
      |), tot AS (
      |  SELECT CAST(SUM(nc) AS BIGINT) AS corpus_total FROM ct
      |), g AS (
      |  SELECT tf.source, tf.n, st.src_total,
      |         length(bin(corpus_total // nc)) -
      |           length(bin(src_total // n)) AS gap
      |  FROM tf JOIN st USING (source) JOIN ct USING (token), tot
      |)
      |SELECT source,
      |       MAX(src_total) AS src_tokens,
      |       COUNT(*) AS distinct_tokens,
      |       CAST(SUM(n * gap) AS BIGINT) AS divergence,
      |       ${round6Sql("CAST(SUM(n * gap) AS DOUBLE) / MAX(src_total)")}
      |         AS mean_divergence
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  // ---- q96: quality-gate disagreement matrix -----------------------------

  /** q96 — disagreement matrix between the two quality gates the library
    * ships: q41's rule-based curation funnel (`selected`) and q83's
    * linear classifier (`quality_label`). Before swapping one gate for
    * the other — or ANDing them — a pipeline needs the confusion
    * surface: how many documents (and how much token mass) the
    * classifier culls that the funnel keeps, and vice versa. Each cell
    * carries doc count, token mass, and corpus doc share.
    *
    * Scale shape: two doc-grain gate frames join on doc_id, then a
    * map-side-partial aggregate to a ≤4-cell output; the corpus total
    * rides a broadcast of a 1-row aggregate. Both inputs inherit their
    * own artifact paths (q41's keeper join reads the standing keeper
    * table; q83 is map-only).
    */
  def q96FilterDisagreement(spark: SparkSession, dir: String): DataFrame =
    q96With(spark, dir, TextAnalysis.DefaultQualityModel)

  /** q96 under a caller-supplied quality model — `QualityTrainSpec`
    * runs the disagreement audit with [[QualityTrain]]'s trained
    * weights through the identical join/rollup.
    */
  private[graft] def q96With(spark: SparkSession, dir: String,
      model: TextAnalysis.QualityModel): DataFrame = {
    val funnel = Curation.q41CorpusSelect(spark, dir)
      .select(col("doc_id"), col("selected"),
        coalesce(col("n_tokens").cast("long"), lit(0L)).as("n_tokens"))
    val quality = TextAnalysis.q83With(spark, dir, model)
      .select(col("doc_id"), col("quality_label"))
    // checkpointed: the joined gate frame feeds both the corpus total
    // and the cell rollup — without the pin the funnel + classifier
    // derivation (two text scans and a keeper join) would run twice
    val joined = graft.Checkpoints.checkpoint(funnel.join(quality, "doc_id"))
    val total = joined.agg(count(lit(1)).as("total_docs"))
    joined.groupBy("selected", "quality_label")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("doc_share",
        round6(col("n_docs").cast("double") / col("total_docs")))
      .select("selected", "quality_label", "n_docs", "n_tokens", "doc_share")
      .orderBy("selected", "quality_label")
  }

  /** The two gate oracles verbatim, joined at doc grain and rolled up to
    * the confusion cells with the same share arithmetic.
    */
  lazy val q96OracleSql: String =
    s"""WITH funnel AS (
      |  SELECT doc_id, selected,
      |         COALESCE(CAST(n_tokens AS BIGINT), 0) AS n_tokens FROM (
      |${Curation.q41OracleSql}
      |  )
      |), quality AS (
      |  SELECT doc_id, quality_label FROM (
      |${TextAnalysis.q83OracleSql}
      |  )
      |), joined AS (
      |  SELECT f.selected, q.quality_label, f.n_tokens
      |  FROM funnel f JOIN quality q USING (doc_id)
      |), tot AS (
      |  SELECT COUNT(*) AS total_docs FROM joined
      |)
      |SELECT selected, quality_label, COUNT(*) AS n_docs,
      |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |       ${round6Sql("CAST(COUNT(*) AS DOUBLE) / total_docs")}
      |         AS doc_share
      |FROM joined, tot
      |GROUP BY selected, quality_label, total_docs
      |ORDER BY selected, quality_label""".stripMargin

  // ---- q105: n-gram novelty profile ---------------------------------------

  /** q105 — per-document n-gram novelty: of each document's distinct
    * 8-grams, how many occur in NO other document (corpus df = 1), and
    * the novelty fraction unique/total. The inverse lens of q67's dup
    * burden: dup burden counts the text a source repeats, novelty counts
    * the text only this document contributes — the quantity a mixture
    * designer actually buys when upweighting a source, and the first
    * column to check before paying to keep a crawl slice (high-volume,
    * near-zero-novelty slices are refried content even when no single
    * pair crosses a dedup threshold). Documents shorter than 8 tokens
    * have no 8-grams: zero counts and a NULL fraction, the q86 posture.
    *
    * Scale shape: two aggregations over the standing `shingles8`
    * artifact and NOTHING else — per-doc totals are a doc-keyed count,
    * and because artifact rows are distinct per (doc, shingle), a df=1
    * shingle's owner IS `min(doc_id)` of its group, so the unique-count
    * re-aggregates from the (sh → df, owner) pass without ever joining
    * the corpus-scale shingle table back to itself. No documents scan
    * when the artifact resolves; inline mode pays the one
    * tokenize+shingle pass the artifact retires.
    */
  def q105NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = graft.Artifacts.shingles8Shared(spark, dir)
    val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val uniq = sh.groupBy("sh")
      .agg(count(lit(1)).as("df"), min("doc_id").as("doc_id"))
      .filter(col("df") === 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n_unique"))
    Tables.documents(spark, dir).select("doc_id", "source")
      .join(perDoc, Seq("doc_id"), "left")
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        round6(coalesce(col("n_unique"), lit(0L)).cast("double") /
          col("n_shingles")).as("novelty"))
      .orderBy("doc_id")
  }

  /** The same distinct-8-gram derivation as q60's oracle, df counted at
    * shingle grain, uniqueness re-aggregated to the owning document.
    */
  lazy val q105OracleSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(${CorpusOps.shingleSqlN(CorpusOps.DecontamN)}) AS sh
      |  FROM toks
      |), per_doc AS (
      |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
      |), uniq AS (
      |  SELECT doc_id, COUNT(*) AS n_unique FROM (
      |    SELECT sh, MIN(doc_id) AS doc_id FROM sh
      |    GROUP BY sh HAVING COUNT(*) = 1
      |  ) GROUP BY doc_id
      |)
      |SELECT d.doc_id, d.source,
      |       COALESCE(p.n_shingles, 0) AS n_shingles,
      |       COALESCE(u.n_unique, 0) AS n_unique,
      |       ${round6Sql("CAST(COALESCE(u.n_unique, 0) AS DOUBLE) " +
           "/ p.n_shingles")} AS novelty
      |FROM documents d
      |LEFT JOIN per_doc p ON p.doc_id = d.doc_id
      |LEFT JOIN uniq u ON u.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---- q110: lexical diversity profile ------------------------------------

  /** q110 — per-source lexical diversity: type/token ratios at unigram
    * and bigram grain. The diversity dial a mixture designer reads
    * beside q90's KL divergence — two sources can have identical token
    * DISTRIBUTIONS and wildly different internal variety (a template
    * farm repeats the same 500 types forever; a forum uses the long
    * tail), and repetition-heavy low-TTR sources are precisely the ones
    * whose q108 epoch multipliers compound into memorization risk. The
    * bigram TTR separates varied-phrasing from varied-vocabulary: spam
    * that shuffles a fixed vocabulary keeps unigram TTR but collapses
    * at bigram grain.
    *
    * Scale shape: ZERO text scans in artifact mode — both ratios
    * re-aggregate from the standing `token_freq` / `bigram_freq`
    * indexes (source-keyed per-type counts: the type count is the row
    * count, the token count is Σn), so the report costs two
    * vocabulary-sized aggregations however large the corpus is. Inline
    * mode pays the two explode passes the artifacts retire.
    */
  def q110DiversityProfile(spark: SparkSession, dir: String): DataFrame = {
    val tf = graft.Artifacts.current(spark, dir,
        graft.Artifacts.TokenFreqName).getOrElse(
      CorpusOps.tokenFreqRows(Tables.documentsFanned(spark, dir)))
    val bf = graft.Artifacts.current(spark, dir,
        graft.Artifacts.BigramFreqName).getOrElse(
      CorpusOps.bigramFreqRows(Tables.documentsFanned(spark, dir)))
    val t1 = tf.groupBy("source")
      .agg(sum("n").as("n_tokens"), count(lit(1)).as("uniq_tokens"))
    val t2 = bf.groupBy(col("source").as("source2"))
      .agg(sum("n").as("n_bigrams"), count(lit(1)).as("uniq_bigrams"))
    // null-SAFE join: a null-source stratum is a real group in both
    // frequency indexes, and a plain equi-join would silently report it
    // with zero bigrams
    t1.join(t2, t1("source") <=> t2("source2"), "left")
      .select(col("source"), col("n_tokens"), col("uniq_tokens"),
        round6(col("uniq_tokens").cast("double") / col("n_tokens"))
          .as("ttr_unigram"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("uniq_bigrams"), lit(0L)).as("uniq_bigrams"),
        round6(col("uniq_bigrams").cast("double") / col("n_bigrams"))
          .as("ttr_bigram"))
      .orderBy("source")
  }

  /** The q86/q87 token and bigram derivations re-aggregated to source
    * grain; ratios mirrored expression-for-expression.
    */
  lazy val q110OracleSql: String =
    s"""WITH tok AS (
      |  SELECT source, unnest(string_split_regex(text, '\\s+')) AS token
      |  FROM documents
      |), t1 AS (
      |  SELECT source, COUNT(*) AS n_tokens,
      |         COUNT(DISTINCT token) AS uniq_tokens
      |  FROM tok GROUP BY source
      |), toks2 AS (
      |  SELECT source, string_split_regex(text, '\\s+') AS t FROM documents
      |), pos AS (
      |  SELECT source, t, unnest(generate_series(2, len(t))) AS i FROM toks2
      |), big AS (
      |  SELECT source, t[i - 1] AS w1, t[i] AS w2 FROM pos
      |), t2 AS (
      |  SELECT source, COUNT(*) AS n_bigrams,
      |         COUNT(DISTINCT (w1, w2)) AS uniq_bigrams
      |  FROM big GROUP BY source
      |)
      |SELECT t1.source, t1.n_tokens, t1.uniq_tokens,
      |       ${round6Sql(
           "CAST(t1.uniq_tokens AS DOUBLE) / t1.n_tokens")} AS ttr_unigram,
      |       COALESCE(t2.n_bigrams, 0) AS n_bigrams,
      |       COALESCE(t2.uniq_bigrams, 0) AS uniq_bigrams,
      |       ${round6Sql(
           "CAST(t2.uniq_bigrams AS DOUBLE) / t2.n_bigrams")} AS ttr_bigram
      |FROM t1 LEFT JOIN t2 ON t1.source IS NOT DISTINCT FROM t2.source
      |ORDER BY t1.source""".stripMargin

  // ---- q112: per-eval-item contamination report ----------------------------

  /** Shingle-df ceiling for the q112 join — the q20 posture at n=8: an
    * 8-gram shared by more than this many documents is boilerplate, not
    * contamination evidence, and joining through it would square the
    * hottest keys.
    */
  private val ContamDfCap = 64

  /** q112 — contamination from the EVAL side: for every test-split
    * document, how many train-split documents share at least one 8-gram
    * with it, and how many distinct 8-grams are shared. q47 answers the
    * corpus question ("which training docs must go"); this answers the
    * eval team's question — "which of MY benchmark items are
    * compromised, and how badly" — the per-item evidence behind
    * GPT-3/Llama-style dirty-vs-clean eval splits. Items with zero
    * overlap stay in the report (`contaminated = false`): the clean
    * list is the deliverable, not just the dirty one.
    *
    * Scale shape: one pass over the standing `shingles8` artifact
    * (split is a pure function of doc_id — the q60 trick), a df-cap
    * pre-filter ([[ContamDfCap]]) so no boilerplate 8-gram can square
    * the join, then a test×train equi-join ON THE SHINGLE — bounded by
    * cap × shingle count, never all-pairs — rolled up to eval-item
    * grain.
    */
  def q112EvalContamination(spark: SparkSession, dir: String): DataFrame =
    // artifact-first (the lsh_calibration posture): the report is a
    // pure function of the standing shingles8 artifact, so the df-cap
    // and test×train join run once per corpus snapshot — the eval
    // team reads the standing per-item report
    graft.Artifacts.current(spark, dir, graft.Artifacts.EvalContaminationName)
      .map(_.orderBy("doc_id"))
      .getOrElse(evalContaminationFrame(spark, dir))

  /** The inline report — what the standing `eval_contamination` table
    * materializes and the rootless fallback runs per query.
    */
  private[graft] def evalContaminationFrame(spark: SparkSession,
      dir: String): DataFrame = {
    val sh = graft.Artifacts.shingles8Shared(spark, dir)
      .withColumn("split", Curation.splitOf(col("doc_id")))
    val keep = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= ContamDfCap).select("sh")
    val capped = sh.join(keep, "sh")
    val te = capped.filter(col("split") === "test")
      .select(col("doc_id").as("test_id"), col("sh"))
    val tr = capped.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("sh"))
    val hits = te.join(tr, "sh")
      .groupBy("test_id")
      .agg(countDistinct("train_id").as("n_train_docs"),
        countDistinct("sh").as("n_shared_shingles"))
    Tables.documents(spark, dir)
      .select(col("doc_id"))
      .filter(Curation.splitOf(col("doc_id")) === "test")
      .join(hits, col("doc_id") === col("test_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_shared_shingles"), lit(0L)).as("n_shared_shingles"),
        (coalesce(col("n_train_docs"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** q60's distinct-8-gram-with-split derivation, the same df cap, the
    * same test×train shingle join and eval-item rollup.
    */
  lazy val q112OracleSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, ${Curation.splitSqlOf("doc_id")} AS split,
      |         string_split_regex(text, '\\s+') AS t
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, split,
      |         unnest(${CorpusOps.shingleSqlN(CorpusOps.DecontamN)}) AS sh
      |  FROM toks
      |), keep AS (
      |  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= $ContamDfCap
      |), capped AS (
      |  SELECT s.doc_id, s.split, s.sh FROM sh s JOIN keep k ON s.sh = k.sh
      |), hits AS (
      |  SELECT te.doc_id AS test_id,
      |         COUNT(DISTINCT tr.doc_id) AS n_train_docs,
      |         COUNT(DISTINCT te.sh) AS n_shared_shingles
      |  FROM capped te JOIN capped tr
      |    ON te.sh = tr.sh AND te.split = 'test' AND tr.split = 'train'
      |  GROUP BY te.doc_id
      |)
      |SELECT d.doc_id,
      |       COALESCE(h.n_train_docs, 0) AS n_train_docs,
      |       COALESCE(h.n_shared_shingles, 0) AS n_shared_shingles,
      |       COALESCE(h.n_train_docs, 0) > 0 AS contaminated
      |FROM documents d
      |LEFT JOIN hits h ON h.test_id = d.doc_id
      |WHERE ${Curation.splitSqlOf("d.doc_id")} = 'test'
      |ORDER BY d.doc_id""".stripMargin

  // ---- q122: cross-source duplication matrix ------------------------------

  /** q122 — who copies from whom: q20's near-dup pair table rolled up to
    * an unordered source×source matrix — pair count, total shared
    * shingle mass, and the strongest pair per cell. The provenance
    * audit behind dedup burden (q67 charges each SOURCE its duplicate
    * share; this names the source PAIRS the duplication flows between —
    * a mirror site shows up as one hot off-diagonal cell, boilerplate
    * within a crawl as a hot diagonal). Cells are canonically ordered
    * (`source_a ≤ source_b`) so A→B and B→A mass lands together; null
    * sources ride as the `(null)` sentinel (least/greatest silently
    * drop SQL nulls, which would mis-bucket a null-source pair).
    *
    * Aggregates are deliberately order-free for cross-engine hashing:
    * pair COUNT and integer shingle SUM are exact, and the per-cell
    * strength is MAX jaccard, never a float mean (a sum of rounded
    * doubles is partition-order-dependent in its last bits).
    *
    * Scale shape: one dup_pairs artifact read joined twice against a
    * two-column (doc_id, source) projection of the documents scan;
    * output is ≤ |sources|² rows. Never recomputes the pair chain.
    */
  def q122SourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.Artifacts.serve(spark, dir, graft.Artifacts.DupPairsName)
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), coalesce(col("source"), lit("(null)")).as("src"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("src").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("src").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("n_inter"), col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum("n_inter").as("total_shared_shingles"),
        max("jaccard").as("max_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** q20's pair chain verbatim, source-labeled and rolled up with the
    * same canonical cell order and order-free aggregates.
    */
  lazy val q122OracleSql: String =
    s"""WITH ${Dedup.jaccardCtes}, srcs AS (
      |  SELECT doc_id, COALESCE(source, '(null)') AS src FROM documents
      |), labeled AS (
      |  SELECT least(a.src, b.src) AS source_a,
      |         greatest(a.src, b.src) AS source_b,
      |         j.n_inter, j.jaccard
      |  FROM jac j
      |  JOIN srcs a ON a.doc_id = j.doc_a
      |  JOIN srcs b ON b.doc_id = j.doc_b
      |  WHERE j.jaccard >= 0.5
      |)
      |SELECT source_a, source_b, COUNT(*) AS n_pairs,
      |       CAST(SUM(n_inter) AS BIGINT) AS total_shared_shingles,
      |       MAX(jaccard) AS max_jaccard
      |FROM labeled GROUP BY 1, 2
      |ORDER BY source_a, source_b""".stripMargin
}
