package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-preparation operators a large-scale training-data pipeline runs
  * after curation: eval-set decontamination, sequence packing, PII
  * scrubbing, incremental (cross-snapshot) dedup, and boilerplate n-gram
  * mining. No counterpart in the reference (a movie ETL); these extend
  * the q17–q46 family along the same contract — every operator is a
  * `SparkEntry.queries` entry with a full DuckDB oracle.
  */
object CorpusOps {

  // ---- q47: eval-set decontamination -------------------------------------

  /** Shingle width for decontamination. 8 contiguous tokens is the
    * published working point (e.g. GPT-3's 13-gram and Llama's 8-gram
    * filters): long enough that a match means shared provenance, not
    * shared vocabulary.
    */
  private[graft] val DecontamN = 8

  private[graft] def shinglesN(toks: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NgramShingles(
        org.apache.spark.sql.GraftSqlBridge.expression(toks), n))

  /** Eval-side distinct-shingle count up to which the decontamination
    * joins hint broadcast. Above it the hint is dropped and the join
    * falls back to a shuffle: a REAL benchmark suite's shingle set is
    * tiny and broadcasting it keeps the corpus side shuffle-free, but
    * nothing in the API stops a caller pointing "eval" at something
    * corpus-sized (this repo's own stand-in is the q42 test split — ~10%
    * of the corpus, exactly the case that would OOM the driver at the
    * scale the docstrings claim). ~5M shingle strings ≈ low hundreds of
    * MB broadcast — a safe executor/driver envelope.
    */
  private val MaxBroadcastShingles = 5000000L

  /** Per-document DISTINCT [[DecontamN]]-gram shingle rows `(doc_id, sh)`
    * — the inline form of the `shingles8` corpus artifact. The decontam
    * family (q47/q55/q60) each re-derived this index per query; it is
    * per-doc state like the 3-gram postings, one level up in n.
    */
  private[graft] def docShingles8(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(shinglesN(Dedup.tokens(col("text")), DecontamN)).as("sh"))

  /** Per-(source, token) frequency index `(source, token, n)` — the
    * inline form of the `token_freq` corpus artifact (q77's join input;
    * q61's corpus-wide counts re-aggregate from it).
    */
  private[graft] def tokenFreqRows(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(Dedup.tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("n"))

  /** Per-source bigram frequencies `(source, w1, w2, n)` — the inline
    * form of the `bigram_freq` corpus artifact (q87's counting input).
    * Pair derivation shared with q87's scoring pass via
    * [[TextAnalysis.bigramsOf]].
    */
  private[graft] def bigramFreqRows(docs: DataFrame): DataFrame =
    TextAnalysis.bigramsOf(docs, Seq("source"))
      .groupBy("source", "w1", "w2").agg(count(lit(1)).as("n"))

  /** Per-document term frequencies `(doc_id, token, tf)` under `tok` —
    * the inline form of the `token_postings_<tokId>` corpus artifact:
    * the materialized inverted index the lexical-search family
    * (q66/q102/q107) joins instead of re-exploding the corpus per
    * query. Doc-grain state like the token counts, one level down —
    * maintained by retract/append in the incremental paths.
    */
  private[graft] def tokenPostingsRows(docs: DataFrame,
      tok: graft.functions.Tokenizer): DataFrame =
    docs.select(col("doc_id"), explode(tok.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  /** Positional postings `(doc_id, token, pos)` — one row per token
    * occurrence, 0-based whitespace-token position: the inline form of
    * the `token_positions` artifact (the phrase/proximity index q126
    * joins). Token-mass-sized; per-doc state, retract/append
    * maintenance like every doc-grain index.
    */
  private[graft] def tokenPositionsRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(graft.functions.Tokenizer.Whitespace.tokens(col("text")))
          .as(Seq("pos", "token")))
      .select("doc_id", "token", "pos")

  /** Per-chunk term frequencies `(doc_id, chunk_id, token, tf)` over the
    * q64 chunk definition — the inline form of the `chunk_postings`
    * artifact (the materialized PASSAGE index q101 joins). A separate
    * artifact from the doc-grain postings because q64's chunks OVERLAP
    * (width 32, stride 24): tokens in the overlap belong to two chunks,
    * so chunk-grain tf does not sum to doc-grain tf and neither index
    * derives from the other.
    */
  private[graft] def chunkPostingsRows(docs: DataFrame): DataFrame =
    Segments.chunkTokens(docs)
      .select(col("doc_id"), col("chunk_id"), explode(col("ctoks")).as("token"))
      .groupBy("doc_id", "chunk_id", "token").agg(count(lit(1)).as("tf"))

  /** The vocabulary-grain document frequencies `(token, df)` of a
    * postings frame — df is the postings row count per token, since
    * postings are (doc, token)-distinct by construction. ONE definition
    * for the `token_df` artifact build and every consumer-side
    * fallback aggregation.
    */
  private[graft] def dfFromPostings(postings: DataFrame): DataFrame =
    postings.groupBy("token").agg(count(lit(1)).as("df"))

  /** The inline form of the `token_df` artifact (whitespace tokens —
    * the search family's tokenization). Also the ±1-per-distinct-token
    * delta source for its additive maintenance.
    */
  private[graft] def tokenDfRows(docs: DataFrame): DataFrame =
    dfFromPostings(tokenPostingsRows(docs, graft.functions.Tokenizer.Whitespace))

  /** Broadcast-hint `evalShingles` only when it is actually
    * broadcast-sized. The eval set is localCheckpoint'ed FIRST, so the
    * size probe's evaluation is the same materialization the join then
    * reads — one pass over the eval side total, not a count pass plus a
    * re-derivation; the corpus side is never touched either way.
    */
  private def maybeBroadcast(evalShingles: DataFrame,
      maxRows: Long): DataFrame = {
    val ev = graft.Checkpoints.checkpoint(evalShingles)
    if (ev.count() <= maxRows) broadcast(ev) else ev
  }

  /** [[maybeBroadcast]] under the default shingle bound — the eval-side
    * guard shared with the registry decontam (q124).
    */
  private[operators] def maybeBroadcastShingles(evalShingles: DataFrame): DataFrame =
    maybeBroadcast(evalShingles, MaxBroadcastShingles)

  /** q47 — train/test decontamination: every TRAIN document (per the q42
    * hash split) with the number of its distinct [[DecontamN]]-gram
    * shingles that also occur in any TEST document, and a `contaminated`
    * verdict. A training pipeline drops (or strips) contaminated docs so
    * the eval set stays out of the training mix.
    *
    * Scale shape: when the eval side is a real benchmark set — orders of
    * magnitude smaller than the corpus — its distinct shingle set is
    * broadcast and the train side never shuffles: one map-side semi-join
    * pass over the corpus, then a per-doc count. An oversized eval set
    * (checked by [[maybeBroadcast]]) downgrades to a shuffle join
    * instead of OOMing the driver.
    */
  def q47Decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminate(spark, dir, MaxBroadcastShingles)

  private[graft] def decontaminate(spark: SparkSession, dir: String,
      maxBroadcast: Long): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("split", Curation.splitOf(col("doc_id")))
    // per-doc shingle rows from the standing artifact when one resolves
    // (no tokenize, no shingle kernel); the split label is a pure
    // function of doc_id, so it attaches to the artifact rows directly —
    // and in inline mode Catalyst pushes the split filters below the
    // shingle explode (predicates referencing only non-generated
    // columns), keeping the pre-artifact plan
    val sh = graft.Artifacts.serve(spark, dir, graft.Artifacts.Shingles8Name)
      .withColumn("split", Curation.splitOf(col("doc_id")))
    // LEFT SEMI against the (non-distinct) test-side shingle rows: a
    // semi join never multiplies the probe side, so the distinct's
    // exchange + aggregate the inner-join form needed is dropped — the
    // surviving train rows are identical (matched-or-not per row)
    val evalShingles = sh.filter(col("split") === "test").select("sh")
    val hits = sh.filter(col("split") === "train")
      .join(maybeBroadcast(evalShingles, maxBroadcast), Seq("sh"), "left_semi")
      // shingles are distinct within a doc, so count(*) = distinct count
      .groupBy("doc_id").agg(count(lit(1)).as("n_eval_shingles"))
    d.filter(col("split") === "train").select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_shingles"), lit(0L)).as("n_eval_shingles"),
        col("n_eval_shingles").isNotNull.as("contaminated"))
      .orderBy("doc_id")
  }

  private[graft] def shingleSqlN(n: Int): String = {
    val joined = (1 to n).map(j => s"t[i+${j - 1}]").mkString(" || ' ' || ")
    s"""CASE WHEN len(t) < $n THEN []
       |         ELSE list_transform(generate_series(1, len(t) - ${n - 1}),
       |                i -> $joined) END""".stripMargin
  }

  lazy val q47OracleSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, text, ${Curation.splitSqlOf("doc_id")} AS split
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, split, string_split_regex(text, '\\s+') AS t FROM d
      |), sh AS (
      |  SELECT doc_id, split, unnest(list_distinct(${shingleSqlN(DecontamN)})) AS sh
      |  FROM toks
      |), ev AS (
      |  SELECT DISTINCT sh FROM sh WHERE split = 'test'
      |), hits AS (
      |  SELECT s.doc_id, COUNT(*) AS n_eval_shingles
      |  FROM sh s JOIN ev ON s.sh = ev.sh
      |  WHERE s.split = 'train' GROUP BY 1
      |)
      |SELECT d.doc_id,
      |       COALESCE(h.n_eval_shingles, 0) AS n_eval_shingles,
      |       h.doc_id IS NOT NULL AS contaminated
      |FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.split = 'train'
      |ORDER BY d.doc_id""".stripMargin

  /** q55 — decontamination STRIP accounting: for every contaminated train
    * document (q47's verdict), the number of matching spans and how many
    * tokens span-removal would delete — the "strip, don't drop" option:
    * a doc sharing one quote with a benchmark keeps its other 95%.
    * Token i is removed iff some contaminated [[DecontamN]]-gram starts
    * in (i-[[DecontamN]], i]; overlapping spans are unioned before
    * counting, via index-set aggregation per doc. The per-doc span lists
    * are tiny (bounded by q47's match counts), so the interpreted HOF
    * union here is fine — the corpus-scale work is the same
    * broadcast-when-small semi-join q47 runs (same [[maybeBroadcast]]
    * downgrade for an oversized eval side).
    */
  def q55DecontamStrip(spark: SparkSession, dir: String): DataFrame =
    decontamStrip(spark, dir, MaxBroadcastShingles)

  private[graft] def decontamStrip(spark: SparkSession, dir: String,
      maxBroadcast: Long): DataFrame = {
    val d = Tables.documentsFanned(spark, dir)
      .withColumn("split", Curation.splitOf(col("doc_id")))
    val posSh = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NgramShinglesAll(
        org.apache.spark.sql.GraftSqlBridge.expression(
          Dedup.tokens(col("text"))), DecontamN))
    // eval side from the standing artifact (the positional variant above
    // differs only in keeping duplicates/order, so its distinct set is
    // the artifact's row set); the train side needs POSITIONS and keeps
    // the inline positional kernel
    // non-distinct, joined LEFT SEMI below — see q47's eval side
    val evalShingles = graft.Artifacts.serve(spark, dir,
      graft.Artifacts.Shingles8Name)
      .withColumn("split", Curation.splitOf(col("doc_id")))
      .filter(col("split") === "test")
      .select("sh")
    // n_tokens rides along the positional explode (first() per doc), so
    // the train corpus is scanned and tokenized ONCE — a join back to a
    // second documents scan would re-run the tokenizer over every train
    // doc just to fetch a length the first pass already had
    val hits = d.filter(col("split") === "train")
      .select(col("doc_id"),
        size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"),
        posexplode(posSh).as(Seq("start", "sh")))
      .join(maybeBroadcast(evalShingles, maxBroadcast), Seq("sh"), "left_semi")
      .groupBy("doc_id")
      .agg(first("n_tokens").as("n_tokens"),
        count(lit(1)).as("n_spans"),
        sort_array(collect_list(col("start"))).as("starts"))
    val removed = size(array_distinct(flatten(transform(col("starts"),
      s => sequence(s, s + DecontamN - 1)))))
    hits
      .select(col("doc_id"), col("n_spans"),
        removed.cast("long").as("n_tokens_removed"),
        graft.functions.VectorOps.round6(
          removed.cast("double") / col("n_tokens")).as("frac_removed"))
      .orderBy("doc_id")
  }

  lazy val q55OracleSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, text, ${Curation.splitSqlOf("doc_id")} AS split
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, split, string_split_regex(text, '\\s+') AS t FROM d
      |), pos AS (
      |  -- two same-length unnests in one SELECT zip positionally in DuckDB
      |  SELECT doc_id, split, len(t) AS n_tokens,
      |         unnest(${shingleSqlN(DecontamN)}) AS sh,
      |         unnest(range(1, len(${shingleSqlN(DecontamN)}) + 1)) AS start
      |  FROM toks
      |), ev AS (
      |  SELECT DISTINCT sh FROM pos WHERE split = 'test'
      |), hits AS (
      |  SELECT p.doc_id, ANY_VALUE(p.n_tokens) AS n_tokens,
      |         COUNT(*) AS n_spans,
      |         list_sort(list(p.start)) AS starts
      |  FROM pos p JOIN ev ON p.sh = ev.sh
      |  WHERE p.split = 'train' GROUP BY p.doc_id
      |)
      |SELECT doc_id, n_spans,
      |       CAST(len(list_distinct(flatten(list_transform(starts,
      |         s -> list_transform(generate_series(0, ${DecontamN - 1}),
      |                o -> s + o))))) AS BIGINT) AS n_tokens_removed,
      |       ${graft.functions.VectorOps.round6Sql(
           s"""CAST(len(list_distinct(flatten(list_transform(starts,
      |         s -> list_transform(generate_series(0, ${DecontamN - 1}),
      |                o -> s + o))))) AS DOUBLE) / n_tokens""")} AS frac_removed
      |FROM hits ORDER BY doc_id""".stripMargin

  // ---- q48: sequence packing ---------------------------------------------

  /** Token budget per packed training sequence. */
  private val PackBudget = 512

  /** Shard count for packing: the SEMANTIC unit of concatenation order.
    * Sharding by a hash of the id keeps the assignment a pure function of
    * the corpus (adding docs only ever appends within a shard). Shards
    * are NOT the parallelism bound — offsets inside a shard are computed
    * two-level over [[PackRangeWidth]]-sized id ranges, so no window task
    * ever owns more than one range regardless of corpus size.
    */
  private val PackShards = 16

  /** Id-range width for the two-level offset computation: documents are
    * bucketed by `doc_id div width`, so a (shard, range) window cell
    * holds at most `width` documents NO MATTER how large the corpus is —
    * the per-task token mass is bounded by construction, where the old
    * single-window-per-shard form gave each of 16 tasks 1/16th of the
    * corpus. The range-totals table this leaves behind has
    * `id_domain / width` rows (tiny triples), so its own per-shard
    * prefix-sum window is ~10⁶ rows per shard even at 10¹² documents.
    */
  private val PackRangeWidth = 1L << 16

  /** q48 — sequence packing: documents are concatenated in (shard,
    * doc_id) order and chunked into [[PackBudget]]-token training
    * sequences; each document is assigned the sequence containing its
    * first token (`tok_offset` = tokens before it in its shard, `seq_id`
    * = offset / budget). This offset table fully determines the standard
    * concat-then-chunk pretraining layout — the downstream writer slices
    * exactly where `tok_offset % budget` says.
    */
  def q48SequencePack(spark: SparkSession, dir: String): DataFrame =
    sequencePack(spark, dir, PackRangeWidth)

  /** q48 under a pluggable [[graft.functions.Tokenizer]] — offsets in
    * whatever unit the seam counts (a real packing run uses the model's
    * own tokenizer so `seq_id` boundaries land exactly on its budget).
    */
  def packSequences(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame =
    sequencePack(spark, dir, PackRangeWidth, tok)

  /** The (doc_id, n_tokens) frame every packing/sharding operator
    * consumes: the token-count artifact when it resolves (zero documents
    * scan), else ONE checkpointed tokenizing scan — the count frame
    * always feeds both a range-grain aggregate and a doc-grain window
    * probe, whose exchange shapes differ, so without the checkpoint the
    * corpus would tokenize twice per query.
    */
  private def packCounts(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame =
    graft.Artifacts.current(spark, dir,
        graft.Artifacts.tokenCountsName(tok)).getOrElse(
      graft.Checkpoints.checkpoint(Tables.documentsFanned(spark, dir)
        .select(col("doc_id"), tok.count(col("text")).as("n_tokens"))))

  /** The shared two-level offset kernel behind q48 and q91: `sized` is
    * (doc_id, shard, rng, n_tokens [, order columns…]) where `rng` must
    * be monotone non-decreasing along the per-shard `orderCols` order —
    * that monotonicity is exactly what licenses decomposing the
    * single-window running sum into per-(shard, rng) totals + a tiny
    * per-shard base sum + a partition-local window (the oracles keep the
    * single-window form as the definition; the hash matches prove the
    * equivalence). One definition, so an offset-math fix can never land
    * in one packing order and miss the other.
    */
  private def packOffsets(sized: DataFrame,
      orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val unbounded = org.apache.spark.sql.expressions.Window.unboundedPreceding
    val baseW = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("rng").rowsBetween(unbounded, -1)
    val bases = sized.groupBy("shard", "rng")
      .agg(sum("n_tokens").as("cell_tokens"))
      .withColumn("base", coalesce(sum("cell_tokens").over(baseW), lit(0L)))
      .select("shard", "rng", "base")
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("shard", "rng").orderBy(orderCols: _*)
      .rowsBetween(unbounded, -1)
    sized.join(bases, Seq("shard", "rng"))
      .withColumn("tok_offset",
        col("base") + coalesce(sum("n_tokens").over(localW), lit(0L)))
      .withColumn("seq_id", floor(col("tok_offset") / PackBudget))
  }

  private def shardOf(id: org.apache.spark.sql.Column) =
    pmod(org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.GraftSqlBridge.expression(id.cast("string")))),
      lit(PackShards.toLong)).cast("int")

  /** Two-level offset computation behind [[q48SequencePack]]. `rng =
    * doc_id div rangeWidth` is monotone in `doc_id`, so ordering a shard
    * by (rng, doc_id) IS the shard's doc_id order and the decomposition
    * below returns bit-identical offsets to a single per-shard running
    * sum (the oracle keeps that single-window form as the semantic
    * definition; the cross-engine hash match proves the equivalence):
    *
    *  1. per-(shard, rng) token totals — one map-side-partial aggregate;
    *  2. per-shard running sum OVER THE TOTALS (a `rangeWidth`-fold
    *     smaller table) → each range's base offset;
    *  3. per-(shard, rng) partition-local running sum + that base.
    *
    * The base join is on (shard, rng) — the exact partitioning the
    * level-3 window needs anyway, and AQE broadcasts the totals side
    * whenever it is small. `rangeWidth` is parameterized only for the
    * equivalence spec; production uses [[PackRangeWidth]].
    */
  private[graft] def sequencePack(spark: SparkSession, dir: String,
      rangeWidth: Long,
      tok: graft.functions.Tokenizer = graft.functions.Tokenizer.Whitespace)
      : DataFrame = {
    // NULL-text docs cost 0 tokens (the q84 posture — coalesced at the
    // consumption point so artifact and inline paths stay identical, and
    // a legacy size(NULL) = -1 can never shift the running offsets)
    val sized = packCounts(spark, dir, tok)
      .select(col("doc_id"), shardOf(col("doc_id")).as("shard"),
        coalesce(col("n_tokens").cast("long"), lit(0L)).as("n_tokens"),
        expr(s"doc_id DIV $rangeWidth").as("rng"))
    packOffsets(sized, Seq(col("doc_id")))
      .select("doc_id", "shard", "n_tokens", "tok_offset", "seq_id")
      .orderBy("doc_id")
  }

  lazy val q48OracleSql: String = {
    val ph = graft.functions.PolyHash.sql("CAST(doc_id AS VARCHAR)")
    s"""WITH sized AS (
      |  SELECT doc_id,
      |         CAST($ph % $PackShards AS INTEGER) AS shard,
      |         COALESCE(len(string_split_regex(text, '\\s+')), 0) AS n_tokens
      |  FROM documents
      |)
      |SELECT doc_id, shard, n_tokens,
      |       CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
      |         ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |         AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset,
      |       CAST(FLOOR(CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
      |         ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |         AND 1 PRECEDING), 0) AS DOUBLE) / $PackBudget) AS BIGINT) AS seq_id
      |FROM sized ORDER BY doc_id""".stripMargin
  }

  // ---- q91: epoch-shuffled sequence packing -------------------------------

  /** Order-key domain for the epoch shuffle (the q56 hash resolution). */
  private[graft] val EpochHashDomain = 1000000L

  /** Hash-range width of q91's second level (the [[PackRangeWidth]]
    * analogue over the epoch-hash domain instead of the id domain).
    */
  private val EpochRangeWidth = 4096L

  /** The epoch whose shuffle q91's fixed query entry realizes. */
  private val PackEpoch = 1

  /** q91 — EPOCH-SHUFFLED sequence packing: q48 with the within-shard
    * order replaced by a salted hash of the doc id. Packing in doc_id
    * order trains on documents in crawl/ingest order — adjacent ids are
    * temporally and topically correlated, which is exactly the gradient
    * correlation a shuffle exists to break — and a real run re-shuffles
    * every EPOCH. The order key `eh = hash(doc_id ⊕ epoch)` gives each
    * epoch its own deterministic, engine-portable permutation: same
    * epoch → bit-identical pack order on any engine (resumable mid-epoch
    * from nothing but the epoch number), next epoch → a fresh
    * permutation, no RNG state anywhere.
    *
    * Scale shape: q48's two-level decomposition transplanted onto the
    * hash domain — `rng = eh DIV` [[EpochRangeWidth]] is monotone in the
    * (eh, doc_id) order, so per-(shard, rng) totals + a tiny per-shard
    * running sum + a partition-local window reproduce the single-window
    * semantics with no task owning more than one hash range (the oracle
    * keeps the single-window form as the definition; the hash match
    * proves equivalence). Derives from (doc_id, n_tokens), so the
    * token-count artifact retires the documents scan entirely.
    */
  def q91EpochPack(spark: SparkSession, dir: String): DataFrame =
    epochPack(spark, dir, EpochRangeWidth, PackEpoch)

  private[graft] def epochPack(spark: SparkSession, dir: String,
      rangeWidth: Long, epoch: Int,
      tok: graft.functions.Tokenizer = graft.functions.Tokenizer.Whitespace)
      : DataFrame = {
    val eh = pmod(org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.GraftSqlBridge.expression(
          concat(col("doc_id").cast("string"), lit(s"#epoch$epoch"))))),
      lit(EpochHashDomain))
    val sized = packCounts(spark, dir, tok)
      .select(col("doc_id"), shardOf(col("doc_id")).as("shard"),
        eh.as("eh"),
        coalesce(col("n_tokens").cast("long"), lit(0L)).as("n_tokens"))
      .withColumn("rng", expr(s"eh DIV $rangeWidth"))
    packOffsets(sized, Seq(col("eh"), col("doc_id")))
      .select("doc_id", "shard", "eh", "n_tokens", "tok_offset", "seq_id")
      .orderBy("doc_id")
  }

  /** Single-window semantic definition over the same two hashes. */
  lazy val q91OracleSql: String = {
    val ph = graft.functions.PolyHash.sql("CAST(doc_id AS VARCHAR)")
    val phE = graft.functions.PolyHash.sql(
      s"(CAST(doc_id AS VARCHAR) || '#epoch$PackEpoch')")
    s"""WITH sized AS (
      |  SELECT doc_id,
      |         CAST($ph % $PackShards AS INTEGER) AS shard,
      |         CAST($phE % $EpochHashDomain AS BIGINT) AS eh,
      |         COALESCE(len(string_split_regex(text, '\\s+')), 0) AS n_tokens
      |  FROM documents
      |)
      |SELECT doc_id, shard, eh, n_tokens,
      |       CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
      |         ORDER BY eh, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |         AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset,
      |       CAST(FLOOR(CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
      |         ORDER BY eh, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |         AND 1 PRECEDING), 0) AS DOUBLE) / $PackBudget) AS BIGINT) AS seq_id
      |FROM sized ORDER BY doc_id""".stripMargin
  }

  // ---- q84: token-balanced shard manifest --------------------------------

  /** Target token mass per export shard: the shard count AUTO-SIZES as
    * `n_shards = max(1, ceil(total_tokens / TargetShardTokens))` and the
    * cut target is `ceil(total / n_shards)` (≤ the target mass), so the
    * binary artifact scales with the corpus instead of pushing
    * `total/16` tokens through a fixed count of single-task sorted
    * writers — at 100 TB a hard-coded 16 means ~6 TB per shard file.
    * Production sets this to the file size a trainer mounts (~250M
    * tokens ≈ 1 GiB of int32 ids); the test default keeps multi-shard
    * coverage at spec scale. The manifest carries the realized count
    * (`n_shards`), so a trainer can refuse an artifact cut for a
    * different target.
    */
  private[graft] val TargetShardTokens = 4096L

  /** q84 — token-balanced export sharding: documents in global doc_id
    * order are cut into `n_shards = ceil(total / `[[TargetShardTokens]]`)`
    * contiguous shards of ≈ equal TOKEN mass (boundaries at multiples of
    * `ceil(total/n_shards)` over the exclusive running token sum), and
    * the manifest reports each shard's document count, token mass, id
    * range, and the realized shard count. This is the
    * writer-facing complement of q48: packing balances SEQUENCES inside
    * a shard, this balances the SHARDS a distributed trainer reads —
    * hash sharding (q42/q48-style) balances document COUNTS, which under
    * heavy-tailed document lengths leaves token-starved and token-heavy
    * shards; cutting on the token cumsum bounds every shard's deviation
    * from target by one document's tokens (pinned in `ShardManifestSpec`).
    *
    * Contiguous-by-id on purpose: shard files stay range-prunable by
    * doc_id — a reader of shard k opens one id range, not a hash-scatter
    * of the whole corpus. (The cut points depend on the corpus total, so
    * re-sharding after an append re-cuts; a pipeline wanting
    * append-stable assignment at the cost of token balance uses q42/q48
    * hash sharding instead — the two are complementary.) A downstream
    * writer is one `partitionBy("shard_id")` of the doc-grain assignment.
    */
  def q84ShardManifest(spark: SparkSession, dir: String): DataFrame =
    shardManifest(spark, dir, PackRangeWidth)

  /** Two-level global-cumsum form behind [[q84ShardManifest]] — q48's
    * decomposition with a GLOBAL ordering instead of per-hash-shard:
    * per-id-range token totals (map-side partial agg), one running sum
    * over the totals table (`id_domain / rangeWidth` rows — the only
    * single-task window, ~10⁶ rows at 10¹¹ documents; widen `rangeWidth`
    * or add a third level mechanically if that table itself outgrows a
    * task), then a partition-local running sum per range. The shard
    * target is `ceil(total/shards)` computed from the same tiny totals
    * table (an unbounded window over it, not a second corpus pass).
    * `rangeWidth` is parameterized only for the equivalence spec.
    */
  private[graft] def shardManifest(spark: SparkSession, dir: String,
      rangeWidth: Long,
      tok: graft.functions.Tokenizer = graft.functions.Tokenizer.Whitespace)
      : DataFrame =
    exportAssignment(spark, dir, rangeWidth, tok)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("shard_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"),
        max("n_shards").as("n_shards"))
      .orderBy("shard_id")

  /** Doc-grain q84 cut assignment `(doc_id, n_tokens, cum_before,
    * shard_id)` — the frame [[shardManifest]] aggregates and the packed
    * export sink writes by. Two-level global-cumsum form (see
    * [[shardManifest]]'s scaladoc for the decomposition argument).
    */
  private[graft] def exportAssignment(spark: SparkSession, dir: String,
      rangeWidth: Long,
      tok: graft.functions.Tokenizer = graft.functions.Tokenizer.Whitespace)
      : DataFrame = {
    // derives entirely from (doc_id, n_tokens) — artifact mode runs off
    // the standing token counts with zero documents scan; the inline
    // fallback checkpoints the tiny count frame so the range-totals
    // aggregate and the doc-grain join share ONE tokenizing scan
    // (plan-guarded in PlanQualitySpec)
    val counts = packCounts(spark, dir, tok)
    // NULL-text documents count as 0 tokens (coalesced HERE, at the
    // consumption point, so the artifact and inline paths stay
    // hash-identical); without the guard a legacy size(NULL) = -1 would
    // shift every downstream cumsum — and thus every shard boundary —
    // by one per null document. The oracle mirrors the COALESCE.
    val sized = counts.select(col("doc_id"),
      coalesce(col("n_tokens").cast("long"), lit(0L)).as("n_tokens"),
      expr(s"doc_id DIV $rangeWidth").as("rng"))
    val unbounded = org.apache.spark.sql.expressions.Window.unboundedPreceding
    val following = org.apache.spark.sql.expressions.Window.unboundedFollowing
    val baseW = org.apache.spark.sql.expressions.Window
      .orderBy("rng").rowsBetween(unbounded, -1)
    val totalW = org.apache.spark.sql.expressions.Window
      .orderBy("rng").rowsBetween(unbounded, following)
    val bases = sized.groupBy("rng")
      .agg(sum("n_tokens").as("cell_tokens"))
      .withColumn("base", coalesce(sum("cell_tokens").over(baseW), lit(0L)))
      .withColumn("total", sum("cell_tokens").over(totalW))
      .select("rng", "base", "total")
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("rng").orderBy("doc_id").rowsBetween(unbounded, -1)
    sized.join(bases, "rng")
      .withColumn("cum_before",
        col("base") + coalesce(sum("n_tokens").over(localW), lit(0L)))
      .withColumn("n_shards",
        greatest(expr(s"(total + ${TargetShardTokens - 1})" +
          s" DIV $TargetShardTokens"), lit(1L)))
      .withColumn("target",
        greatest(expr("(total + n_shards - 1) DIV n_shards"), lit(1L)))
      .withColumn("shard_id", expr("CAST(cum_before DIV target AS INT)"))
      .select("doc_id", "n_tokens", "cum_before", "shard_id", "n_shards")
  }

  /** Sequence orderings the packed export can write in — the sink
    * parameter composing q127's binary artifact with the order the
    * training scheduler actually feeds: crawl order (q84's cuts
    * verbatim), q91's deterministic per-epoch hash permutation, or
    * q94's easy→hard curriculum. Cut points stay token-balanced per
    * q84 in every ordering (the cumsum runs over the CHOSEN order);
    * the manifest names the order so a trainer can refuse a mismatched
    * artifact.
    */
  sealed trait ExportOrder { def name: String }
  object ExportOrder {
    /** Crawl/ingest (doc_id) order. */
    case object ByDocId extends ExportOrder { val name = "doc_id" }

    /** q91's per-epoch hash permutation (`hash(doc_id ⊕ epoch)`). */
    final case class ByEpoch(epoch: Int) extends ExportOrder {
      val name = s"epoch_$epoch"
    }

    /** q94's surprisal-banded curriculum position. */
    case object ByCurriculum extends ExportOrder { val name = "curriculum" }
  }

  /** [[exportAssignment]] generalized over an [[ExportOrder]]: the
    * global stream order is `(okey, doc_id)` with `okey` the ordering's
    * key (doc_id itself / q91's epoch hash / q94's curriculum
    * position), and the q84 cut arithmetic is unchanged — the same
    * two-level global-cumsum decomposition, banded by a MONOTONE
    * function of the order key (`okey DIV width`), which is what
    * licenses the decomposition in every ordering.
    */
  private[graft] def exportAssignmentOrdered(spark: SparkSession,
      dir: String, order: ExportOrder,
      tok: graft.functions.Tokenizer = graft.functions.Tokenizer.Whitespace,
      members: Option[DataFrame] = None): DataFrame = {
    // optional membership frame (doc_id): the curated-export path —
    // cuts, offsets, and shard targets are computed over the KEPT set
    // only, so the binary artifact holds no culled byte
    val all = packCounts(spark, dir, tok).select(col("doc_id"),
      coalesce(col("n_tokens").cast("long"), lit(0L)).as("n_tokens"))
    val base = members.fold(all)(m => all.join(m.select("doc_id"), "doc_id"))
    val sized = order match {
      case ExportOrder.ByDocId =>
        base.withColumn("okey", col("doc_id"))
          .withColumn("rng", expr(s"doc_id DIV $PackRangeWidth"))
      case ExportOrder.ByEpoch(e) =>
        val eh = pmod(org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.PolyHash(
            org.apache.spark.sql.GraftSqlBridge.expression(
              concat(col("doc_id").cast("string"), lit(s"#epoch$e"))))),
          lit(EpochHashDomain))
        base.withColumn("okey", eh)
          .withColumn("rng", expr(s"okey DIV $EpochRangeWidth"))
      case ExportOrder.ByCurriculum =>
        base.join(Curation.q94CurriculumOrder(spark, dir)
            .select(col("doc_id"), col("curriculum_pos").as("okey")),
          "doc_id")
          .withColumn("rng", expr(s"okey DIV $PackRangeWidth"))
    }
    val unbounded = org.apache.spark.sql.expressions.Window.unboundedPreceding
    val following = org.apache.spark.sql.expressions.Window.unboundedFollowing
    val baseW = org.apache.spark.sql.expressions.Window
      .orderBy("rng").rowsBetween(unbounded, -1)
    val totalW = org.apache.spark.sql.expressions.Window
      .orderBy("rng").rowsBetween(unbounded, following)
    val bases = sized.groupBy("rng")
      .agg(sum("n_tokens").as("cell_tokens"))
      .withColumn("base", coalesce(sum("cell_tokens").over(baseW), lit(0L)))
      .withColumn("total", sum("cell_tokens").over(totalW))
      .select("rng", "base", "total")
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("rng").orderBy(col("okey"), col("doc_id"))
      .rowsBetween(unbounded, -1)
    sized.join(bases, "rng")
      .withColumn("cum_before",
        col("base") + coalesce(sum("n_tokens").over(localW), lit(0L)))
      .withColumn("n_shards",
        greatest(expr(s"(total + ${TargetShardTokens - 1})" +
          s" DIV $TargetShardTokens"), lit(1L)))
      .withColumn("target",
        greatest(expr("(total + n_shards - 1) DIV n_shards"), lit(1L)))
      .withColumn("shard_id", expr("CAST(cum_before DIV target AS INT)"))
      .select("doc_id", "n_tokens", "okey", "cum_before", "shard_id",
        "n_shards")
  }

  /** Doc-grain packed-export layout: [[exportAssignment]]'s q84 cuts
    * (in the chosen [[ExportOrder]]) with each document's WITHIN-shard
    * token offset (`tok_offset` = `cum_before` − the shard's first
    * `cum_before` — a ≤-shard-count aggregate joined back, never a
    * second corpus pass) and the q48 `seq_id` = `tok_offset DIV`
    * [[PackBudget]] it implies. This is the index a trainer seeks by:
    * byte `4 * tok_offset` of shard `shard_id`'s file is the
    * document's first token id.
    */
  private[graft] def exportLayout(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer = graft.functions.Tokenizer.Whitespace,
      order: ExportOrder = ExportOrder.ByDocId,
      members: Option[DataFrame] = None): DataFrame = {
    // crawl order keeps the original exportAssignment path (shared with
    // q84's manifest — the two cannot drift); other orderings and the
    // membership-filtered (curated) export run the generalized assignment
    val assigned = (order, members) match {
      case (ExportOrder.ByDocId, None) =>
        exportAssignment(spark, dir, PackRangeWidth, tok)
      case _ => exportAssignmentOrdered(spark, dir, order, tok, members)
    }
    val shardBase = assigned.groupBy("shard_id")
      .agg(min("cum_before").as("shard_base"))
    assigned.join(broadcast(shardBase), "shard_id")
      .withColumn("tok_offset", col("cum_before") - col("shard_base"))
      .withColumn("seq_id", floor(col("tok_offset") / PackBudget))
      .select("doc_id", "shard_id", "n_tokens", "tok_offset", "seq_id",
        "n_shards")
  }

  /** Frequency-ranked vocabulary over corpus-wide token counts: id 0 is
    * the most frequent token, ties broken by token ascending — the
    * conventional rank order a real BPE vocab file ships in, assigned
    * here so the packed export is decodable without external state.
    *
    * The global (n DESC, token ASC) rank decomposes two-level like every
    * global order in this library: per-(n, 2-char-band) cell sizes →
    * one exclusive running sum over the CELL table (vocabulary-grain
    * reduced ~band-fold — the q94 "global window only over cells"
    * posture) → a partition-local rank within each cell. Banding by a
    * token PREFIX is what licenses the decomposition: lexicographic
    * order refines prefix order, so cells ordered by (n DESC, band ASC)
    * enumerate tokens in exactly the single-window order (the oracle
    * keeps the single-window `row_number` form as the definition; the
    * hash match proves the equivalence).
    */
  private[graft] def frequencyVocab(counts: DataFrame): DataFrame = {
    val banded = counts.withColumn("band", substring(col("token"), 0, 2))
    val unbounded = org.apache.spark.sql.expressions.Window.unboundedPreceding
    val cellW = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n"), asc("band")).rowsBetween(unbounded, -1)
    val bases = banded.groupBy("n", "band")
      .agg(count(lit(1)).as("cell_n"))
      .withColumn("base", coalesce(sum("cell_n").over(cellW), lit(0L)))
      .select("n", "band", "base")
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("n", "band").orderBy("token")
    banded.join(bases, Seq("n", "band"))
      .withColumn("id",
        (col("base") + row_number().over(localW) - 1).cast("int"))
      .select("token", "n", "id")
  }

  /** Single-window semantic form (the definition the two-level plan must
    * reproduce; the cross-engine hash match proves the equivalence).
    * Integer boundary math throughout — the one double division
    * (`FLOOR(CAST … AS DOUBLE)`) is exact for any realistic token total
    * (quotients are ≥ 1/total away from integers, double rounding error
    * is ~2⁻⁵² — q48 establishes the same argument).
    */
  lazy val q84OracleSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |         COALESCE(len(string_split_regex(text, '\\s+')), 0) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) AS cum_before,
      |         CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
      |  FROM t
      |), s AS (
      |  SELECT doc_id, n_tokens, ns,
      |         CAST(cum_before // GREATEST((total + ns - 1) // ns, 1)
      |           AS INTEGER) AS shard_id
      |  FROM (SELECT *, GREATEST((total + ${TargetShardTokens - 1})
      |          // $TargetShardTokens, 1) AS ns FROM c)
      |)
      |SELECT shard_id, COUNT(*) AS n_docs,
      |       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
      |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
      |       MAX(ns) AS n_shards
      |FROM s GROUP BY shard_id ORDER BY shard_id""".stripMargin

  // ---- q49: PII scrubbing ------------------------------------------------

  // Single-escaped here (plain interpolator would eat the backslashes in
  // a raw string this is spliced into); Spark and DuckDB both read these
  // as standard character-class regexes.
  private[operators] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val UrlRe = "https?://[^\\s]+"
  private[operators] val NumRe = "[0-9]{6,}"

  /** Redact emails, URLs, and 6+-digit runs from a text column (applied
    * in that order — emails and URLs contain digit runs, so they must be
    * replaced before the number pass).
    */
  def scrubbed(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      NumRe, "<NUM>")

  /** q49 — PII scrubbing over the customer dimension (the table in this
    * corpus that actually carries identifier-shaped strings): redacted
    * text plus per-row counts of each redaction class. Every count is
    * taken on the SAME intermediate its replacement pass sees (emails on
    * raw, URLs on the email-scrubbed text, digit runs on the
    * email+URL-scrubbed text), so each count reports exactly the
    * replacements its pass performed — counting every class on the raw
    * text would double-report overlapping matches (a digit run inside a
    * URL counted by both classes).
    * Pure codegen'd regex chain, map-only — no shuffle but the
    * presentation sort. (The email/URL branches are exercised by
    * `CorpusOpsSpec` on crafted rows; this synthetic table only populates
    * the digit-run class.)
    */
  def q49PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val afterEmail = regexp_replace(col("c_name"), EmailRe, "<EMAIL>")
    val afterUrl = regexp_replace(afterEmail, UrlRe, "<URL>")
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        scrubbed(col("c_name")).as("scrubbed"),
        regexp_count(col("c_name"), lit(EmailRe)).as("n_emails"),
        regexp_count(afterEmail, lit(UrlRe)).as("n_urls"),
        regexp_count(afterUrl, lit(NumRe)).as("n_nums"))
      .orderBy("c_custkey")
  }

  lazy val q49OracleSql: String =
    s"""SELECT c_custkey,
      |       regexp_replace(regexp_replace(regexp_replace(c_name,
      |         '$EmailRe', '<EMAIL>', 'g'),
      |         '$UrlRe', '<URL>', 'g'),
      |         '$NumRe', '<NUM>', 'g') AS scrubbed,
      |       len(regexp_extract_all(c_name, '$EmailRe')) AS n_emails,
      |       len(regexp_extract_all(regexp_replace(c_name,
      |         '$EmailRe', '<EMAIL>', 'g'), '$UrlRe')) AS n_urls,
      |       len(regexp_extract_all(regexp_replace(regexp_replace(c_name,
      |         '$EmailRe', '<EMAIL>', 'g'),
      |         '$UrlRe', '<URL>', 'g'), '$NumRe')) AS n_nums
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---- q50: incremental dedup against a prior snapshot --------------------

  /** q50 — incremental dedup: new documents (q42 val/test splits, standing
    * in for "this crawl") deduped against the existing corpus (train
    * split, standing in for "all prior snapshots"). Exact duplicates by
    * content hash; near-duplicates by shared MinHash band bucket verified
    * at signature agreement ≥ 0.5 (q18's estimator); verdict precedence
    * exact > near > new, match_id = the smallest matching corpus doc.
    *
    * Scale shape: this is the shape dedup actually RUNS at 100 TB — the
    * corpus hash/signature tables are materialized artifacts of previous
    * runs (here re-derived, since queries are self-contained), and each
    * incremental batch joins against them instead of re-clustering the
    * world. Corpus-side band buckets over [[Dedup.MaxBucketPop]] are
    * dropped before the join — same hot-bucket bound, same oracle mirror.
    */
  def q50IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("split", Curation.splitOf(col("doc_id")))
    dedupVerdictsAgainst(spark, dir,
      d.filter(col("split") === "train").select("doc_id"),
      d.filter(col("split") =!= "train").select("doc_id"))
      .orderBy("doc_id")
  }

  /** The incremental-dedup verdict core shared by q50 and q81: each
    * `incoming` document checked against the standing `corpus` —
    * exact duplicates by content hash, near-duplicates by shared MinHash
    * band bucket verified at signature agreement ≥ 0.5, verdict
    * precedence exact > near > new, match_id = smallest matching corpus
    * doc. Both sides are ID FRAMES; extra columns on `incoming` (e.g.
    * q81's diff status) pass through to the output.
    *
    * The signature chain is materialized once: read from the band-index
    * artifact when one exists ([[graft.Artifacts]] — the precomputed
    * signature table this op's 100 TB shape describes), else computed
    * inline and checkpointed so it never runs twice in one plan.
    */
  private def dedupVerdictsAgainst(spark: SparkSession, dir: String,
      corpus: DataFrame, incoming: DataFrame): DataFrame = {
    val d = Tables.documents(spark, dir)
    // the exact-dup side runs off the standing digest artifact when one
    // is materialized (serve falls back to hashing the scan)
    val hashes = graft.Artifacts.serve(spark, dir, graft.Artifacts.DocHashesName)
    val banded =
      if (graft.Artifacts.isMaterialized(spark, dir,
          graft.Artifacts.MinhashBandsName))
        graft.Artifacts.serve(spark, dir, graft.Artifacts.MinhashBandsName)
      else graft.Checkpoints.checkpoint(Dedup.bandedSignatures(d))
    dedupVerdictsOf(incoming,
      hashes.join(incoming.select("doc_id"), "doc_id"),
      banded.join(incoming.select("doc_id"), "doc_id"),
      hashes.join(corpus.select("doc_id"), "doc_id"),
      banded.join(corpus.select("doc_id"), "doc_id"))
  }

  /** The verdict JOIN SHAPE under [[dedupVerdictsAgainst]], over
    * caller-supplied side frames: `incomingHashes`/`corpusHashes` are
    * `(doc_id, h)` digests, `incomingBands`/`corpusBands` are
    * `(doc_id, sig, band, bucket)` LSH rows. The corpus bands are
    * hot-bucket capped HERE (the cap is part of the verdict semantics,
    * not of where the bands came from). Factored out so the streaming
    * intake gate (`StreamingOps.nearDupOfBatch`), whose incoming side is
    * an arriving batch rather than rows of the corpus table, shares the
    * one verdict definition with q50/q81 instead of a parallel copy.
    */
  private[graft] def dedupVerdictsOf(incoming: DataFrame,
      incomingHashes: DataFrame, incomingBands: DataFrame,
      corpusHashes: DataFrame, corpusBands: DataFrame): DataFrame = {
    val exact = incomingHashes
      .join(corpusHashes.select(col("h"), col("doc_id").as("corpus_id")), "h")
      .groupBy("doc_id").agg(min("corpus_id").as("exact_match"))

    val capped = Dedup.capBuckets(corpusBands,
      Dedup.MaxBucketPop, "band", "bucket")
    val near = incomingBands
      .join(capped
          .select(col("band"), col("bucket"),
            col("doc_id").as("corpus_id"), col("sig").as("corpus_sig")),
        Seq("band", "bucket"))
      .filter(Dedup.estJaccard(col("sig"), col("corpus_sig")) >= 0.5)
      .groupBy("doc_id").agg(min("corpus_id").as("near_match"))

    incoming
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(incoming.columns.toIndexedSeq.map(col) :+
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("new").as("verdict") :+
        coalesce(col("exact_match"), col("near_match")).as("match_id"): _*)
  }

  lazy val q50OracleSql: String = {
    val eq = Dedup.minhashEqTerms
    s"""WITH ${Dedup.minhashCtes}, split AS (
      |  SELECT doc_id, ${Curation.splitSqlOf("doc_id")} AS split
      |  FROM documents
      |), corpus AS (
      |  SELECT doc_id FROM split WHERE split = 'train'
      |), incoming AS (
      |  SELECT doc_id FROM split WHERE split <> 'train'
      |), hashes AS (
      |  SELECT doc_id, md5(text) AS h FROM documents
      |), exact AS (
      |  SELECT i.doc_id, MIN(ch.doc_id) AS exact_match
      |  FROM incoming i
      |  JOIN hashes ih ON ih.doc_id = i.doc_id
      |  JOIN hashes ch ON ch.h = ih.h
      |  JOIN corpus c ON c.doc_id = ch.doc_id
      |  GROUP BY 1
      |), cbands AS (
      |  SELECT b.* FROM bands b JOIN corpus c ON b.doc_id = c.doc_id
      |), ckept AS (
      |  SELECT * FROM (
      |    SELECT b.*, COUNT(*) OVER (PARTITION BY band, bucket) AS pop
      |    FROM cbands b
      |  ) WHERE pop <= ${Dedup.MaxBucketPop}
      |), near AS (
      |  SELECT ib.doc_id, MIN(cb.doc_id) AS near_match
      |  FROM bands ib
      |  JOIN incoming i ON ib.doc_id = i.doc_id
      |  JOIN ckept cb ON cb.band = ib.band AND cb.bucket = ib.bucket
      |  JOIN sigs sa ON sa.doc_id = ib.doc_id
      |  JOIN sigs sb ON sb.doc_id = cb.doc_id
      |  WHERE ($eq) / 16.0 >= 0.5
      |  GROUP BY 1
      |)
      |SELECT i.doc_id,
      |       CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
      |            WHEN n.near_match IS NOT NULL THEN 'near_dup'
      |            ELSE 'new' END AS verdict,
      |       COALESCE(e.exact_match, n.near_match) AS match_id
      |FROM incoming i
      |LEFT JOIN exact e ON e.doc_id = i.doc_id
      |LEFT JOIN near n ON n.doc_id = i.doc_id
      |ORDER BY i.doc_id""".stripMargin
  }

  // ---- q51: boilerplate n-gram mining ------------------------------------

  /** How many top shingles q51 reports. */
  private val TopNgrams = 100

  /** q51 — boilerplate mining: the [[TopNgrams]] most document-frequent
    * 3-gram shingles corpus-wide (shingles are distinct within a doc, so
    * the count IS document frequency). What you run to build the
    * stop-shingle list that q20's df cap formalizes. One map-side-partial
    * aggregate, then `TakeOrderedAndProject` — no global sort.
    */
  def q51BoilerplateNgrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsFanned(spark, dir)
      .select(explode(shinglesN(Dedup.tokens(col("text")), 3)).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("sh"))
      .limit(TopNgrams)

  lazy val q51OracleSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |), sh AS (
      |  SELECT unnest(list_distinct(${shingleSqlN(3)})) AS sh FROM toks
      |)
      |SELECT sh, COUNT(*) AS df FROM sh
      |GROUP BY sh ORDER BY df DESC, sh LIMIT $TopNgrams""".stripMargin

  // ---- q52: embedding quantization error ---------------------------------

  /** Quantization level count (int8 storage). */
  private val QuantLevels = 256

  /** round(x, 9) through decimal — q52's MSE values sit at 1e-7 scale,
    * where [[graft.functions.VectorOps.round6]] would collapse them to 0.
    */
  private def round9(c: Column): Column =
    round(c.cast(org.apache.spark.sql.types.DecimalType(30, 15)), 9)
      .cast("double")

  private def round9Sql(expr: String): String =
    s"CAST(ROUND(CAST($expr AS DECIMAL(30,15)), 9) AS DOUBLE)"

  /** q52 — per-vector scalar-quantization audit: the [min, max] range,
    * and the mean squared reconstruction error of [[QuantLevels]]-level
    * (int8) quantization via the native codegen'd
    * [[graft.functions.QuantizeError]] kernel. The decision table a
    * pipeline produces before switching embedding storage to int8 —
    * one map-only scan, no shuffle but the presentation sort.
    */
  def q52QuantizeAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.round6
    val mse = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.QuantizeError(
        org.apache.spark.sql.GraftSqlBridge.expression(col("embedding")),
        QuantLevels))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        round6(array_min(col("embedding")).cast("double")).as("vmin"),
        round6(array_max(col("embedding")).cast("double")).as("vmax"),
        round9(mse).as("mse_q8"))
      .orderBy("vec_id")
  }

  lazy val q52OracleSql: String = {
    // min/max over the float list, widened exactly like the kernel; the
    // reconstruction expression is written out twice because a lambda
    // cannot bind an intermediate
    val recon = "(vmin + floor((x - vmin) / scale + 0.5) * scale)"
    s"""WITH ranged AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |         CAST(list_min(embedding) AS DOUBLE) AS vmin,
      |         CAST(list_max(embedding) AS DOUBLE) AS vmax
      |  FROM embeddings
      |), scaled AS (
      |  SELECT vec_id, e, vmin, vmax,
      |         (vmax - vmin) / ${QuantLevels - 1} AS scale
      |  FROM ranged
      |)
      |SELECT vec_id,
      |       ${graft.functions.VectorOps.round6Sql("vmin")} AS vmin,
      |       ${graft.functions.VectorOps.round6Sql("vmax")} AS vmax,
      |       ${round9Sql(
             // COALESCE: for an empty/all-null vector list_min is NULL and
             // the CASE would yield NULL, where the kernel returns 0.0.
             // Denominator counts NON-NULL elements — the kernel skips
             // null slots, so dividing by len(e) would under-report MSE
             // on vectors containing nulls.
             s"""COALESCE(CASE WHEN vmax = vmin THEN 0.0
      |            ELSE list_sum(list_transform(e,
      |                   x -> (x - $recon) * (x - $recon)))
      |                 / len(list_filter(e, x -> x IS NOT NULL)) END, 0.0)""")} AS mse_q8
      |FROM scaled ORDER BY vec_id""".stripMargin
  }

  // ---- q53: domain mixture weights ---------------------------------------

  /** q53 — mixture rebalancing: per (lang, source) stratum, document and
    * token mass, the stratum's share of the corpus, and the sampling
    * weight that flattens the mix toward uniform across strata
    * (`min(1, target_share / doc_share)` — over-represented strata are
    * downsampled, under-represented ones kept whole). The knob a
    * pretraining run turns to set its domain mixture.
    *
    * Scale shape: one map-side-partial aggregate to stratum grain
    * (thousands of rows at most), then totals join back via broadcast —
    * no global window over the corpus.
    */
  def q53MixtureWeights(spark: SparkSession, dir: String): DataFrame =
    mixtureWeights(spark, dir, graft.functions.Tokenizer.Whitespace)

  /** q53 under a pluggable [[graft.functions.Tokenizer]] — stratum token
    * mass follows the seam; weights are doc-count-based and unchanged.
    */
  def mixtureWeights(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame = {
    import graft.functions.VectorOps.round6
    val strata = stratumTokenMass(spark, dir, tok)
    // corpus totals as unpartitioned window aggregates over the
    // stratum-grain frame (bounded: |lang×source|) instead of a separate
    // agg + broadcast join: the scalar then rides the same stage as the
    // strata rows, where the agg+crossJoin form costs an extra aggregate
    // job, a broadcast build, and two AQE replanning rounds per scalar —
    // measured as the dominant wall cost of the mixture family (tiny
    // task times, ~30-60 ms of driver latency per extra stage)
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    strata
      .withColumn("total_docs", sum("n_docs").over(w))
      .withColumn("n_strata", count(lit(1)).over(w))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        round6(col("n_docs").cast("double") / col("total_docs")).as("doc_share"),
        round6(least(lit(1.0),
          (lit(1.0) / col("n_strata")) /
            (col("n_docs").cast("double") / col("total_docs")))).as("weight"))
      .orderBy("lang", "source")
  }

  /** The (lang, source)-stratum doc and token census behind q53 and q89
    * — one definition so the two mixture operators cannot drift. Artifact
    * mode scans only (doc_id, lang, source); token mass joins in from the
    * standing counts at doc grain, then aggregates away.
    */
  private def stratumTokenMass(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame = {
    val docTokens = graft.Artifacts.current(spark, dir,
        graft.Artifacts.tokenCountsName(tok)) match {
      case Some(tc) => Tables.documents(spark, dir)
        .select("doc_id", "lang", "source")
        .join(tc, "doc_id")
      case None => Tables.documents(spark, dir)
        .select(col("lang"), col("source"),
          tok.count(col("text")).as("n_tokens"))
    }
    docTokens
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"))
  }

  /** Shared CTE block (`strata`, `totals`) + the weight expression, used
    * verbatim by [[q53OracleSql]] and [[q56OracleSql]] so the two cannot
    * drift (no text surgery on one another's SQL).
    */
  private lazy val mixtureCtes: String =
    s"""strata AS (
      |  SELECT lang, source, COUNT(*) AS n_docs,
      |         CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1, 2
      |), totals AS (
      |  SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
      |         COUNT(*) AS n_strata
      |  FROM strata
      |)""".stripMargin

  private lazy val mixtureWeightSql: String =
    graft.functions.VectorOps.round6Sql(
      """LEAST(1.0, (1.0 / n_strata) /
      |         (CAST(n_docs AS DOUBLE) / total_docs))""".stripMargin)

  lazy val q53OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    s"""WITH $mixtureCtes
      |SELECT lang, source, n_docs, n_tokens,
      |       ${round6Sql("CAST(n_docs AS DOUBLE) / total_docs")} AS doc_share,
      |       $mixtureWeightSql AS weight
      |FROM strata, totals ORDER BY lang, source""".stripMargin
  }

  // ---- q89: temperature-scaled mixture -----------------------------------

  /** q89 — temperature-scaled source mixture: sampling weights
    * w_i ∝ p_i^α over the (lang, source) strata, where p_i is the
    * stratum's TOKEN share and α = 1/2 — the multilingual-pretraining
    * standard (the α-temperature multinomial of the XLM-R /
    * mC4 lineage). α < 1 flattens the mixture smoothly: head strata are
    * down-sampled, tail strata up-sampled, but — unlike q53's hard
    * uniform-floor weights — the ordering is preserved and nothing is
    * clipped, so the knob trades head dominance against tail repetition
    * continuously. `boost` = w_i / p_i is the realized per-stratum
    * up/down-sampling factor (what a q56-style applier would multiply
    * by).
    *
    * α is fixed at 1/2 so the power is `sqrt` — IEEE-correctly-rounded
    * in both engines, where a general `pow(x, α)` is only ever
    * libm-identical by luck (the same reproducibility posture as the
    * q86 integer-log rarity); other temperatures need a pow-parity seam,
    * not a constant edit. Everything before the final round6 is either
    * exact integer mass, a single exact division, or sqrt; the one
    * order-sensitive float reduction (Σ√p over strata) runs over a
    * stratum-count-sized frame, keeping accumulated error orders of
    * magnitude under the round6 grain.
    *
    * Scale shape: q53's — map-side partial agg to stratum grain
    * (thousands of rows at most), two broadcast scalar joins, no global
    * window and no second corpus pass; artifact mode retires the
    * tokenizing scan entirely.
    */
  def q89TemperatureMixture(spark: SparkSession, dir: String): DataFrame =
    temperatureMixture(spark, dir, graft.functions.Tokenizer.Whitespace)

  /** The α=1/2 temperature scaling frame shared by [[temperatureMixture]]
    * and [[repetitionPlan]] — ONE derivation of (stratum census,
    * total_tokens, token_share, s=√share, z=Σs), so q108's claimed
    * weight identity with q89 holds by construction, not by parallel
    * implementation. Columns: `lang, source, n_tokens, total_tokens,
    * token_share, s, z` (unrounded — consumers round at output).
    */
  private def temperatureScaled(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame = {
    val strata = stratumTokenMass(spark, dir, tok)
    // both corpus scalars (total mass, Σ√share) as unpartitioned window
    // aggregates over the bounded stratum frame — one stage instead of
    // two aggregate jobs + two broadcast builds (see mixtureWeights)
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    strata
      .withColumn("total_tokens", sum("n_tokens").over(w))
      .withColumn("token_share",
        col("n_tokens").cast("double") / col("total_tokens"))
      .withColumn("s", sqrt(col("token_share")))
      .withColumn("z", sum("s").over(w))
  }

  /** q89 under a pluggable [[graft.functions.Tokenizer]]. */
  def temperatureMixture(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame = {
    import graft.functions.VectorOps.round6
    temperatureScaled(spark, dir, tok)
      .select(col("lang"), col("source"), col("n_tokens"),
        round6(col("token_share")).as("token_share"),
        round6(col("s") / col("z")).as("temp_weight"),
        // a zeroTokenCapable tokenizer can yield a 0-token stratum:
        // 0.0/0.0 is NaN under Java double division, so the undefined
        // up-sampling factor is an explicit NULL instead (weight 0 is
        // still correct — the stratum contributes nothing)
        when(col("token_share") > 0,
          round6((col("s") / col("z")) / col("token_share"))).as("boost"))
      .orderBy("lang", "source")
  }

  /** Reuses [[mixtureCtes]]' strata census; share, sqrt, and the two
    * normalized ratios mirror the plan expression-for-expression.
    */
  lazy val q89OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    s"""WITH $mixtureCtes, tot AS (
      |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM strata
      |), scaled AS (
      |  SELECT lang, source, n_tokens,
      |         CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
      |         sqrt(CAST(n_tokens AS DOUBLE) / total_tokens) AS s
      |  FROM strata, tot
      |), z AS (
      |  SELECT SUM(s) AS z FROM scaled
      |)
      |SELECT lang, source, n_tokens,
      |       ${round6Sql("token_share")} AS token_share,
      |       ${round6Sql("s / z")} AS temp_weight,
      |       CASE WHEN token_share > 0
      |            THEN ${round6Sql("(s / z) / token_share")} END AS boost
      |FROM scaled, z ORDER BY lang, source""".stripMargin
  }

  // ---- q97: epoch-annealed mixture schedule ------------------------------

  /** Epoch count for the q97 anneal ramp (epochs 0 .. AnnealEpochs−1). */
  private val AnnealEpochs = 4

  /** q97 — the mixture SCHEDULE a multi-epoch run trains on: per
    * (epoch, stratum) sampling weight interpolating linearly from q53's
    * uniform-flattening weights (epoch 0 — maximum source diversity
    * early, when the model is learning basics from everything) to q89's
    * temperature-scaled weights (final epoch — the published
    * natural-mass-biased blend for the polish phase). Annealing the
    * mixture across epochs instead of picking one static blend is a
    * standard curriculum lever; this emits the whole schedule as data so
    * the per-epoch sampler (q56 with the epoch's column) stays a pure
    * function of the row.
    *
    * Scale shape: both weight frames are stratum-grain aggregates; the
    * epoch axis is a broadcast 4-row range. Nothing here touches the
    * corpus beyond the one stratum census the two mixtures already
    * share.
    */
  def q97AnnealSchedule(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.round6
    val uni = q53MixtureWeights(spark, dir).select("lang", "source", "weight")
    val temp = q89TemperatureMixture(spark, dir)
      .select("lang", "source", "temp_weight")
    val epochs = spark.range(AnnealEpochs)
      .select(col("id").cast("int").as("epoch"))
    val t = col("epoch").cast("double") / lit((AnnealEpochs - 1).toDouble)
    uni.join(temp, Seq("lang", "source"))
      .crossJoin(broadcast(epochs))
      .select(col("lang"), col("source"), col("epoch"),
        round6((lit(1.0) - t) * col("weight") + t * col("temp_weight"))
          .as("anneal_weight"))
      .orderBy("epoch", "lang", "source")
  }

  /** The two mixture oracles verbatim, interpolated with the same ramp
    * arithmetic over the same literal epoch range.
    */
  lazy val q97OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    val ramp = s"CAST(epoch AS DOUBLE) / ${AnnealEpochs - 1}.0"
    s"""WITH uni AS (
      |  SELECT lang, source, weight FROM (
      |$q53OracleSql
      |  )
      |), temp AS (
      |  SELECT lang, source, temp_weight FROM (
      |$q89OracleSql
      |  )
      |), ep AS (
      |  SELECT CAST(unnest(generate_series(0, ${AnnealEpochs - 1})) AS INTEGER)
      |    AS epoch
      |)
      |SELECT u.lang, u.source, ep.epoch,
      |       ${round6Sql(
               s"(1.0 - $ramp) * u.weight + ($ramp) * t.temp_weight")}
      |         AS anneal_weight
      |FROM uni u JOIN temp t USING (lang, source) CROSS JOIN ep
      |ORDER BY ep.epoch, u.lang, u.source""".stripMargin
  }

  // ---- q155: the anneal schedule APPLIED — per-epoch sample plan ----------

  /** q155 — the realized training mix per epoch: q97's annealed weights
    * pushed through q56's deterministic sampler with an EPOCH-SALTED
    * hash (`doc_id || '#mix' || epoch`), rolled up to (epoch, lang,
    * source) grain — docs kept, token mass kept, and each stratum's
    * share of its epoch's token bill. q97 publishes the *designed*
    * schedule; this is what the sampler actually DRAWS under it — the
    * table a training run's data loader manifests from, and the check
    * that the realized shares track the designed anneal (they differ by
    * sampling quantization, which is exactly what the report shows).
    * The epoch salt matters: each epoch must be an independent draw
    * (the point of multi-epoch sampling is seeing DIFFERENT subsets of
    * the down-weighted strata), and a shared salt would re-draw the
    * same documents every epoch; a weight ≥ 1 keeps the whole stratum
    * (the q56 rule verbatim — the hash test is vacuous above 1).
    *
    * Scale shape: one documents pass ((doc_id, lang, source) columns
    * only — in artifact mode the token mass joins in from standing
    * counts and text is never read), broadcast-joined to the
    * stratum × epoch weight table (a few-hundred-row broadcast), the
    * epoch fan-out is map-side, and the rollup is a map-side-partial
    * aggregate to (epoch, stratum) grain; per-epoch totals are a
    * broadcast of an epoch-grain aggregate. Growth-stable and
    * RNG-free like q42/q56: a doc's per-epoch fate never changes when
    * the corpus around it grows.
    */
  def q155EpochSamplePlan(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.round6
    val tok = graft.functions.Tokenizer.Whitespace
    val docTokens = graft.Artifacts.current(spark, dir,
        graft.Artifacts.tokenCountsName(tok)) match {
      case Some(tc) => Tables.documents(spark, dir)
        .select("doc_id", "lang", "source")
        .join(tc, "doc_id")
      case None => Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          tok.count(col("text")).as("n_tokens"))
    }
    val anneal = q97AnnealSchedule(spark, dir)
      .select("lang", "source", "epoch", "anneal_weight")
    val hash = pmod(org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.GraftSqlBridge.expression(
          concat(col("doc_id").cast("string"), lit("#mix"),
            col("epoch").cast("string"))))),
      lit(MixResolution))
    val kept = docTokens
      .join(broadcast(anneal), Seq("lang", "source"))
      .withColumn("__h", hash)
      .filter(col("__h") < col("anneal_weight") * MixResolution)
      .groupBy("epoch", "lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"))
    // per-epoch totals as a window over the already-aggregated
    // (epoch, stratum) frame — the broadcast-join form re-aggregated the
    // kept frame a second time and paid a broadcast build for a
    // |epochs|-row table
    val keptTot = kept.withColumn("epoch_tokens",
      sum("n_tokens").over(
        org.apache.spark.sql.expressions.Window.partitionBy("epoch")))
    keptTot
      .select(col("epoch"), col("lang"), col("source"),
        col("n_docs"), col("n_tokens"),
        round6(col("n_tokens").cast("double")
          / nullif(col("epoch_tokens"), lit(0L))).as("token_share"))
      // nulls-last pinned on both engines: Spark defaults ASC NULLS
      // FIRST, DuckDB NULLS LAST — latent row-order divergence if a
      // lang/source is ever null (the q120 ordering discipline)
      .orderBy(col("epoch"), col("lang").asc_nulls_last,
        col("source").asc_nulls_last)
  }

  /** q97's oracle verbatim as the weight table, q56's hash-keep rule
    * under the epoch salt, the same two rollups.
    */
  lazy val q155OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    val ph = graft.functions.PolyHash.sql(
      "CAST(d.doc_id AS VARCHAR) || '#mix' || CAST(a.epoch AS VARCHAR)")
    s"""WITH anneal AS (
      |  SELECT * FROM (
      |$q97OracleSql
      |  )
      |), kept AS (
      |  SELECT a.epoch, d.lang, d.source, COUNT(*) AS n_docs,
      |         CAST(SUM(len(string_split_regex(d.text, '\\s+'))) AS BIGINT)
      |           AS n_tokens
      |  FROM documents d
      |  JOIN anneal a ON d.lang = a.lang AND d.source = a.source
      |  WHERE $ph % $MixResolution < a.anneal_weight * $MixResolution
      |  GROUP BY 1, 2, 3
      |), tot AS (
      |  SELECT epoch, CAST(SUM(n_tokens) AS BIGINT) AS epoch_tokens
      |  FROM kept GROUP BY epoch
      |)
      |SELECT k.epoch, k.lang, k.source, k.n_docs, k.n_tokens,
      |       ${round6Sql(
               "CAST(k.n_tokens AS DOUBLE) / nullif(t.epoch_tokens, 0)")}
      |         AS token_share
      |FROM kept k JOIN tot t USING (epoch)
      |ORDER BY k.epoch, k.lang ASC NULLS LAST,
      |         k.source ASC NULLS LAST""".stripMargin
  }

  // ---- q98: packing efficiency audit -------------------------------------

  /** q98 — packing efficiency per shard: the writer QA over q48's
    * sequence layout. Reports, per shard, the document and token mass,
    * the number of [[PackBudget]]-token sequences that mass fills
    * (`ceil(tokens/budget)`), the padding the final partial sequence
    * wastes, the fill ratio, and how many documents a sequence boundary
    * CUTS (`split_docs` — a doc whose span crosses its sequence's end
    * trains with a truncated context; the fraction is the quality cost
    * of concat-then-chunk at this budget). The numbers that pick a
    * budget: fill ratio rises and split fraction falls as budget grows.
    *
    * Scale shape: one pass over q48's doc-grain output (which itself
    * runs off standing token counts in artifact mode) into a map-side
    * partial aggregate at shard grain — 8 output rows.
    */
  def q98PackEfficiency(spark: SparkSession, dir: String): DataFrame =
    q48SequencePack(spark, dir)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        count(when(col("tok_offset") + col("n_tokens") >
          (col("seq_id") + 1) * PackBudget, lit(1))).as("split_docs"))
      .withColumn("n_seqs",
        expr(s"(n_tokens + ${PackBudget - 1}) DIV $PackBudget"))
      .withColumn("pad_tokens", col("n_seqs") * PackBudget - col("n_tokens"))
      .withColumn("fill_ratio", graft.functions.VectorOps.round6(
        col("n_tokens").cast("double") /
          nullif(col("n_seqs") * PackBudget, lit(0L))))
      .select("shard", "n_docs", "n_tokens", "n_seqs", "pad_tokens",
        "split_docs", "fill_ratio")
      .orderBy("shard")

  /** q48's oracle verbatim, rolled up with the same ceil/pad/split
    * arithmetic.
    */
  lazy val q98OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    s"""WITH packed AS (
      |  SELECT * FROM (
      |$q48OracleSql
      |  )
      |), agg AS (
      |  SELECT shard, COUNT(*) AS n_docs,
      |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |         COUNT(CASE WHEN tok_offset + n_tokens >
      |           (seq_id + 1) * $PackBudget THEN 1 END) AS split_docs
      |  FROM packed GROUP BY shard
      |)
      |SELECT shard, n_docs, n_tokens,
      |       (n_tokens + ${PackBudget - 1}) // $PackBudget AS n_seqs,
      |       ((n_tokens + ${PackBudget - 1}) // $PackBudget) * $PackBudget
      |         - n_tokens AS pad_tokens,
      |       split_docs,
      |       ${round6Sql(
               s"CAST(n_tokens AS DOUBLE) / nullif(((n_tokens + " +
               s"${PackBudget - 1}) // $PackBudget) * $PackBudget, 0)")}
      |         AS fill_ratio
      |FROM agg ORDER BY shard""".stripMargin
  }

  // ---- q144: pack-budget sweep --------------------------------------------

  /** Context budgets swept by [[q144PackBudgetSweep]]. */
  private[graft] val BudgetSweep: Seq[Int] = Seq(128, 256, 512, 1024, 2048)

  /** q144 — the pack-budget curve, q98's audit swept across context
    * lengths: q48's concatenation offsets are budget-INDEPENDENT (the
    * layout concatenates in (shard, doc_id) order regardless of where
    * the chunk boundaries fall), so ONE packing pass prices every
    * budget — per budget, the corpus-level sequence count
    * (Σ per-shard ceil), padding waste, fill ratio, boundary-cut
    * documents, and the cut fraction. The tension the table prices:
    * a bigger budget cuts fewer documents mid-context but wastes more
    * padding in each shard's final sequence (and must suit the
    * training engine's preferred sequence length) — q98 pins the
    * shipped point ([[PackBudget]]), this is the table it came from
    * (the q141/q143 calibration discipline applied to the writer).
    *
    * Scale shape: the doc-grain source is q48's offset table (standing
    * token counts in artifact mode); the sweep is a map-side explode of
    * |[[BudgetSweep]]| small ints per doc into ONE partial aggregate at
    * budget grain, plus a shard-grain rollup (16 rows) fanned the same
    * way. Integer arithmetic end to end; the two reported ratios are
    * single divisions of exact longs.
    */
  def q144PackBudgetSweep(spark: SparkSession, dir: String): DataFrame = {
    val packed = graft.Checkpoints.checkpoint(
      q48SequencePack(spark, dir)
        .select(col("shard"), col("n_tokens"), col("tok_offset")))
    val budgets = explode(array(BudgetSweep.map(lit): _*)).as("budget")

    val docStats = packed.select(col("n_tokens"), col("tok_offset"), budgets)
      .groupBy("budget")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("tok_offset") + col("n_tokens") >
          (expr("tok_offset DIV budget") + 1) * col("budget"), 1L)
          .otherwise(0L)).as("split_docs"))
    val shardStats = packed.groupBy("shard")
      .agg(sum("n_tokens").as("shard_tokens"))
      .select(col("shard_tokens"), budgets)
      .groupBy("budget")
      .agg(sum(expr(s"(shard_tokens + budget - 1) DIV budget")).as("n_seqs"),
        sum("shard_tokens").as("n_tokens"))
    docStats.join(shardStats, "budget")
      .select(col("budget"), col("n_docs"), col("n_tokens"), col("n_seqs"),
        (col("n_seqs") * col("budget") - col("n_tokens")).as("pad_tokens"),
        graft.functions.VectorOps.round6(col("n_tokens").cast("double") /
          nullif(col("n_seqs") * col("budget"), lit(0L))).as("fill_ratio"),
        col("split_docs"),
        graft.functions.VectorOps.round6(col("split_docs").cast("double") /
          nullif(col("n_docs"), lit(0L))).as("split_frac"))
      .orderBy("budget")
  }

  /** q48's oracle verbatim, fanned across the same budget list with the
    * same ceil/pad/cut arithmetic.
    */
  lazy val q144OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    val budgetList = BudgetSweep.mkString(", ")
    s"""WITH packed AS (
      |  SELECT * FROM (
      |$q48OracleSql
      |  )
      |), b AS (
      |  SELECT unnest([$budgetList]) AS budget
      |), doc_stats AS (
      |  SELECT b.budget, COUNT(*) AS n_docs,
      |         CAST(COALESCE(SUM(CASE WHEN p.tok_offset + p.n_tokens >
      |           ((p.tok_offset // b.budget) + 1) * b.budget
      |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS split_docs
      |  FROM packed p CROSS JOIN b GROUP BY b.budget
      |), shard_tot AS (
      |  SELECT shard, CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
      |  FROM packed GROUP BY shard
      |), shard_stats AS (
      |  SELECT b.budget,
      |         CAST(SUM((s.shard_tokens + b.budget - 1) // b.budget)
      |           AS BIGINT) AS n_seqs,
      |         CAST(SUM(s.shard_tokens) AS BIGINT) AS n_tokens
      |  FROM shard_tot s CROSS JOIN b GROUP BY b.budget
      |)
      |SELECT d.budget, d.n_docs, s.n_tokens, s.n_seqs,
      |       s.n_seqs * d.budget - s.n_tokens AS pad_tokens,
      |       ${round6Sql(
               "CAST(s.n_tokens AS DOUBLE) / " +
               "nullif(s.n_seqs * d.budget, 0)")} AS fill_ratio,
      |       d.split_docs,
      |       ${round6Sql(
               "CAST(d.split_docs AS DOUBLE) / nullif(d.n_docs, 0)")}
      |         AS split_frac
      |FROM doc_stats d JOIN shard_stats s ON d.budget = s.budget
      |ORDER BY d.budget""".stripMargin
  }

  /** Resolution of the q56 sampling hash (hash is uniform on [0, 10⁶)). */
  private val MixResolution = 1000000L

  /** q56 — mixture application: the deterministic downsample that
    * realizes q53's weights. A document is kept iff
    * `hash(doc_id ⊕ salt) / 10⁶ < weight(stratum)` — a pure function of
    * the row (reproducible, growth-stable, and independent of the q42
    * split hash thanks to the salt), so the kept corpus per stratum
    * converges to `weight × n_docs` without RNG. Broadcast of the tiny
    * stratum-weight table; map-only over the corpus scan.
    */
  def q56MixtureApply(spark: SparkSession, dir: String): DataFrame = {
    val weights = q53MixtureWeights(spark, dir)
      .select("lang", "source", "weight")
    val hash = pmod(org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.GraftSqlBridge.expression(
          concat(col("doc_id").cast("string"), lit("#mix"))))),
      lit(MixResolution))
    Tables.documents(spark, dir)
      .join(broadcast(weights), Seq("lang", "source"))
      .withColumn("__h", hash)
      .filter(col("__h") < col("weight") * MixResolution)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  lazy val q56OracleSql: String = {
    val ph = graft.functions.PolyHash.sql("CAST(d.doc_id AS VARCHAR) || '#mix'")
    s"""WITH $mixtureCtes, w AS (
      |  SELECT lang, source, $mixtureWeightSql AS weight
      |  FROM strata, totals
      |)
      |SELECT d.doc_id, d.lang, d.source
      |FROM documents d JOIN w ON d.lang = w.lang AND d.source = w.source
      |WHERE $ph % $MixResolution < w.weight * $MixResolution
      |ORDER BY d.doc_id""".stripMargin
  }

  /** q57 — corpus length profile: exact P50/P90/P99 of the per-document
    * token count, per source, with the t-digest sketch estimate beside
    * the exact P90 as a bounded check (the q36 stance for percentiles:
    * the sketch is the 100 TB default — exact percentile sorts every
    * group's values through one reducer — and the exact column is the
    * opt-in that the oracle can hash). Spark's `percentile` and DuckDB's
    * `quantile_cont` both linear-interpolate, so the exact columns match
    * bit-for-bit through the decimal parity round.
    */
  def q57LengthQuantiles(spark: SparkSession, dir: String): DataFrame =
    lengthQuantiles(spark, dir, graft.functions.Tokenizer.Whitespace)

  /** q57 under a pluggable [[graft.functions.Tokenizer]] — the length
    * distribution of whatever the seam counts.
    */
  def lengthQuantiles(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame = {
    import graft.functions.VectorOps.round6
    val sized = graft.Artifacts.current(spark, dir,
        graft.Artifacts.tokenCountsName(tok)) match {
      case Some(tc) => Tables.documents(spark, dir)
        .select("doc_id", "source")
        .join(tc, "doc_id")
        .select(col("source"), col("n_tokens").cast("double").as("n_tokens"))
      case None => Tables.documents(spark, dir)
        .select(col("source"),
          tok.count(col("text")).cast("double").as("n_tokens"))
    }
    sized
      .groupBy("source")
      .agg(
        round6(expr("percentile(n_tokens, 0.5)")).as("p50"),
        round6(expr("percentile(n_tokens, 0.9)")).as("p90"),
        round6(expr("percentile(n_tokens, 0.99)")).as("p99"),
        percentile_approx(col("n_tokens"), lit(0.9), lit(10000)).as("p90_approx"))
      .select(col("source"), col("p50"), col("p90"), col("p99"),
        // coalesce: a source whose documents all have NULL text has NULL
        // percentiles, so the comparison is NULL where the oracle's
        // hard-coded TRUE expects a value — vacuously true, like the
        // oracle, on degenerate sources
        coalesce(abs(col("p90_approx") - col("p90")) <= col("p90") * 0.1 + 1.0,
          lit(true)).as("approx_within_10pct"))
      .orderBy("source")
  }

  lazy val q57OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    def q(f: String) =
      round6Sql(s"quantile_cont(CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE), $f)")
    s"""SELECT source,
      |       ${q("0.5")} AS p50,
      |       ${q("0.9")} AS p90,
      |       ${q("0.99")} AS p99,
      |       TRUE AS approx_within_10pct
      |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  /** q58 — corpus integrity audit: the referential report a pipeline
    * runs on a delivered corpus before anything else. One row per check:
    * documents without an embedding, embeddings without a document,
    * duplicate ids on either side, and null-text documents. Anti-joins
    * and key-grouped counts — every check is one shuffle on the id, and
    * the id sides are each aggregated to key grain before comparison.
    */
  def q58IntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val e = Tables.embeddings(spark, dir)
    val docIds = d.select(col("doc_id").as("id"))
    val vecIds = e.select(col("vec_id").as("id"))
    // each check is a global aggregate — exactly one row even on empty
    // input, so a plain select attaches the label
    def one(check: String, cnt: DataFrame): DataFrame =
      cnt.select(lit(check).as("check"), col("n").as("violations"))
    val checks = Seq(
      one("docs_without_embedding",
        docIds.join(vecIds, Seq("id"), "left_anti")
          .agg(count(lit(1)).as("n"))),
      one("embeddings_without_doc",
        vecIds.join(docIds, Seq("id"), "left_anti")
          .agg(count(lit(1)).as("n"))),
      one("duplicate_doc_ids",
        docIds.groupBy("id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).agg(count(lit(1)).as("n"))),
      one("duplicate_vec_ids",
        vecIds.groupBy("id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).agg(count(lit(1)).as("n"))),
      one("null_text_docs",
        d.filter(col("text").isNull).agg(count(lit(1)).as("n"))))
    checks.reduce(_.unionByName(_)).orderBy("check")
  }

  lazy val q58OracleSql: String =
    s"""SELECT 'docs_without_embedding' AS check, COUNT(*) AS violations
      |FROM documents d WHERE NOT EXISTS
      |  (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
      |UNION ALL
      |SELECT 'embeddings_without_doc', COUNT(*)
      |FROM embeddings e WHERE NOT EXISTS
      |  (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)
      |UNION ALL
      |SELECT 'duplicate_doc_ids', COUNT(*) FROM
      |  (SELECT doc_id FROM documents GROUP BY 1 HAVING COUNT(*) > 1)
      |UNION ALL
      |SELECT 'duplicate_vec_ids', COUNT(*) FROM
      |  (SELECT vec_id FROM embeddings GROUP BY 1 HAVING COUNT(*) > 1)
      |UNION ALL
      |SELECT 'null_text_docs', COUNT(*) FROM documents WHERE text IS NULL
      |ORDER BY 1""".stripMargin

  // ---- q54: duplicated-span fraction -------------------------------------

  /** Span width for duplication analysis: a shared run of this many
    * contiguous tokens is treated as duplicated text (the exact-substring
    * dedup granularity of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", scaled to this corpus's ~54-token docs).
    */
  private val SpanN = 10

  /** The duplicated-span dictionary behind q54/q59/q67: every [[SpanN]]-
    * gram span occurring in ≥ 2 distinct documents. This is the third
    * materialized corpus artifact ([[graft.Artifacts]]): exact-substring
    * work at scale builds the duplicate table ONCE per snapshot (Lee et
    * al.'s shape) and every diagnose/strip/rollup pass joins against it.
    * Consumers read it through `Artifacts.serve`; this fanned form is the
    * independent reference the artifact specs compare against.
    */
  private[graft] def dupSpanSet(spark: SparkSession, dir: String): DataFrame =
    dupSpansFromCounts(spanCounts(Tables.documentsFanned(spark, dir)))

  /** Distinct-document frequency of every [[SpanN]]-gram span —
    * `(sh, ndocs)`. The `span_counts` corpus artifact
    * ([[graft.Artifacts]]): [[dupSpanSet]] is its `ndocs >= 2` slice,
    * and keeping the counts (not just the ≥ 2 survivors) is what makes
    * the dictionary maintainable from a snapshot diff — add/remove
    * deltas adjust `ndocs`, where the filtered set alone could never
    * decrement.
    */
  private[graft] def spanCounts(docs: DataFrame): DataFrame =
    spanRows(docs).groupBy("sh").agg(count(lit(1)).as("ndocs"))

  /** Distinct `(doc_id, sh)` span membership rows — the unit the
    * incremental span-count deltas add and subtract.
    */
  private[graft] def spanRows(docs: DataFrame): DataFrame = {
    val allSh = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NgramShinglesAll(
        org.apache.spark.sql.GraftSqlBridge.expression(
          Dedup.tokens(col("text"))), SpanN))
    docs.select(col("doc_id"), explode(allSh).as("sh"))
      .distinct()
  }

  /** The duplicated-span dictionary derived from a [[spanCounts]] frame. */
  private[graft] def dupSpansFromCounts(counts: DataFrame): DataFrame =
    counts.filter(col("ndocs") >= 2).select("sh")

  /** q54 — per-document duplicated-text fraction: the share of a doc's
    * [[SpanN]]-gram spans that occur in at least one OTHER document. The
    * doc-level diagnostic behind exact-substring dedup — "how much of
    * this page is corpus boilerplate" — and the natural follow-up to
    * q51's corpus-level mining. Uses the positional shingle kernel
    * ([[graft.functions.NgramShinglesAll]]): repeated spans inside one
    * doc count once per occurrence, but only CROSS-document repetition
    * (distinct-doc frequency ≥ 2) marks a span duplicated.
    *
    * Scale shape: inverted index + doc-frequency aggregate + one
    * re-join — the q20 chain without its self-join, so strictly cheaper
    * than the dedup pass that already runs; no unbounded fan-out
    * anywhere (the df aggregate reduces before the join).
    */
  def q54DupSpans(spark: SparkSession, dir: String): DataFrame = {
    val allSh = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NgramShinglesAll(
        org.apache.spark.sql.GraftSqlBridge.expression(
          Dedup.tokens(col("text"))), SpanN))
    val d = Tables.documentsFanned(spark, dir)
    val idx = d.select(col("doc_id"), explode(allSh).as("sh"))
    val dup = idx.join(graft.Artifacts.serve(spark, dir,
      graft.Artifacts.DupSpansName), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
    val totals = d.select(col("doc_id"),
      greatest(size(Dedup.tokens(col("text"))) - (SpanN - 1), lit(0))
        .cast("long").as("n_spans"))
    totals.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        graft.functions.VectorOps.round6(
          when(col("n_spans") > 0,
            coalesce(col("n_dup_spans"), lit(0L)).cast("double") / col("n_spans"))
            .otherwise(0.0)).as("dup_fraction"))
      .orderBy("doc_id")
  }

  /** q59 — exact-substring STRIP: q54 diagnoses cross-document
    * duplicated spans; this removes them (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" — the exact-substring
    * side of that paper, where near-dup dedup keeps one COPY but only
    * span removal deletes the boilerplate every page carries). A token
    * is removed iff some [[SpanN]]-gram starting in its window occurs in
    * ≥ 2 distinct documents; overlapping spans are unioned per doc
    * (q55's index-set machinery, generalized from eval-contamination to
    * corpus-internal duplication). Output carries the stripped text
    * itself (tokenized-rejoined, so whitespace-normalized) — the
    * downstream corpus a pipeline actually writes.
    *
    * Scale shape: q54's inverted-index + df-aggregate chain (no
    * self-join, no unbounded fan-out) plus one map-side re-join of the
    * per-doc span sets; the HOF union runs only over docs that HAVE
    * duplicated spans, on span lists bounded by doc length.
    */
  def q59DupStrip(spark: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    val posSh = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NgramShinglesAll(
        org.apache.spark.sql.GraftSqlBridge.expression(toks), SpanN))
    val d = Tables.documentsFanned(spark, dir)
    val idx = d.select(col("doc_id"), posexplode(posSh).as(Seq("start", "sh")))
    val dupStarts = idx
      .join(graft.Artifacts.serve(spark, dir, graft.Artifacts.DupSpansName), "sh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("start"))).as("starts"))
    val removed = array_distinct(flatten(transform(col("starts"),
      s => sequence(s, s + SpanN - 1))))
    d.select(col("doc_id"), toks.as("t"))
      .join(dupStarts, Seq("doc_id"), "left")
      .withColumn("removed",
        when(col("starts").isNotNull, removed)
          .otherwise(array().cast("array<int>")))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("removed")).cast("long").as("n_tokens_removed"),
        // NULL text stays NULL (concat_ws would render ""), matching the
        // oracle's NULL propagation on degenerate sources
        when(col("t").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ",
            filter(col("t"), (_, i) => !array_contains(col("removed"), i))))
          .as("stripped_text"))
      .orderBy("doc_id")
  }

  lazy val q59OracleSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |), pos AS (
      |  SELECT doc_id,
      |         unnest(${shingleSqlN(SpanN)}) AS sh,
      |         unnest(range(1, len(${shingleSqlN(SpanN)}) + 1)) AS start
      |  FROM toks
      |), df AS (
      |  SELECT sh, COUNT(DISTINCT doc_id) AS ndocs FROM pos GROUP BY sh
      |), dup AS (
      |  SELECT p.doc_id, list_sort(list(p.start)) AS starts
      |  FROM pos p JOIN df ON p.sh = df.sh
      |  WHERE df.ndocs >= 2 GROUP BY p.doc_id
      |), rem AS (
      |  SELECT toks.doc_id, t,
      |         list_distinct(flatten(list_transform(COALESCE(d.starts, []),
      |           s -> list_transform(generate_series(0, ${SpanN - 1}),
      |                  o -> s + o)))) AS removed
      |  FROM toks LEFT JOIN dup d ON toks.doc_id = d.doc_id
      |)
      |SELECT doc_id,
      |       CAST(len(t) AS BIGINT) AS n_tokens,
      |       CAST(len(removed) AS BIGINT) AS n_tokens_removed,
      |       -- array_to_string on an empty list is NULL (string_agg
      |       -- semantics); a fully-stripped doc must read '' like
      |       -- Spark's concat_ws, while NULL text stays NULL
      |       CASE WHEN t IS NULL THEN NULL
      |            ELSE COALESCE(array_to_string(list_select(t,
      |              list_filter(generate_series(1, len(t)),
      |                i -> NOT list_contains(removed, i))), ' '), '') END
      |         AS stripped_text
      |FROM rem ORDER BY doc_id""".stripMargin

  /** q132 — longest duplicated RUN per document: q54 counts how many of
    * a doc's [[SpanN]]-gram spans are cross-document duplicated; this
    * measures how CONTIGUOUS the duplication is. Duplicated span starts
    * are grouped into maximal consecutive runs (gaps-and-islands over
    * the start positions), and the longest run's token width
    * (`run + SpanN − 1`) is the length of the longest verbatim substring
    * this document shares with the rest of the corpus — the quantity an
    * exact-substring dedup threshold (Lee et al.'s 50-token rule) is
    * stated in, which q54's unordered fraction cannot express. A doc at
    * 30% duplication in one 200-token block reads very differently from
    * 30% sprinkled as phrase-level boilerplate.
    *
    * Scale shape: q54's inverted-index + df chain (standing `dup_spans`
    * dictionary in artifact mode) down to `(doc, start)` grain, then
    * windows PARTITIONED BY doc — bounded by each doc's own span count,
    * never corpus-grain. `n_dup_spans` = Σ runs reconciles row-for-row
    * with q54's count (spec-pinned).
    */
  def q132DupRuns(spark: SparkSession, dir: String): DataFrame =
    dupRunsFrom(Tables.documentsFanned(spark, dir),
      graft.Artifacts.serve(spark, dir, graft.Artifacts.DupSpansName),
      // the reattach leg reads doc_id only — the fan exchange would be
      // pure overhead on a metadata projection
      reattach = Some(Tables.documents(spark, dir)))

  /** [[q132DupRuns]] over caller-supplied documents + duplicated-span
    * dictionary frames — the spec's crafted-corpus seam. `reattach`
    * optionally supplies a cheaper frame for the doc_id spine (the
    * heavy positional explode reads `d`).
    */
  private[graft] def dupRunsFrom(d: DataFrame, spans: DataFrame,
      reattach: Option[DataFrame] = None): DataFrame = {
    val allSh = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NgramShinglesAll(
        org.apache.spark.sql.GraftSqlBridge.expression(
          Dedup.tokens(col("text"))), SpanN))
    val idx = d.select(col("doc_id"), posexplode(allSh).as(Seq("start", "sh")))
    val dupStarts = idx.join(spans, "sh")
      .select("doc_id", "start")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("start")
    val runs = dupStarts
      .withColumn("island", col("start") - row_number().over(w))
      .groupBy("doc_id", "island").agg(count(lit(1)).as("run"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_runs"), sum("run").as("n_dup_spans"),
        max("run").as("max_run"))
    reattach.getOrElse(d).select(col("doc_id"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("max_run"), lit(0L)).as("max_run_spans"),
        when(col("max_run").isNotNull, col("max_run") + (SpanN - 1))
          .otherwise(0L).as("max_run_tokens"))
      .orderBy("doc_id")
  }

  lazy val q132OracleSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |), pos AS (
      |  SELECT doc_id,
      |         unnest(${shingleSqlN(SpanN)}) AS sh,
      |         unnest(range(1, len(${shingleSqlN(SpanN)}) + 1)) AS start
      |  FROM toks
      |), df AS (
      |  SELECT sh, COUNT(DISTINCT doc_id) AS ndocs FROM pos GROUP BY sh
      |), dup AS (
      |  SELECT p.doc_id, p.start FROM pos p
      |  JOIN df ON p.sh = df.sh WHERE df.ndocs >= 2
      |), runs AS (
      |  SELECT doc_id, island, COUNT(*) AS run FROM (
      |    SELECT doc_id,
      |           start - row_number() OVER (PARTITION BY doc_id
      |             ORDER BY start) AS island
      |    FROM dup
      |  ) GROUP BY doc_id, island
      |), agg AS (
      |  SELECT doc_id, COUNT(*) AS n_runs,
      |         CAST(SUM(run) AS BIGINT) AS n_dup_spans,
      |         MAX(run) AS max_run
      |  FROM runs GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |       COALESCE(a.n_runs, 0) AS n_runs,
      |       COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
      |       COALESCE(a.max_run, 0) AS max_run_spans,
      |       CASE WHEN a.max_run IS NULL THEN 0
      |            ELSE a.max_run + ${SpanN - 1} END AS max_run_tokens
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q54's statement minus its presentation ORDER BY — reused
    * STRUCTURALLY by `CorpusAudit.q67OracleSql` (which wraps it as a
    * subquery); a textual scrape of [[q54OracleSql]] would silently
    * break on any reformatting.
    */
  private[operators] lazy val q54OracleBody: String = {
    import graft.functions.VectorOps.round6Sql
    s"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
      |), idx AS (
      |  SELECT doc_id, unnest(${shingleSqlN(SpanN)}) AS sh FROM toks
      |), df AS (
      |  SELECT sh, COUNT(DISTINCT doc_id) AS ndocs FROM idx GROUP BY sh
      |), dup AS (
      |  SELECT i.doc_id, COUNT(*) AS n_dup_spans
      |  FROM idx i JOIN df ON i.sh = df.sh
      |  WHERE df.ndocs >= 2 GROUP BY 1
      |), totals AS (
      |  SELECT doc_id, greatest(len(t) - ${SpanN - 1}, 0) AS n_spans FROM toks
      |)
      |SELECT t.doc_id, t.n_spans,
      |       COALESCE(d.n_dup_spans, 0) AS n_dup_spans,
      |       ${round6Sql(
             """CASE WHEN t.n_spans > 0
      |            THEN CAST(COALESCE(d.n_dup_spans, 0) AS DOUBLE) / t.n_spans
      |            ELSE 0.0 END""")} AS dup_fraction
      |FROM totals t LEFT JOIN dup d ON t.doc_id = d.doc_id""".stripMargin
  }

  lazy val q54OracleSql: String = s"$q54OracleBody\nORDER BY t.doc_id"

  // ---- q76: snapshot diff -------------------------------------------------

  /** q76 — corpus snapshot diff: which documents were added, removed, or
    * changed between a prior corpus version and the current one (the
    * audit a pipeline runs before promoting a new snapshot, and the
    * input to incremental recomputation — only `added`/`changed` docs
    * need re-scoring/re-dedup, q50-style). Like q50, both snapshots are
    * derived deterministically from the one test table: the prior
    * version is missing every 7th document (docs added since), carries a
    * truncated text for every 11th (docs edited since), and the current
    * version dropped the `doc_id % 5 == 3` stripe (docs deleted).
    *
    * Rows compare by md5 CONTENT HASH, not by text: the full-outer join
    * ships 32-byte digests per side instead of document bodies, so the
    * diff's shuffle is id+hash-grain regardless of document size — the
    * property that makes this runnable as a routine gate at 100 TB.
    * Unchanged documents (the overwhelming majority) are dropped, so the
    * output is change-bounded, not corpus-bounded.
    */
  def q76SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val (prior, cur) = snapshotFixture(Tables.documents(spark, dir))
    snapshotDiff(
        prior.select(col("doc_id"), md5(col("t")).as("h")),
        cur.select(col("doc_id"), md5(col("t")).as("h")))
      .select("doc_id", "status")
      .orderBy("doc_id")
  }

  /** The q76/q99 snapshot fixture, ONE definition for both plans and
    * (via the interpolated constants) both oracles: the prior snapshot
    * is missing every [[SnapAddStripe]]th document (added since),
    * carries a [[SnapEditPrefix]]-char truncation for every
    * [[SnapEditStripe]]th (edited since), and the current snapshot
    * dropped the `doc_id % `[[SnapDropStripe]]` == `[[SnapDropResidue]]
    * stripe (deleted). Returns `(prior, cur)` as `(doc_id, t)` text
    * frames; callers hash or count as needed.
    */
  private val SnapAddStripe = 7
  private val SnapEditStripe = 11
  private val SnapEditPrefix = 10
  private val SnapDropStripe = 5
  private val SnapDropResidue = 3

  private def snapshotFixture(d: DataFrame): (DataFrame, DataFrame) = {
    val priorText = when(pmod(col("doc_id"), lit(SnapEditStripe)) === 0,
      substring(col("text"), 1, SnapEditPrefix)).otherwise(col("text"))
    (d.filter(pmod(col("doc_id"), lit(SnapAddStripe)) =!= 0)
        .select(col("doc_id"), priorText.as("t")),
      d.filter(pmod(col("doc_id"), lit(SnapDropStripe)) =!= SnapDropResidue)
        .select(col("doc_id"), col("text").as("t")))
  }

  /** The fixture's two sides as SQL CTE bodies (prior/cur with a text
    * column `t`) — interpolated into [[q76OracleSql]] and
    * [[q99OracleSql]] from the same constants as [[snapshotFixture]],
    * so tuning a stripe cannot leave one engine or one query behind.
    */
  private def snapshotFixtureSql: (String, String) = (
    s"""SELECT doc_id,
      |         CASE WHEN doc_id % $SnapEditStripe = 0
      |              THEN substr(text, 1, $SnapEditPrefix)
      |              ELSE text END AS t
      |  FROM documents WHERE doc_id % $SnapAddStripe <> 0""".stripMargin,
    s"""SELECT doc_id, text AS t
      |  FROM documents
      |  WHERE doc_id % $SnapDropStripe <> $SnapDropResidue""".stripMargin)

  /** The fixture diff's added/changed set `(doc_id, status)` in ONE
    * documents scan — provably the same rows as
    * `snapshotDiff(md5(prior), md5(cur)).filter(added|changed)` over
    * [[snapshotFixture]], because the fixture's two sides differ ONLY
    * where its stripes say so:
    *   - a doc_id absent from the prior side is exactly the
    *     `% SnapAddStripe == 0` stripe, so `added` needs no digest and
    *     no join — just the cur-side membership filters;
    *   - everywhere else `t_prior` is the SAME column value as `t_cur`
    *     unless `% SnapEditStripe == 0`, and md5 is a pure function, so
    *     equal inputs give equal digests and `changed` can only occur
    *     on the edit stripe — where the SAME md5 comparison the general
    *     diff makes (collision behavior included) runs against the
    *     truncated prefix.
    * The general [[snapshotDiff]] pays two full-corpus digest scans and
    * a full-outer exchange to discover what the fixture's construction
    * already states; q76/q99 keep it (their outputs carry the digests
    * and the removed rows), the added/changed consumers (q109, q81)
    * read this.
    */
  private def fixtureIncoming(d: DataFrame): DataFrame =
    d.filter(pmod(col("doc_id"), lit(SnapDropStripe)) =!= SnapDropResidue)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(SnapAddStripe)) === 0, "added")
          .when(pmod(col("doc_id"), lit(SnapEditStripe)) === 0 &&
            !(md5(substring(col("text"), 1, SnapEditPrefix)) <=>
              md5(col("text"))), "changed")
          .as("status"))
      .filter(col("status").isNotNull)

  /** The snapshot-diff CORE shared by [[q76SnapshotDiff]],
    * [[q81IncrementalRefresh]] (via q76), and
    * both artifact maintenance bodies (`Artifacts.append` /
    * `Artifacts.promote`, on either table) — ONE definition, so the diff
    * a user audits (q76) can never drift from the diff the artifact
    * maintenance acts on. Inputs are `(idCol, h)` digest frames (bodies
    * never ship; `idCol` is `doc_id` for documents, `id` for the vector
    * digests); output is `(idCol, h_old, h_new, status)` with unchanged
    * rows dropped.
    *
    * `added`/`removed` classify by full-outer-join ROW PRESENCE (explicit
    * existence markers), not by digest nullability: a document with NULL
    * text present in both snapshots has a NULL digest on BOTH sides and
    * must classify as unchanged — hash-nullability classification would
    * mislabel it `added` and its old artifact rows would never retract.
    */
  def snapshotDiff(prior: DataFrame, cur: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val p = prior.select(col(idCol), col("h").as("h_old"),
      lit(true).as("__in_old"))
    val c = cur.select(col(idCol), col("h").as("h_new"),
      lit(true).as("__in_new"))
    p.join(c, Seq(idCol), "full_outer")
      .select(col(idCol), col("h_old"), col("h_new"),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(!(col("h_old") <=> col("h_new")), "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")
  }

  /** q81 — incremental refresh: the q76 → q50 composition run as ONE
    * library op. The snapshot diff names the documents that need work
    * (`added`/`changed` — change-bounded, not corpus-bounded); exactly
    * those are dedup-verdicted against the standing corpus (the current
    * snapshot minus the incoming set) through [[dedupVerdictsAgainst]],
    * reusing the band-index artifact when materialized. This is the
    * promote-a-new-snapshot gate at 100 TB: diff cost is id+hash-grain,
    * re-processing cost scales with the CHANGE SET, and nothing
    * unchanged is rescanned past the diff.
    */
  def q81IncrementalRefresh(spark: SparkSession, dir: String): DataFrame = {
    val current = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(5)) =!= 3)
    // checkpointed: the verdict shape references the incoming set four
    // times (two side-frame restrictions, the corpus anti-join, and the
    // final reattach), and each reference would re-run the diff's
    // stripe scan; the frame is diff-bounded, so the pin is small
    // at any scale. Built without q76's presentation sort.
    val incoming = graft.Checkpoints.checkpoint(
      fixtureIncoming(Tables.documents(spark, dir)))
    val corpus = current.select("doc_id")
      .join(incoming.select("doc_id"), Seq("doc_id"), "left_anti")
    dedupVerdictsAgainst(spark, dir, corpus, incoming)
      .orderBy("doc_id")
  }

  /** The diff-driven re-verdict over REAL snapshot directories (q81's
    * shape generalized from its single-table demo): documents
    * added/changed between `oldDir` and `newDir` are dedup-verdicted
    * against the standing corpus (the new snapshot minus the incoming
    * set). Runs off `newDir`'s band-index artifact when one is
    * materialized, inline otherwise — the composed [[refreshSnapshot]]
    * maintains that artifact first, so its verdict pass always reads
    * standing state.
    */
  def refreshVerdicts(spark: SparkSession, oldDir: String,
      newDir: String): DataFrame = {
    // both diff sides come from the standing digest artifacts when
    // materialized (after refreshSnapshot's maintenance leg, both are),
    // so the verdict leg re-hashes no text on either side
    val incoming = snapshotDiff(
        graft.Artifacts.serve(spark, oldDir, graft.Artifacts.DocHashesName),
        graft.Artifacts.serve(spark, newDir, graft.Artifacts.DocHashesName))
      .filter(col("status").isin("added", "changed"))
      .select("doc_id", "status")
    val corpus = Tables.documents(spark, newDir).select("doc_id")
      .join(incoming.select("doc_id"), Seq("doc_id"), "left_anti")
    dedupVerdictsAgainst(spark, newDir, corpus, incoming)
      .orderBy("doc_id")
  }

  /** Outcome of [[refreshSnapshot]]: the text-side and vector-side
    * maintenance results (mode + counts each — so a caller can observe
    * a `full_large_diff` demotion on EITHER leg, e.g. an embeddings
    * re-encode forcing a full LSH re-projection) and the re-verdict
    * frame for the changed documents.
    */
  final case class SnapshotRefresh(text: graft.Artifacts.IncrementalResult,
    vectors: graft.Artifacts.IncrementalResult, verdicts: DataFrame)

  /** The promote-a-new-snapshot operation, END-TO-END: maintain
    * `newDir`'s corpus artifacts from the snapshot diff
    * (`Artifacts.materializeIncremental`), then re-verdict exactly the
    * changed documents against the standing corpus through the artifacts
    * the same call just maintained. One entry point, so a caller can no
    * longer run the verdict against stale (or missing) artifacts by
    * doing the two steps in the wrong order — the failure mode the
    * separate APIs left open. Requires an artifact root; cost is
    * diff-bounded on both legs.
    */
  def refreshSnapshot(spark: SparkSession, oldDir: String, newDir: String,
      maxChangeFraction: Double = 0.2): SnapshotRefresh = {
    val maintained = graft.Artifacts.materializeIncremental(
      spark, oldDir, newDir, maxChangeFraction)
    // the vector side rides the same promotion when the snapshot carries
    // an embeddings table (a text-only promote is a `skip` there) — the
    // same wrong-order failure mode applies to the LSH indexes, and the
    // embedding diff is digest-grain cheap
    val vectors = graft.Artifacts.maintainEmbeddingsIncremental(
      spark, oldDir, newDir, maxChangeFraction)
    SnapshotRefresh(maintained, vectors, refreshVerdicts(spark, oldDir, newDir))
  }

  lazy val q81OracleSql: String = {
    val eq = Dedup.minhashEqTerms
    s"""WITH ${Dedup.minhashCtes}, inc AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % $SnapAddStripe = 0 THEN 'added'
      |              ELSE 'changed' END AS status
      |  FROM documents
      |  WHERE doc_id % $SnapDropStripe <> $SnapDropResidue
      |    AND (doc_id % $SnapAddStripe = 0
      |         OR (doc_id % $SnapEditStripe = 0
      |             AND md5(substr(text, 1, $SnapEditPrefix)) <> md5(text)))
      |), corpus AS (
      |  SELECT d.doc_id FROM documents d
      |  WHERE d.doc_id % $SnapDropStripe <> $SnapDropResidue
      |    AND d.doc_id NOT IN (SELECT doc_id FROM inc)
      |), hashes AS (
      |  SELECT doc_id, md5(text) AS h FROM documents
      |), exact AS (
      |  SELECT i.doc_id, MIN(ch.doc_id) AS exact_match
      |  FROM inc i
      |  JOIN hashes ih ON ih.doc_id = i.doc_id
      |  JOIN hashes ch ON ch.h = ih.h
      |  JOIN corpus c ON c.doc_id = ch.doc_id
      |  GROUP BY 1
      |), cbands AS (
      |  SELECT b.* FROM bands b JOIN corpus c ON b.doc_id = c.doc_id
      |), ckept AS (
      |  SELECT * FROM (
      |    SELECT b.*, COUNT(*) OVER (PARTITION BY band, bucket) AS pop
      |    FROM cbands b
      |  ) WHERE pop <= ${Dedup.MaxBucketPop}
      |), near AS (
      |  SELECT ib.doc_id, MIN(cb.doc_id) AS near_match
      |  FROM bands ib
      |  JOIN inc i ON ib.doc_id = i.doc_id
      |  JOIN ckept cb ON cb.band = ib.band AND cb.bucket = ib.bucket
      |  JOIN sigs sa ON sa.doc_id = ib.doc_id
      |  JOIN sigs sb ON sb.doc_id = cb.doc_id
      |  WHERE ($eq) / 16.0 >= 0.5
      |  GROUP BY 1
      |)
      |SELECT i.doc_id, i.status,
      |       CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
      |            WHEN n.near_match IS NOT NULL THEN 'near_dup'
      |            ELSE 'new' END AS verdict,
      |       COALESCE(e.exact_match, n.near_match) AS match_id
      |FROM inc i
      |LEFT JOIN exact e ON e.doc_id = i.doc_id
      |LEFT JOIN near n ON n.doc_id = i.doc_id
      |ORDER BY i.doc_id""".stripMargin
  }

  // ---- q99: snapshot drift by source -------------------------------------

  /** q99 — the drift report over [[q76SnapshotDiff]]'s change set: per
    * (source, status) document counts and the net whitespace-token mass
    * delta. q76 names WHICH documents changed; this is the rollup an
    * operator reads before promoting the snapshot — did a source
    * suddenly shed half its token mass (a crawler regression), or grow
    * 10× (a spam flood)? Same deterministic prior/current fixture as
    * q76, statuses from the same [[snapshotDiff]] core (one definition,
    * can't drift).
    *
    * Scale shape: the diff ships (id, digest) pairs, never bodies; only
    * the CHANGE SET (not the corpus) reaches the count joins, and the
    * output is (source × status)-grain. A production run feeds the two
    * digest+count sides from the standing `doc_hashes`/`token_counts`
    * artifacts of each snapshot instead of re-deriving them — the
    * operator is the rollup, not the scan.
    */
  def q99SnapshotDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    def wsCount(t: org.apache.spark.sql.Column) =
      when(t.isNotNull, size(split(t, "\\s+")).cast("long")).otherwise(lit(0L))
    val (prior, cur) = snapshotFixture(d)
    // the digest diff is the only corpus-wide work (32-byte hashes per
    // side); checkpointed because the change set feeds three joins below
    val statuses = graft.Checkpoints.checkpoint(
      snapshotDiff(
          prior.select(col("doc_id"), md5(col("t")).as("h")),
          cur.select(col("doc_id"), md5(col("t")).as("h")))
        .select("doc_id", "status"))
    // tokenization is bounded to the CHANGE SET: each side joins the diff
    // ids FIRST and counts tokens only on surviving rows — never a
    // corpus-wide tokenize for a report about what changed
    val ids = statuses.select("doc_id")
    val tokOld = prior.join(ids, "doc_id")
      .select(col("doc_id"), wsCount(col("t")).as("tok_old"))
    val tokNew = cur.join(ids, "doc_id")
      .select(col("doc_id"), wsCount(col("t")).as("tok_new"))
    statuses
      .join(tokOld, Seq("doc_id"), "left")
      .join(tokNew, Seq("doc_id"), "left")
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("tok_new"), lit(0L)) -
          coalesce(col("tok_old"), lit(0L))).as("token_delta"))
      .orderBy("source", "status")
  }

  /** q76's fixture (shared [[snapshotFixtureSql]] constants) and
    * presence-classification verbatim, with the same per-side token
    * counts and the same rollup.
    */
  lazy val q99OracleSql: String =
    s"""WITH priortext AS (
      |  ${snapshotFixtureSql._1}
      |), curtext AS (
      |  ${snapshotFixtureSql._2}
      |), prior AS (
      |  SELECT doc_id, md5(t) AS h,
      |         COALESCE(len(string_split_regex(t, '\\s+')), 0) AS tok_old
      |  FROM priortext
      |), cur AS (
      |  SELECT doc_id, md5(t) AS h,
      |         COALESCE(len(string_split_regex(t, '\\s+')), 0) AS tok_new
      |  FROM curtext
      |), diff AS (
      |  SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
      |         CASE WHEN p.doc_id IS NULL THEN 'added'
      |              WHEN c.doc_id IS NULL THEN 'removed'
      |              WHEN p.h IS DISTINCT FROM c.h THEN 'changed'
      |              ELSE 'unchanged' END AS status,
      |         COALESCE(c.tok_new, 0) - COALESCE(p.tok_old, 0) AS delta
      |  FROM prior p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id
      |)
      |SELECT d.source, f.status, COUNT(*) AS n_docs,
      |       CAST(SUM(f.delta) AS BIGINT) AS token_delta
      |FROM diff f JOIN documents d USING (doc_id)
      |WHERE f.status <> 'unchanged'
      |GROUP BY d.source, f.status
      |ORDER BY d.source, f.status""".stripMargin

  lazy val q76OracleSql: String =
    s"""WITH priortext AS (
      |  ${snapshotFixtureSql._1}
      |), curtext AS (
      |  ${snapshotFixtureSql._2}
      |), prior AS (
      |  SELECT doc_id, md5(t) AS h_prior FROM priortext
      |), cur AS (
      |  SELECT doc_id, md5(t) AS h_cur FROM curtext
      |), diff AS (
      |  SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
      |         CASE WHEN p.doc_id IS NULL THEN 'added'
      |              WHEN c.doc_id IS NULL THEN 'removed'
      |              WHEN p.h_prior IS DISTINCT FROM c.h_cur THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM prior p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id
      |)
      |SELECT doc_id, status FROM diff
      |WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin

  // ---- q108: data-repetition (epochs-per-source) plan ---------------------

  /** Token budget as a multiple of the corpus's own token mass. */
  private val RepetitionBudgetMult = 4.0

  /** Epoch ceiling per stratum — the published working point past which
    * repeated data stops substituting for fresh data (Muennighoff et
    * al. 2023, "Scaling Data-Constrained Language Models": ~4 epochs of
    * repetition are nearly as good as new tokens; returns decay fast
    * beyond).
    */
  private val MaxEpochs = 4.0

  /** q108 — the data-repetition plan: given a training token budget
    * ([[RepetitionBudgetMult]] × corpus mass) split across strata by
    * q89's temperature weights, how many EPOCHS of each (lang, source)
    * stratum does that imply, where does the [[MaxEpochs]] repetition
    * ceiling bind, and how many budgeted tokens does the cap leave
    * unfilled? This is the bridge from a mixture (a share of the
    * budget) to a schedule (how often each document is actually seen):
    * temperature flattening hands tail strata MORE than their natural
    * mass, and the only way a small stratum can absorb it is
    * repetition — `epochs_raw` is that demand, `epochs` the capped
    * reality, `deficit_tokens` the gap a planner must push back into
    * uncapped strata (an iterative rebalance this report deliberately
    * leaves to the caller — one pass names the binding constraints).
    *
    * Scale shape: q89's exactly — one stratum-grain census (standing
    * token-count artifacts in artifact mode), two broadcast scalar
    * joins, arithmetic on a strata-count-sized frame. Every expression
    * is IEEE-rational (+, ×, ÷, sqrt, LEAST) with a pinned association,
    * so the plan reproduces bit-for-bit cross-engine; outputs round
    * through decimal once at the end.
    */
  def q108RepetitionPlan(spark: SparkSession, dir: String): DataFrame =
    repetitionPlan(spark, dir, graft.functions.Tokenizer.Whitespace)

  /** q108 under a pluggable [[graft.functions.Tokenizer]]. */
  def repetitionPlan(spark: SparkSession, dir: String,
      tok: graft.functions.Tokenizer): DataFrame = {
    import graft.functions.VectorOps.round6
    val w = col("s") / col("z")
    val share = (lit(RepetitionBudgetMult) *
      col("total_tokens").cast("double")) * w
    val epochsRaw = share / col("n_tokens").cast("double")
    val epochs = least(lit(MaxEpochs), epochsRaw)
    val alloc = epochs * col("n_tokens").cast("double")
    // a zeroTokenCapable tokenizer can yield a 0-token stratum: its
    // epoch demand is 0/0 — explicit NULLs, not NaN (the q89 posture)
    val defined = col("n_tokens") > 0
    temperatureScaled(spark, dir, tok)
      .select(col("lang"), col("source"), col("n_tokens"),
        round6(w).as("temp_weight"),
        when(defined, round6(epochsRaw)).as("epochs_raw"),
        when(defined, round6(epochs)).as("epochs"),
        when(defined, round6(alloc)).as("allocated_tokens"),
        when(defined, epochsRaw > MaxEpochs).as("capped"),
        when(defined, round6(share - alloc)).as("deficit_tokens"))
      .orderBy("lang", "source")
  }

  /** q89's census, share, and sqrt-weight CTEs; the budget, cap, and
    * deficit arithmetic mirrored expression-for-expression.
    */
  lazy val q108OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    val share = s"($RepetitionBudgetMult * CAST(total_tokens AS DOUBLE)) * (s / z)"
    val er = s"$share / CAST(n_tokens AS DOUBLE)"
    val epochs = s"LEAST($MaxEpochs, $er)"
    val alloc = s"$epochs * CAST(n_tokens AS DOUBLE)"
    s"""WITH $mixtureCtes, tot AS (
      |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM strata
      |), scaled AS (
      |  SELECT lang, source, n_tokens, total_tokens,
      |         sqrt(CAST(n_tokens AS DOUBLE) / total_tokens) AS s
      |  FROM strata, tot
      |), z AS (
      |  SELECT SUM(s) AS z FROM scaled
      |)
      |SELECT lang, source, n_tokens,
      |       ${round6Sql("s / z")} AS temp_weight,
      |       CASE WHEN n_tokens > 0 THEN ${round6Sql(er)} END AS epochs_raw,
      |       CASE WHEN n_tokens > 0 THEN ${round6Sql(epochs)} END AS epochs,
      |       CASE WHEN n_tokens > 0 THEN ${round6Sql(alloc)} END
      |         AS allocated_tokens,
      |       CASE WHEN n_tokens > 0 THEN $er > $MaxEpochs END AS capped,
      |       CASE WHEN n_tokens > 0 THEN ${round6Sql(s"$share - $alloc")} END
      |         AS deficit_tokens
      |FROM scaled, z ORDER BY lang, source""".stripMargin
  }

  // ---- q109: snapshot novelty (what did the crawl actually add?) ----------

  /** q109 — incoming-content novelty: for every document the new
    * snapshot ADDED or CHANGED (q76's diff), the fraction of its
    * distinct 8-grams that the PRIOR snapshot had never seen. The
    * crawler-ops companion to q99: drift counts documents and token
    * mass, novelty asks whether the incoming bytes are new CONTENT or
    * refried duplicates — a crawl wave can add a million documents at
    * near-zero novelty (scraper loops, mirror floods) and a healthy
    * dedup pipeline wants to know BEFORE promoting the snapshot, while
    * the unit of decision is still the change set.
    *
    * Scale shape: change-bounded × index-shaped — shingles are exploded
    * only for the added/changed documents (the diff names them at
    * id+hash grain first), and membership against the prior corpus is
    * one equi-join per shingle against the OLD snapshot's distinct
    * 8-gram set, which is exactly the standing `shingles8` artifact of
    * that snapshot in production (inline from the fixture here). No
    * pairwise document comparisons anywhere.
    */
  def q109SnapshotNovelty(spark: SparkSession, dir: String): DataFrame = {
    val (prior, cur) = snapshotFixture(Tables.documentsFanned(spark, dir))
    // referenced by both the shingle explode and the final reattach —
    // checkpointed so the stripe scan runs once, not once per subtree
    val changed = graft.Checkpoints.checkpoint(
      fixtureIncoming(Tables.documentsFanned(spark, dir)))
    shingleNovelty(cur.join(changed, "doc_id"), Seq("doc_id", "status"), "t",
        prior.select(explode(shinglesN(Dedup.tokens(col("t")), DecontamN))
          .as("sh")))
      .orderBy("doc_id")
  }

  /** The novelty-scoring CORE shared by [[q109SnapshotNovelty]] and the
    * intake gate (`StreamingOps.noveltyOfBatch`) — ONE definition, so
    * the verdict a batch gets at the door cannot drift from the audit a
    * snapshot gets later. For each distinct `keyCols` tuple of `docs`
    * (one row per document expected): the count of its distinct
    * [[DecontamN]]-gram shingles, how many of those appear NOWHERE in
    * `corpusShingles` (any frame with a `sh` column; de-duplicated
    * here), and the novelty fraction (NULL when the document is too
    * short to shingle).
    */
  private[graft] def shingleNovelty(docs: DataFrame, keyCols: Seq[String],
      textCol: String, corpusShingles: DataFrame): DataFrame =
    noveltyOfShingles(docs.select(keyCols.map(col): _*),
      docs.select(keyCols.map(col) :+
        explode(shinglesN(Dedup.tokens(col(textCol)), DecontamN)).as("sh"): _*),
      keyCols, corpusShingles)

  /** [[shingleNovelty]] over PRE-EXPLODED per-doc distinct shingle rows
    * `(keyCols…, sh)` — the seam the composite intake uses so one
    * shingle derivation feeds novelty AND decontamination instead of
    * each gate re-tokenizing the batch.
    */
  private[graft] def noveltyOfShingles(docKeys: DataFrame, sh: DataFrame,
      keyCols: Seq[String], corpusShingles: DataFrame): DataFrame = {
    val keys = keyCols.map(col)
    val seen = corpusShingles.select(col("sh")).distinct()
      .withColumn("seen", lit(1))
    val per = sh.join(seen, Seq("sh"), "left")
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    // docKeys is one row per document BY CONTRACT (docstring above);
    // a defensive distinct() here paid a full exchange + aggregate on
    // every call for data that is already unique (guide §2.4)
    docKeys
      .join(per, keyCols, "left")
      .select(keys ++ Seq(
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        graft.functions.VectorOps.round6(
          col("n_novel").cast("double") / col("n_shingles"))
          .as("novelty")): _*)
  }

  /** The fixture + diff replayed from the shared constants, the q60/q105
    * distinct-8-gram derivation on both sides, novelty per changed doc.
    */
  lazy val q109OracleSql: String =
    s"""WITH priortext AS (
      |  ${snapshotFixtureSql._1}
      |), curtext AS (
      |  ${snapshotFixtureSql._2}
      |), changed AS (
      |  SELECT p.doc_id, CASE WHEN p2.doc_id IS NULL THEN 'added'
      |                        ELSE 'changed' END AS status
      |  FROM curtext p LEFT JOIN priortext p2 ON p.doc_id = p2.doc_id
      |  WHERE p2.doc_id IS NULL OR md5(p2.t) IS DISTINCT FROM md5(p.t)
      |), newtoks AS (
      |  SELECT c.doc_id, ch.status, string_split_regex(c.t, '\\s+') AS t
      |  FROM curtext c JOIN changed ch ON c.doc_id = ch.doc_id
      |), shnew AS (
      |  SELECT DISTINCT doc_id, status,
      |         unnest(${shingleSqlN(DecontamN)}) AS sh
      |  FROM newtoks
      |), oldtoks AS (
      |  SELECT string_split_regex(t, '\\s+') AS t FROM priortext
      |), shold AS (
      |  SELECT DISTINCT unnest(${shingleSqlN(DecontamN)}) AS sh FROM oldtoks
      |), per AS (
      |  SELECT s.doc_id, s.status, COUNT(*) AS n_shingles,
      |         CAST(SUM(CASE WHEN o.sh IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_novel
      |  FROM shnew s LEFT JOIN shold o ON s.sh = o.sh
      |  GROUP BY s.doc_id, s.status
      |)
      |SELECT c.doc_id, c.status,
      |       COALESCE(p.n_shingles, 0) AS n_shingles,
      |       COALESCE(p.n_novel, 0) AS n_novel,
      |       ${graft.functions.VectorOps.round6Sql(
           "CAST(p.n_novel AS DOUBLE) / p.n_shingles")} AS novelty
      |FROM changed c
      |LEFT JOIN per p ON p.doc_id = c.doc_id AND p.status = c.status
      |ORDER BY c.doc_id""".stripMargin
}
