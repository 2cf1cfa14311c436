package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps

/** Embedding-space corpus operators built on the trained IVF model
  * (q125's `ivf_centroids`/`ivf_cells` artifacts): semantic
  * deduplication within trained cells (q130, the SemDeDup working point
  * — Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication") and the per-source embedding-centroid
  * divergence matrix (q131 — the semantic twin of q90's lexical KL).
  *
  * Both ride standing artifacts: the cell assignment bounds q130's
  * candidate generation exactly the way LSH buckets bound q82's, and
  * q131's centroid arithmetic reuses q125's integer quantization so the
  * means are bit-identical cross-engine.
  */
object SemanticOps {

  /** q130's cosine threshold — aligned with the near-dup family
    * (q21/q82's 0.4), so the three views of "these vectors are the same
    * content" (brute-force truth, LSH buckets, semantic cells) share one
    * verdict boundary.
    */
  val Tau = 0.4

  /** Per-cell membership cap: a cell whose population exceeds this
    * degrades from all-pairs to a star around the cell's min-id member
    * (q82's over-cap posture) — a duplication-flooded cell still
    * contributes dup verdicts, and no cell can go quadratic.
    */
  val CellCap = 4096L

  /** q130 — semantic dedup over trained IVF cells: a vector is a
    * semantic duplicate iff some LOWER-id member of its own cell has
    * cosine ≥ [[Tau]]; `dup_of` is the most-similar such member (ties →
    * smaller id). One row per vector — the keep/cull list plus the
    * evidence, SemDeDup's ε-ball dedup made deterministic.
    *
    * Scale shape: candidates are WITHIN-CELL equi-join pairs — the
    * trained cells play the role q82's LSH buckets play, population
    * bounded by [[CellCap]] with star degradation (the census is
    * cells-sized, broadcast). At production cell counts (K ~ √n) the
    * per-cell population is ~√n by construction; the all-pairs work is
    * Σ pop², never n². Reads the standing `ivf_cells` assignment — the
    * Lloyd training is never re-run here.
    */
  def q130SemDedup(spark: SparkSession, dir: String): DataFrame =
    semDedupFrom(Tables.embeddings(spark, dir),
      graft.Artifacts.ivfModel(spark, dir)._2.select("vec_id", "cell"))

  /** [[q130SemDedup]] over caller-supplied embeddings + cell-assignment
    * frames (`cap` overridable so the star degradation is spec-testable
    * at crafted populations). `cells` is referenced three times (census,
    * membership, verdict join) — pass a frame that is cheap to re-scan:
    * the standing `ivf_cells` parquet artifact re-reads for free (and
    * keeps the scan visible to plan guards), while a computed frame
    * should arrive checkpointed (the inline `ivfModel` path checkpoints
    * the quantized base, so only the assignment map replays).
    */
  private[graft] def semDedupFrom(e: DataFrame, cells: DataFrame,
      cap: Long = CellCap): DataFrame = {
    val census = cells.groupBy("cell")
      .agg(count(lit(1)).as("pop"), min("vec_id").as("rep"))
    val memb = cells.join(e, "vec_id")
      .select(col("cell"), col("vec_id"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nrm"))
    val lo = memb.select(col("cell"), col("vec_id").as("id_lo"),
      col("embedding").as("va"), col("nrm").as("na"))
    val hi = memb.select(col("cell"), col("vec_id").as("id_hi"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val scored = lo.join(hi, "cell")
      .filter(col("id_lo") < col("id_hi"))
      .join(broadcast(census), "cell")
      .filter(col("pop") <= cap || col("id_lo") === col("rep"))
      .withColumn("cos", VectorOps.round6(
        VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .filter(col("cos") >= Tau)
    val w = Window.partitionBy("id_hi").orderBy(desc("cos"), asc("id_lo"))
    val best = scored
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id_hi").as("vec_id"), col("id_lo").as("dup_of"),
        col("cos"))
    cells.join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"), col("cos"))
      .orderBy("vec_id")
  }

  lazy val q130OracleSql: String = {
    val cos = VectorOps.round6Sql(
      VectorOps.cosineSql("lo.embedding", "hi.embedding"))
    s"""WITH ${Ivf.cellsCtes},
       |pop AS (
       |  SELECT cell, COUNT(*) AS pop, MIN(vec_id) AS rep
       |  FROM cells GROUP BY cell
       |), memb AS (
       |  SELECT c.vec_id, c.cell, e.embedding
       |  FROM cells c JOIN embeddings e ON c.vec_id = e.vec_id
       |), sc AS (
       |  SELECT hi.vec_id AS id_hi, lo.vec_id AS id_lo, $cos AS cos
       |  FROM memb hi
       |  JOIN memb lo ON hi.cell = lo.cell AND lo.vec_id < hi.vec_id
       |  JOIN pop p ON p.cell = hi.cell
       |  WHERE (p.pop <= $CellCap OR lo.vec_id = p.rep)
       |    AND $cos >= $Tau
       |), best AS (
       |  SELECT id_hi, id_lo, cos FROM (
       |    SELECT id_hi, id_lo, cos,
       |           row_number() OVER (PARTITION BY id_hi
       |             ORDER BY cos DESC, id_lo) AS rn
       |    FROM sc
       |  ) WHERE rn = 1
       |)
       |SELECT c.vec_id, c.cell,
       |       (b.id_lo IS NOT NULL) AS is_dup,
       |       b.id_lo AS dup_of, b.cos
       |FROM cells c LEFT JOIN best b ON c.vec_id = b.id_hi
       |ORDER BY c.vec_id""".stripMargin
  }

  /** Round-half-away-from-zero integer division over long columns named
    * `s`/`n` in scope — [[Ivf.roundDiv]] as a Column expression (SQL
    * `div` keeps the arithmetic integral end to end).
    */
  private def roundDivCol: Column = expr(
    "CASE WHEN s >= 0 THEN (2 * s + n) DIV (2 * n) " +
      "ELSE -((-2 * s + n) DIV (2 * n)) END").cast("long")

  /** q131 — pairwise semantic divergence between sources: each source's
    * embedding centroid in q125's integer-quantized space (mean =
    * half-away-from-zero integer division, bit-identical cross-engine),
    * then the cosine between every source pair — "which feeds say the
    * same things", the semantic complement of q90's token-distribution
    * KL. Low cosine = genuinely different content; a pair of sources at
    * cosine ≈ 1 is a mirror candidate for q122's duplication matrix.
    *
    * Scale shape: docs⋈embeddings on the id, one posexplode aggregate to
    * (source × dim) grain — everything after the first aggregate is
    * dimension-sized (pair join on `pos`, |sources|² × dim rows). No
    * windows, no driver collect; the integer dot/norm sums stay within
    * long for any |centroid| ≤ ~10⁷ per coordinate at dim 64.
    */
  def q131SourceSemanticDiv(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val q = Ivf.quantized(Tables.embeddings(spark, dir))
      .join(d, col("vec_id") === col("doc_id"))
    val cent = q
      .select(col("source"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("source", "pos")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .select(col("source"), col("pos"), roundDivCol.as("c"))
    val a = cent.select(col("source").as("source_a"), col("pos"),
      col("c").as("ca"))
    val b = cent.select(col("source").as("source_b"), col("pos"),
      col("c").as("cb"))
    a.join(b, "pos")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sum(col("ca") * col("cb")).as("dot"),
        sum(col("ca") * col("ca")).as("na2"),
        sum(col("cb") * col("cb")).as("nb2"))
      .select(col("source_a"), col("source_b"),
        VectorOps.round6(
          when(col("na2") === 0 || col("nb2") === 0, 0.0)
            .otherwise(col("dot").cast("double") /
              (sqrt(col("na2").cast("double")) *
                sqrt(col("nb2").cast("double"))))).as("cos"))
      .orderBy("source_a", "source_b")
  }

  /** Terms reported per cell by [[q136ClusterCards]]. */
  private val CardTopK = 8

  /** q136 — cluster cards: the [[CardTopK]] most CHARACTERISTIC terms of
    * each trained IVF cell, scored by lift — `(tf_{t,c} / w_c) /
    * (tf_t / W)`: the term's share of the cell's token mass over its
    * share of the corpus's (class-based TF-IDF in the BERTopic sense,
    * with the same rational-instead-of-log reshaping as q66's idf and
    * q119's PMI — the ranking is identical and the arithmetic is
    * engine-exact). This is the human-readable label of each semantic
    * cluster: q125 trains the cells, q130 dedups inside them, this
    * names them — the corpus-card page a curation team actually reads.
    *
    * Scale shape: one equi-join of the standing `token_postings` index
    * with the standing `ivf_cells` assignment (doc-grain), one
    * aggregate to (cell × term) grain, then everything is
    * vocabulary-sized: the corpus-frequency join rides the standing
    * `token_freq` census, the two totals broadcast, and the per-cell
    * top-k is a rank-capped window (map-side `WindowGroupLimit`) over
    * K partitions. Zero documents scans in artifact mode. The score is
    * one IEEE division of two exact long products — no accumulation
    * order exists.
    */
  def q136ClusterCards(spark: SparkSession, dir: String): DataFrame =
    clusterCardsFrom(Search.postingsOrInline(spark, dir),
      graft.Artifacts.ivfModel(spark, dir)._2
        .select(col("vec_id").as("doc_id"), col("cell")),
      graft.Artifacts.tokenTotals(spark, dir))

  /** [[q136ClusterCards]] over caller-supplied `(doc_id, token, tf)`
    * postings, `(doc_id, cell)` assignment, and `(token, n)` corpus
    * census frames — the spec's crafted-cluster seam.
    */
  private[graft] def clusterCardsFrom(postings: DataFrame, cells: DataFrame,
      corpus: DataFrame): DataFrame = {
    val ct = postings
      .join(cells, "doc_id")
      .groupBy("cell", "token").agg(sum("tf").as("tf_ct"))
    // cell mass as a window over the SAME cell grain the rank window
    // below partitions by anyway: the agg+broadcast form evaluated the
    // whole ct subtree TWICE (a referenced DataFrame is a plan, not a
    // result) and paid an aggregate exchange plus a broadcast build per
    // run. Each cell's frame is bounded by that cell's vocabulary, so
    // the window never single-partitions anything at scale.
    val total = corpus.agg(sum("n").as("w_total"))
    val scored = ct
      .withColumn("w_c", sum("tf_ct").over(Window.partitionBy("cell")))
      .join(corpus, "token")
      .crossJoin(broadcast(total))
      .withColumn("lift", (col("tf_ct") * col("w_total")).cast("double") /
        (col("w_c") * col("n")).cast("double"))
    val w = Window.partitionBy("cell")
      .orderBy(desc("lift"), asc("token"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= CardTopK)
      .select(col("cell"), col("rank"), col("token"),
        col("tf_ct"), VectorOps.round6(col("lift")).as("lift"))
      .orderBy("cell", "rank")
  }

  lazy val q136OracleSql: String = {
    val lift = "CAST(tf_ct * w_total AS DOUBLE) / CAST(w_c * n AS DOUBLE)"
    s"""WITH ${Ivf.cellsCtes},
       |tok AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
       |), ct AS (
       |  SELECT c.cell, t.token, CAST(SUM(t.tf) AS BIGINT) AS tf_ct
       |  FROM tf t JOIN cells c ON t.doc_id = c.vec_id
       |  GROUP BY c.cell, t.token
       |), wc AS (
       |  SELECT cell, CAST(SUM(tf_ct) AS BIGINT) AS w_c FROM ct GROUP BY cell
       |), corpus AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token
       |), tot AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS w_total FROM corpus
       |), ranked AS (
       |  SELECT ct.cell, ct.token, ct.tf_ct, $lift AS lift,
       |         row_number() OVER (PARTITION BY ct.cell
       |           ORDER BY $lift DESC, ct.token) AS rank
       |  FROM ct JOIN wc ON ct.cell = wc.cell
       |  JOIN corpus ON ct.token = corpus.token
       |  CROSS JOIN tot
       |)
       |SELECT cell, rank, token, tf_ct,
       |       ${VectorOps.round6Sql("lift")} AS lift
       |FROM ranked WHERE rank <= $CardTopK
       |ORDER BY cell, rank""".stripMargin
  }

  lazy val q131OracleSql: String = {
    val cos = VectorOps.round6Sql(
      "CASE WHEN na2 = 0 OR nb2 = 0 THEN 0.0 " +
        "ELSE CAST(dot AS DOUBLE) / " +
        "(sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) END")
    s"""WITH qv AS (
       |  SELECT d.source, ${Ivf.quantizeSql("e.embedding")} AS q
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
       |), x AS (
       |  SELECT source, generate_subscripts(q, 1) AS pos, unnest(q) AS v
       |  FROM qv
       |), s AS (
       |  SELECT source, pos, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS n
       |  FROM x GROUP BY source, pos
       |), c AS (
       |  SELECT source, pos, ${Ivf.roundDivSql("s", "n")} AS c FROM s
       |), p AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         CAST(SUM(a.c * b.c) AS BIGINT) AS dot,
       |         CAST(SUM(a.c * a.c) AS BIGINT) AS na2,
       |         CAST(SUM(b.c * b.c) AS BIGINT) AS nb2
       |  FROM c a JOIN c b ON a.pos = b.pos AND a.source < b.source
       |  GROUP BY a.source, b.source
       |)
       |SELECT source_a, source_b, $cos AS cos
       |FROM p ORDER BY source_a, source_b""".stripMargin
  }

  // ---- q142: semantic eval-set decontamination ----------------------------

  /** q142 — SEMANTIC decontamination against the named eval-set registry:
    * q124 catches verbatim (8-gram) leakage; this catches the paraphrased
    * benchmark item lexical shingles miss. For every registered set
    * ([[EvalSets.Registry]], membership on the embedding id — vectors
    * stand in for the benchmark text's embeddings), every NON-member
    * training vector whose cosine to some member reaches [[Tau]] gets one
    * `(vec_id, set_id)` verdict row: hit count, max cosine, and the
    * closest member (ties → smaller id). Clean pairs are implicit (the
    * q124 sparse-form discipline) — the release gate joins this against
    * its shipping manifest per set VERSION.
    *
    * Scale shape: candidates are within-cell (train × member) equi-join
    * pairs over the standing `ivf_cells` assignment — the q130
    * discipline pointed across the train/eval boundary, with the same
    * [[CellCap]] star degradation per (cell, set) (census is broadcast,
    * over-cap cells score only the set's smallest-id member). Registry
    * membership is a map-side literal; adding a benchmark suite changes
    * no pass structure. The Lloyd training never re-runs here.
    */
  def q142SemDecontam(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.current(spark, dir, graft.Artifacts.EvalFlagsSemName)
      .map(_.orderBy("vec_id", "set_id"))
      .getOrElse(q142SemInline(spark, dir))

  /** q142's verdict computation — the standing `eval_flags_sem`
    * artifact's content (one definition for the build and the inline
    * fallback).
    */
  private[graft] def q142SemInline(spark: SparkSession,
      dir: String): DataFrame = {
    val (cents, cells) = graft.Artifacts.ivfModel(spark, dir)
    // external benchmark vectors, assigned to the SAME trained cells
    // map-side (quantize → literal-centroid argmin, exactly the corpus
    // assignment's arithmetic) — the semantic screen covers external
    // suites wherever their items ship embeddings
    val extVec = EvalSets.externalVectors(spark)
    val extEval = Ivf.assignFrame(
        Ivf.quantized(extVec.select(col("eval_id").as("vec_id"),
          col("embedding"))), cents)
      .select(col("vec_id").as("eval_id"), col("cell"))
      .join(extVec, "eval_id")
      .select(col("cell"), col("eval_id"), col("embedding").as("ve"),
        VectorOps.norm(col("embedding")).as("ne"),
        col("set_id"), col("set_version"))
    semDecontamFrom(Tables.embeddings(spark, dir),
      cells.select("vec_id", "cell"), extraEval = Some(extEval))
  }

  /** [[q142SemDecontam]] over caller-supplied embeddings + cells (`cap`
    * overridable so the degradation is spec-testable at crafted
    * populations; `extraEval` is the external suites' pre-assigned
    * eval side, unioned before the census so the cap discipline is one
    * definition for both families).
    */
  private[graft] def semDecontamFrom(e: DataFrame, cells: DataFrame,
      cap: Long = CellCap,
      extraEval: Option[DataFrame] = None): DataFrame = {
    val memb = cells.join(e, "vec_id")
      .select(col("cell"), col("vec_id"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nrm"))
    val residueEval = memb
      .select(col("cell"), col("vec_id").as("eval_id"),
        col("embedding").as("ve"), col("nrm").as("ne"),
        explode(EvalSets.memberSets(col("vec_id"))).as("s"))
      .select(col("cell"), col("eval_id"), col("ve"), col("ne"),
        col("s")("set_id").as("set_id"),
        col("s")("set_version").as("set_version"))
    val eval = extraEval.fold(residueEval)(residueEval.unionByName(_))
    val train = memb.filter(!EvalSets.inAnySet(col("vec_id")))
      .select(col("cell"), col("vec_id"),
        col("embedding").as("vt"), col("nrm").as("nt"))
    val census = eval.groupBy("cell", "set_id")
      .agg(count(lit(1)).as("pop"), min("eval_id").as("rep"))
    val scored = train.join(eval, "cell")
      .join(broadcast(census), Seq("cell", "set_id"))
      .filter(col("pop") <= cap || col("eval_id") === col("rep"))
      .withColumn("cos", VectorOps.round6(
        VectorOps.dot(col("vt"), col("ve")) / (col("nt") * col("ne"))))
      .filter(col("cos") >= Tau)
    val part = Window.partitionBy("vec_id", "set_id")
    scored
      .withColumn("n_hits", count(lit(1)).over(part))
      .withColumn("rn", row_number().over(
        part.orderBy(desc("cos"), asc("eval_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("set_id"), col("set_version"),
        col("n_hits"), col("cos").as("max_cos"),
        col("eval_id").as("closest_eval"))
      .orderBy("vec_id", "set_id")
  }

  /** [[Ivf.cellsCtes]] + the registry as VALUES + the same
    * train × member within-cell screen, per-(cell, set) cap included.
    */
  lazy val q142OracleSql: String = {
    val cos = VectorOps.round6Sql(
      VectorOps.cosineSql("t.embedding", "e.embedding"))
    val dist = "list_sum(list_transform(generate_series(1, len(q)), " +
      "i -> (q[i] - c[i]) * (q[i] - c[i])))"
    // per external suite: read its vectors, quantize, assign to the
    // trained cells by the corpus assignment's exact argmin
    val xCtes = EvalSets.ExternalRegistry.zipWithIndex.map { case (s, i) =>
      s"""xv$i AS MATERIALIZED (
         |${EvalSets.externalVectorSql(s)}
         |), xc$i AS MATERIALIZED (
         |  SELECT eval_id, embedding, cell FROM (
         |    SELECT v.eval_id, v.embedding, c.cell,
         |           row_number() OVER (PARTITION BY v.eval_id
         |             ORDER BY $dist, c.cell) AS rn
         |    FROM (SELECT eval_id, embedding,
         |                 ${Ivf.quantizeSql("embedding")} AS q
         |          FROM xv$i) v
         |    CROSS JOIN cent${Ivf.Iters} c
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(", ")
    val xUnions = EvalSets.ExternalRegistry.zipWithIndex.map { case (s, i) =>
      s"""  UNION ALL
         |  SELECT x.cell, x.eval_id, x.embedding,
         |         '${s.setId}' AS set_id, ${s.version} AS set_version
         |  FROM xc$i x""".stripMargin
    }.mkString("\n")
    s"""WITH ${Ivf.cellsCtes},
       |reg(set_id, set_version, md, res) AS (
       |  VALUES ${EvalSets.registrySql}
       |), $xCtes, memb AS (
       |  SELECT c.cell, c.vec_id, e.embedding
       |  FROM cells c JOIN embeddings e ON c.vec_id = e.vec_id
       |), ev AS (
       |  SELECT m.cell, m.vec_id AS eval_id, m.embedding,
       |         r.set_id, r.set_version
       |  FROM memb m JOIN reg r ON m.vec_id % r.md = r.res
       |$xUnions
       |), tr AS (
       |  SELECT m.cell, m.vec_id, m.embedding FROM memb m
       |  WHERE NOT EXISTS (SELECT 1 FROM reg r
       |                    WHERE m.vec_id % r.md = r.res)
       |), census AS (
       |  SELECT cell, set_id, COUNT(*) AS pop, MIN(eval_id) AS rep
       |  FROM ev GROUP BY cell, set_id
       |), scored AS (
       |  SELECT t.vec_id, e.set_id, e.set_version, e.eval_id,
       |         $cos AS cos
       |  FROM tr t
       |  JOIN ev e ON t.cell = e.cell
       |  JOIN census c ON c.cell = e.cell AND c.set_id = e.set_id
       |  WHERE (c.pop <= $CellCap OR e.eval_id = c.rep)
       |    AND $cos >= $Tau
       |)
       |SELECT vec_id, set_id, set_version, n_hits, cos AS max_cos,
       |       eval_id AS closest_eval
       |FROM (
       |  SELECT vec_id, set_id, set_version, eval_id, cos,
       |         COUNT(*) OVER (PARTITION BY vec_id, set_id) AS n_hits,
       |         row_number() OVER (PARTITION BY vec_id, set_id
       |           ORDER BY cos DESC, eval_id) AS rn
       |  FROM scored
       |) WHERE rn = 1
       |ORDER BY vec_id, set_id""".stripMargin
  }
}
