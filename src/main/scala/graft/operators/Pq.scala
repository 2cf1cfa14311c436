package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps

/** Product quantization with asymmetric-distance search (Jégou,
  * Douze & Schmid 2011, "Product Quantization for Nearest Neighbor
  * Search"): the embedding space is split into [[SubM]] orthogonal
  * [[SubDim]]-dim subspaces, each compressed by its own [[PqK]]-word
  * codebook (per-subspace Lloyd, the q125 integer-arithmetic
  * discipline), and search runs over the CODES — each vector pays
  * [[SubM]] small integers of memory, and a probe scores a vector by
  * summing per-subspace table lookups (ADC) instead of touching the
  * raw floats. This is the compressed-exhaustive posture a 100 TB
  * vector corpus actually ships: the codes table is ~64× smaller than
  * the embeddings, the distance tables are (probes × [[SubM]] ×
  * [[PqK]]) and broadcast, and the scan is one equi-join + sum.
  *
  * All training and search arithmetic is exact-integer in q125's
  * quantized space (squared L2 over [[Ivf.QuantScale]]-scaled longs;
  * centroid means via [[Ivf.roundDiv]]), so the DuckDB oracle replays
  * the identical fused loop bit-for-bit. Recall is measured against
  * the EXACT integer-L2 top-[[TopK]] in the same quantized space —
  * the paper's own protocol, isolating pure quantization loss.
  */
object Pq {

  /** Subspaces (dim 64 → eight 8-dim slices). */
  val SubM = 8

  /** Dimensions per subspace. */
  val SubDim = 8

  /** Codewords per subspace codebook. */
  val PqK = 8

  /** Fixed Lloyd iterations per subspace (fused into one corpus pass
    * per iteration across all subspaces).
    */
  val PqIters = 2

  private val TopK = 10

  /** Exact integer squared-L2 between two long-array columns. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** `(vec_id, m, sq)` — every vector's [[SubM]] subvectors, one row
    * per (vector, subspace).
    */
  private[graft] def subvectors(quant: DataFrame): DataFrame =
    quant.select(col("vec_id"),
      posexplode(array((0 until SubM).map(m =>
        slice(col("q"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "sq")))

  /** Codebooks as a small driver-built frame `(m, k, cw)` — the
    * `pq_codebooks` artifact shape.
    */
  private[graft] def codebookFrame(spark: SparkSession,
      cb: Seq[(Int, Int, Array[Long])]): DataFrame = {
    import spark.implicits._
    cb.map { case (m, k, c) => (m, k, c.toSeq) }.toDF("m", "k", "cw")
  }

  /** Collect a `pq_codebooks`-shaped frame back to literal form. */
  private[graft] def collectCodebooks(
      df: DataFrame): Seq[(Int, Int, Array[Long])] =
    df.collect().map(r => (r.getAs[Int]("m"), r.getAs[Int]("k"),
      r.getAs[scala.collection.Seq[Long]]("cw").toArray))
      .sortBy(t => (t._1, t._2)).toSeq

  /** `(vec_id, code)` with `code` the length-[[SubM]] codeword-id array
    * — the `pq_codes` artifact shape (one row per vector, [[SubM]]
    * small ints: the compressed corpus itself).
    */
  private[graft] def codesFrame(sub: DataFrame, cb: DataFrame): DataFrame =
    assign(sub, cb)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("k")))),
        s => s("k")).as("code"))

  /** Per-(vector, subspace) argmin codeword against a codebook frame —
    * ties toward the smaller k via lexicographic struct-min (a
    * partial-aggregatable shape, no window). Keeps `sq` for the update
    * step (k is unique per group, so the array field never decides).
    */
  private def assign(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"),
        struct(sqDist(col("sq"), col("cw")).as("dist"), col("k"),
          col("sq")).as("c"))
      .groupBy("vec_id", "m")
      .agg(min(col("c")).as("best"))
      .select(col("vec_id"), col("m"), col("best")("k").as("k"),
        col("best")("sq").as("sq"))

  /** Residual vectors `(vec_id, q)` in the quantized space: each vector
    * minus its assigned coarse centroid — the signal the RESIDUAL
    * product quantizer (q146) encodes. Exact long subtraction, so the
    * residual space keeps q125's cross-engine determinism.
    */
  private[graft] def residuals(quant: DataFrame, cells: DataFrame,
      cents: Seq[(Int, Array[Long])]): DataFrame =
    quant.join(cells, "vec_id")
      .join(broadcast(Ivf.centroidsFrame(quant.sparkSession, cents)), "cell")
      .select(col("vec_id"),
        zip_with(col("q"), col("centroid"), _ - _).as("q"))

  /** Fused PQ training: [[PqIters]] Lloyd iterations over the
    * deterministic hash sample of the subvector frame
    * ([[Ivf.TrainSampleTarget]] vectors — the same sampled-codebook
    * discipline as [[Ivf.train]]; the corpus-wide pass is only the
    * final [[codesFrame]] encoding), the sample collected once and
    * each iteration ONE driver-local pass covering all [[SubM]]
    * subspaces at once. Init = the [[PqK]] smallest sampled `vec_id`s'
    * subvectors per subspace, codeword ids in that order; an emptied
    * codeword keeps its previous value.
    */
  private[graft] def train(sub: DataFrame): Seq[(Int, Int, Array[Long])] = {
    val mod = Ivf.sampleModulus(sub.select("vec_id").distinct().count())
    val tsub =
      if (mod == 1L) sub
      else sub.filter(Ivf.inTrainSample(col("vec_id"), mod))
    // bounded by the sample target × SubM — collect and run the fused
    // loop driver-local (the Ivf.train posture; iterations cost
    // arithmetic, not PqIters × job-scheduling floor)
    val rows = tsub.select("vec_id", "m", "sq").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("m"),
        r.getAs[scala.collection.Seq[Long]]("sq").toArray))
      .sortBy(t => (t._1, t._2))
    val ids = rows.map(_._1).distinct.sorted
    require(ids.nonEmpty, "empty PQ training frame")
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // init: the PqK smallest sampled ids' subvectors, per subspace —
    // min(PqK, n) codewords on a tiny corpus
    val initIds = ids.take(PqK)
    val kk = initIds.length
    var cb: Array[Array[Array[Long]]] = Array.tabulate(SubM) { m =>
      initIds.map(id =>
        rows.find(t => t._1 == id && t._2 == m).get._3.clone)
    }
    for (_ <- 1 to PqIters) {
      // sized from the codebook, not [[SubDim]]: slices of a
      // shorter-than-64-dim vector run short (and can differ by m)
      val sums = Array.tabulate(SubM, kk)((m, k) =>
        new Array[Long](cb(m)(k).length))
      val cnts = Array.ofDim[Long](SubM, kk)
      rows.foreach { case (_, m, sq) =>
        var best = 0
        var bestD = d2(sq, cb(m)(0))
        var k = 1
        while (k < kk) {
          val d = d2(sq, cb(m)(k))
          if (d < bestD) { bestD = d; best = k } // tie keeps the smaller k
          k += 1
        }
        var i = 0
        while (i < sq.length) { sums(m)(best)(i) += sq(i); i += 1 }
        cnts(m)(best) += 1
      }
      cb = Array.tabulate(SubM, kk) { (m, k) =>
        if (cnts(m)(k) == 0L) cb(m)(k)
        else sums(m)(k).map(s => Ivf.roundDiv(s, cnts(m)(k)))
      }
    }
    (for (m <- 0 until SubM; k <- 0 until kk) yield (m, k, cb(m)(k))).toSeq
  }

  /** q139 — PQ-ADC recall vs the exact integer-L2 baseline, per probe:
    * train the codebooks, encode every vector as [[SubM]] codes (one
    * final assignment against the trained books), build each probe's
    * (subspace × codeword) distance table, score the whole corpus by
    * table-lookup sums, and compare the ADC top-[[TopK]] against the
    * exact quantized-space top-[[TopK]]. Output
    * `(probe_id, n_exact, n_hit, recall)` — the q92/q125 harness
    * shape applied to the compressed index.
    *
    * Scale shape: the codebooks and codes are standing
    * embedding-fingerprint artifacts (`pq_codebooks`/`pq_codes`,
    * exactly like `ivf_centroids`/`ivf_cells`) — training is
    * [[PqIters]]+1 subvector passes paid once per embedding snapshot;
    * the search side joins the CODES frame against a broadcast
    * distance table and sums — no float vector is touched after
    * encoding, which is the entire point of PQ at 100 TB.
    */
  def q139PqRecall(spark: SparkSession, dir: String): DataFrame = {
    val (cbLit, codesArr) = graft.Artifacts.pqModel(spark, dir)
    val codes = codesArr
      .select(col("vec_id"), posexplode(col("code")).as(Seq("m", "k")))
    // fanned: the checkpoint materializes the per-vector quantize
    // projection over the whole corpus, which on a single-split local
    // scan otherwise runs on one core
    val quant = graft.Checkpoints.checkpoint(
      Ivf.quantized(Tables.embeddingsFanned(spark, dir)))
    val approx = codes
      .join(broadcast(dtableFrame(quant, codebookFrame(spark, cbLit))),
        Seq("m", "k"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(sum("d").as("adc"))
    recallVsExact(quant, approx)
  }

  /** Probe-side ADC distance tables `(probe_id, m, k, d)` — the
    * (probes × [[SubM]] × [[PqK]]) lookup frame, always broadcast.
    */
  private def dtableFrame(quant: DataFrame, cb: DataFrame): DataFrame =
    subvectors(Ivf.topProbes(quant))
      .select(col("vec_id").as("probe_id"), col("m"), col("sq"))
      .join(broadcast(cb), "m")
      .select(col("probe_id"), col("m"), col("k"),
        sqDist(col("sq"), col("cw")).as("d"))

  /** Rank a per-(probe, vector) ADC score frame, compare against the
    * exact integer-L2 top-[[TopK]] in the same quantized space, and
    * score recall — the shared q139/q140 tail.
    */
  private def recallVsExact(quant: DataFrame, scored: DataFrame): DataFrame = {
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("adc").asc, col("vec_id").asc)
    val approx = scored
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= TopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        lit(1).as("hit"))
    val exactW = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("dist").asc, col("vec_id").asc)
    val exact = broadcast(Ivf.topProbes(quant)
        .select(col("vec_id").as("probe_id"), col("q").as("pq")))
      .join(quant.select(col("vec_id"), col("q")),
        col("vec_id") =!= col("probe_id"))
      .withColumn("dist", sqDist(col("pq"), col("q")))
      .withColumn("rank", row_number().over(exactW))
      .filter(col("rank") <= TopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"))
    // the approx side is probe-bounded (<= probes x TopK rows at ANY
    // corpus size) — broadcast it so the recall join skips the exchange
    // + sort pair on both probe-bounded sides
    exact.join(broadcast(approx), Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .withColumn("recall", VectorOps.round6(
        col("n_hit").cast("double") / col("n_exact")))
      .orderBy("probe_id")
  }

  // ---- q140: IVF-ADC — coarse cells + PQ codes, composed ------------------

  /** q140 — IVF-ADC search (Jégou, Douze & Schmid 2011 §V, the
    * "IVFADC" system): the trained coarse quantizer (q125's standing
    * `ivf_centroids`/`ivf_cells`) prunes the corpus to [[Ivf.Nprobe]]
    * cells per probe, and only those cells' vectors are scored — by
    * ADC table lookups over the standing `pq_codes` (q139), never a
    * raw float. Recall@[[TopK]] against the exact integer-L2
    * top-[[TopK]] in the same quantized space, so the number measures
    * the COMBINED coarse-pruning + quantization loss — sitting at or
    * below q125 (pruning only) and q139 (quantization only): the
    * operating point a deployed index actually runs.
    *
    * Scale shape: BOTH index structures are standing
    * embedding-fingerprint artifacts — nothing trains at query time
    * (plan-guarded); the probe side is ([[Ivf.Nprobe]] cells +
    * [[SubM]]×[[PqK]] distance rows) per probe, all broadcast; the
    * scan side touches only the probed cells' code rows via two
    * equi-joins and a partial-aggregating sum. Per-probe cost is
    * corpus/K × [[SubM]] lookups, independent of dimension — the
    * non-residual IVFADC memory/compute budget.
    */
  def q140IvfAdcRecall(spark: SparkSession, dir: String): DataFrame =
    // artifact-first (the lsh_calibration posture): the recall table is
    // a pure function of the embeddings table and the standing indexes,
    // so the scoring pass runs once per embeddings snapshot — a
    // consumer reads the probe-grain standing table (re-ordered after
    // the parquet round-trip; the inline plan carries its own orderBy)
    graft.Artifacts.current(spark, dir, graft.Artifacts.IvfAdcEvalName)
      .map(_.orderBy("probe_id"))
      .getOrElse(ivfAdcRecallFrame(spark, dir))

  /** The inline scoring pass — what the standing `eval_ivfadc` table
    * materializes and the rootless fallback runs per query.
    */
  private[graft] def ivfAdcRecallFrame(spark: SparkSession,
      dir: String): DataFrame = {
    val (cents, cells) = graft.Artifacts.ivfModel(spark, dir)
    val (cbLit, codesArr) = graft.Artifacts.pqModel(spark, dir)
    val codes = codesArr
      .select(col("vec_id"), posexplode(col("code")).as(Seq("m", "k")))
    // fanned: the checkpoint materializes the per-vector quantize
    // projection over the whole corpus, which on a single-split local
    // scan otherwise runs on one core
    val quant = graft.Checkpoints.checkpoint(
      Ivf.quantized(Tables.embeddingsFanned(spark, dir)))
    // coarse: probe → its Nprobe nearest cells, map-side vs the literal
    // centroids (same integer distance and tie-break training used)
    val probeCells = Ivf.topProbes(quant)
      .select(col("vec_id").as("probe_id"),
        slice(array_sort(Ivf.distStructs(col("q"), cents)), 1, Ivf.Nprobe)
          .as("near"))
      .select(col("probe_id"), explode(col("near")("cell")).as("cell"))
    val scored = broadcast(probeCells).join(cells, "cell")
      .filter(col("probe_id") =!= col("vec_id"))
      .select("probe_id", "vec_id")
      .join(codes, "vec_id")
      .join(broadcast(dtableFrame(quant, codebookFrame(spark, cbLit))),
        Seq("probe_id", "m", "k"))
      .groupBy("probe_id", "vec_id")
      .agg(sum("d").as("adc"))
    recallVsExact(quant, scored)
  }

  // ---- q146: residual IVF-ADC ----------------------------------------------

  /** q146 — RESIDUAL IVF-ADC (Jégou, Douze & Schmid 2011 §V.B, the
    * IVFADC system as actually published): q140 quantizes raw vectors,
    * but within a coarse cell the raw vectors share the centroid's
    * offset — the information the code spends bits on twice. Encoding
    * the RESIDUAL (vector − its cell's centroid) concentrates the
    * codebook on the within-cell variation, so the same [[SubM]]×
    * [[PqK]]-bit budget buys strictly more resolution. Search follows:
    * a probe's distance table is built per PROBED CELL (probe residual
    * against that cell's centroid vs the residual codebooks), and a
    * candidate is scored by lookups in its own cell's table. Output is
    * the q139/q140 recall harness — run beside q140, the recall lift
    * IS the value of residual encoding at equal bits.
    *
    * Scale shape: identical to q140 plus one broadcast of (probes ×
    * [[Ivf.Nprobe]] × [[SubM]] × [[PqK]]) distance rows instead of
    * (probes × [[SubM]] × [[PqK]]); the residual codebooks/codes are
    * the standing `pq_res_codebooks`/`pq_res_codes` artifacts; nothing
    * trains at query time (plan-guarded).
    */
  def q146IvfAdcResidualRecall(spark: SparkSession, dir: String): DataFrame =
    // artifact-first (see [[q140IvfAdcRecall]])
    graft.Artifacts.current(spark, dir, graft.Artifacts.IvfAdcResEvalName)
      .map(_.orderBy("probe_id"))
      .getOrElse(ivfAdcResidualRecallFrame(spark, dir))

  /** The inline residual scoring pass — what the standing
    * `eval_ivfadc_residual` table materializes and the rootless
    * fallback runs per query.
    */
  private[graft] def ivfAdcResidualRecallFrame(spark: SparkSession,
      dir: String): DataFrame = {
    val (cents, cells) = graft.Artifacts.ivfModel(spark, dir)
    val (cbLit, codesArr) = graft.Artifacts.pqResModel(spark, dir)
    val cb = codebookFrame(spark, cbLit)
    val codes = codesArr
      .select(col("vec_id"), posexplode(col("code")).as(Seq("m", "k")))
    // fanned: the checkpoint materializes the per-vector quantize
    // projection over the whole corpus, which on a single-split local
    // scan otherwise runs on one core
    val quant = graft.Checkpoints.checkpoint(
      Ivf.quantized(Tables.embeddingsFanned(spark, dir)))
    val probeCells = Ivf.topProbes(quant)
      .select(col("vec_id").as("probe_id"),
        slice(array_sort(Ivf.distStructs(col("q"), cents)), 1, Ivf.Nprobe)
          .as("near"))
      .select(col("probe_id"), explode(col("near")("cell")).as("cell"))
    // per-(probe, probed cell) residual → per-cell distance tables
    val dtable = probeCells
      .join(quant.select(col("vec_id").as("probe_id"), col("q")), "probe_id")
      .join(broadcast(Ivf.centroidsFrame(spark, cents)), "cell")
      .select(col("probe_id"), col("cell"),
        posexplode(array((0 until SubM).map(m =>
          slice(zip_with(col("q"), col("centroid"), _ - _),
            m * SubDim + 1, SubDim)): _*)).as(Seq("m", "sq")))
      .join(broadcast(cb), "m")
      .select(col("probe_id"), col("cell"), col("m"), col("k"),
        sqDist(col("sq"), col("cw")).as("d"))
    val scored = broadcast(probeCells).join(cells, "cell")
      .filter(col("probe_id") =!= col("vec_id"))
      .select("probe_id", "cell", "vec_id")
      .join(codes, "vec_id")
      .join(broadcast(dtable), Seq("probe_id", "cell", "m", "k"))
      .groupBy("probe_id", "vec_id")
      .agg(sum("d").as("adc"))
    recallVsExact(quant, scored)
  }

  /** Exact integer squared-L2 as oracle SQL over list expressions. */
  private def distSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** CTE chain `sub, tmod, tsub, cb0…cb[[PqIters]], codes` over an
    * existing source CTE — the oracle's replay of the fused Lloyd loop
    * (`sub` = subvector slices, `tsub` = the PolyHash-mod training
    * sample with modulus from `COUNT(*)` of the per-vector source —
    * identical to [[train]]'s distinct-id count, `cb0` = smallest
    * sampled ids' init per subspace, per iteration an assignment +
    * update pair over the SAMPLE) and the final corpus-wide `codes`
    * encoding — shared by the q139 and q140 oracles so the two can
    * never train different codebooks. Iteration CTEs are `p`-prefixed
    * to compose with [[Ivf.cellsCtes]], which owns `quant`, `tquant`,
    * `a<i>`, `sums<i>`, `cells`. Every constant is generated from the
    * same fields the Spark side trains with.
    */
  private def codesCtesFrom(src: String, pfx: String): String = {
    val ph = graft.functions.PolyHash.sql("CAST(s.vec_id AS VARCHAR)")
    val iters = (1 to PqIters).map { it =>
      s"""${pfx}pa$it AS (
         |  SELECT vec_id, m, k, sq FROM (
         |    SELECT s.vec_id, s.m, c.k, s.sq,
         |           row_number() OVER (PARTITION BY s.vec_id, s.m
         |             ORDER BY ${distSql("s.sq", "c.cw")}, c.k) AS rn
         |    FROM ${pfx}tsub s JOIN ${pfx}cb${it - 1} c ON s.m = c.m
         |  ) WHERE rn = 1
         |), ${pfx}psums$it AS (
         |  SELECT m, k, i, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS n
         |  FROM (SELECT m, k, generate_subscripts(sq, 1) AS i,
         |               unnest(sq) AS v FROM ${pfx}pa$it)
         |  GROUP BY m, k, i
         |), ${pfx}cb$it AS MATERIALIZED (
         |  SELECT p.m, p.k, COALESCE(u.cw, p.cw) AS cw
         |  FROM ${pfx}cb${it - 1} p LEFT JOIN (
         |    SELECT m, k, list(${Ivf.roundDivSql("s", "n")} ORDER BY i) AS cw
         |    FROM ${pfx}psums$it GROUP BY m, k
         |  ) u ON p.m = u.m AND p.k = u.k
         |)""".stripMargin
    }.mkString(", ")
    s"""${pfx}sub AS MATERIALIZED (
       |  SELECT vec_id, m,
       |         q[m * $SubDim + 1 : m * $SubDim + $SubDim] AS sq
       |  FROM $src, (SELECT unnest(generate_series(0, ${SubM - 1})) AS m)
       |), ${pfx}tmod AS (
       |  SELECT GREATEST(1, CAST(CEIL(COUNT(*) / ${Ivf.TrainSampleTarget}.0)
       |    AS BIGINT)) AS mm
       |  FROM $src
       |), ${pfx}tsub AS MATERIALIZED (
       |  SELECT s.vec_id, s.m, s.sq FROM ${pfx}sub s, ${pfx}tmod m
       |  WHERE $ph % m.mm = 0
       |), ${pfx}cb0 AS MATERIALIZED (
       |  SELECT m,
       |         CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1
       |           AS INTEGER) AS k,
       |         sq AS cw
       |  FROM ${pfx}tsub
       |  WHERE vec_id IN (SELECT DISTINCT vec_id FROM ${pfx}tsub
       |                   ORDER BY vec_id LIMIT $PqK)
       |), $iters, ${pfx}codes AS MATERIALIZED (
       |  SELECT vec_id, m, k FROM (
       |    SELECT s.vec_id, s.m, c.k,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY ${distSql("s.sq", "c.cw")}, c.k) AS rn
       |    FROM ${pfx}sub s JOIN ${pfx}cb$PqIters c ON s.m = c.m
       |  ) WHERE rn = 1
       |)""".stripMargin
  }

  /** CTE chain `sub, cb0…cb[[PqIters]], codes, dt` over an existing
    * `quant` CTE — the oracle's replay of the fused Lloyd loop (`sub`
    * = subvector slices, `cb0` = smallest-id init per subspace, per
    * iteration an assignment + update pair), the final `codes`
    * encoding, and the probe distance tables — shared by the q139 and
    * q140 oracles so the two can never train different codebooks; the
    * q146 oracle re-generates the same chain `r`-prefixed over the
    * residual source ([[codesCtesFrom]]). Iteration CTEs are
    * `p`-prefixed to compose with [[Ivf.cellsCtes]], which owns
    * `quant`, `a<i>`, `sums<i>`, `cells`. Every constant is generated
    * from the same fields the Spark side trains with.
    */
  private lazy val codesCtes: String =
    s"""${codesCtesFrom("quant", "")}, dt AS MATERIALIZED (
       |  SELECT s.vec_id AS probe_id, s.m, c.k,
       |         ${distSql("s.sq", "c.cw")} AS d
       |  FROM sub s JOIN cb$PqIters c ON s.m = c.m
       |  WHERE ${Ivf.probeInSql("s")}
       |)""".stripMargin

  /** `exact` CTE + final recall SELECT — the shared oracle tail: the
    * exact quantized-space top-[[TopK]] baseline and the per-probe
    * recall rollup (expects an `approx(probe_id, neighbor_id)` CTE).
    */
  private lazy val recallTailSql: String = {
    val recall = VectorOps.round6Sql(
      "CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*)")
    s"""exact AS (
       |  SELECT probe_id, vec_id AS neighbor_id FROM (
       |    SELECT p.vec_id AS probe_id, v.vec_id,
       |           row_number() OVER (PARTITION BY p.vec_id
       |             ORDER BY ${distSql("p.q", "v.q")}, v.vec_id) AS rank
       |    FROM quant p JOIN quant v ON v.vec_id <> p.vec_id
       |    WHERE ${Ivf.probeInSql("p")}
       |  ) WHERE rank <= $TopK
       |)
       |SELECT e.probe_id, COUNT(*) AS n_exact,
       |       COUNT(a.neighbor_id) AS n_hit,
       |       $recall AS recall
       |FROM exact e LEFT JOIN approx a
       |  ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.probe_id
       |ORDER BY e.probe_id""".stripMargin
  }

  /** The identical fused loop unrolled ([[codesCtes]]), the whole-corpus
    * ADC scan, and the exact quantized-L2 baseline ([[recallTailSql]]).
    */
  lazy val q139OracleSql: String =
    s"""WITH quant AS (
       |  SELECT vec_id, ${Ivf.quantizeSql("embedding")} AS q FROM embeddings
       |), $codesCtes, approx AS (
       |  SELECT probe_id, vec_id AS neighbor_id FROM (
       |    SELECT sc.probe_id, sc.vec_id,
       |           row_number() OVER (PARTITION BY sc.probe_id
       |             ORDER BY sc.adc, sc.vec_id) AS rank
       |    FROM (
       |      SELECT dt.probe_id, co.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc
       |      FROM codes co JOIN dt ON co.m = dt.m AND co.k = dt.k
       |      WHERE co.vec_id <> dt.probe_id
       |      GROUP BY dt.probe_id, co.vec_id
       |    ) sc
       |  ) WHERE rank <= $TopK
       |), $recallTailSql""".stripMargin

  /** [[Ivf.cellsCtes]] (coarse training + assignment) composed with
    * [[codesCtes]] (PQ training + encoding): probes pick their
    * [[Ivf.Nprobe]] nearest trained cells, the ADC scan is restricted
    * to those cells' members, and the tail is the same exact-baseline
    * recall rollup.
    */
  lazy val q140OracleSql: String = {
    val cdist = "list_sum(list_transform(generate_series(1, len(q)), " +
      "i -> (q[i] - c[i]) * (q[i] - c[i])))"
    s"""WITH ${Ivf.cellsCtes}, $codesCtes, probe_cells AS (
       |  SELECT vec_id AS probe_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY $cdist, c.cell) AS rn
       |    FROM quant v CROSS JOIN cent${Ivf.Iters} c
       |    WHERE ${Ivf.probeInSql("v")}
       |  ) WHERE rn <= ${Ivf.Nprobe}
       |), approx AS (
       |  SELECT probe_id, vec_id AS neighbor_id FROM (
       |    SELECT sc.probe_id, sc.vec_id,
       |           row_number() OVER (PARTITION BY sc.probe_id
       |             ORDER BY sc.adc, sc.vec_id) AS rank
       |    FROM (
       |      SELECT pc.probe_id, co.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc
       |      FROM probe_cells pc
       |      JOIN cells cl ON pc.cell = cl.cell
       |      JOIN codes co ON co.vec_id = cl.vec_id
       |      JOIN dt ON co.m = dt.m AND co.k = dt.k
       |        AND dt.probe_id = pc.probe_id
       |      WHERE co.vec_id <> pc.probe_id
       |      GROUP BY pc.probe_id, co.vec_id
       |    ) sc
       |  ) WHERE rank <= $TopK
       |), $recallTailSql""".stripMargin
  }

  /** [[Ivf.cellsCtes]] + the residual source (`rquant` = quant minus
    * assigned centroid) + the same PQ chain `r`-prefixed
    * ([[codesCtesFrom]]) + per-(probe, probed-cell) residual distance
    * tables — the q140 oracle with residual encoding.
    */
  lazy val q146OracleSql: String = {
    val cdist = "list_sum(list_transform(generate_series(1, len(q)), " +
      "i -> (q[i] - c[i]) * (q[i] - c[i])))"
    s"""WITH ${Ivf.cellsCtes}, rquant AS MATERIALIZED (
       |  SELECT q.vec_id,
       |         list_transform(generate_series(1, len(q.q)),
       |           i -> q.q[i] - ct.c[i]) AS q
       |  FROM quant q
       |  JOIN cells cl ON q.vec_id = cl.vec_id
       |  JOIN cent${Ivf.Iters} ct ON cl.cell = ct.cell
       |), ${codesCtesFrom("rquant", "r")}, probe_cells AS (
       |  SELECT vec_id AS probe_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY $cdist, c.cell) AS rn
       |    FROM quant v CROSS JOIN cent${Ivf.Iters} c
       |    WHERE ${Ivf.probeInSql("v")}
       |  ) WHERE rn <= ${Ivf.Nprobe}
       |), pres AS (
       |  SELECT pc.probe_id, pc.cell,
       |         list_transform(generate_series(1, len(q.q)),
       |           i -> q.q[i] - ct.c[i]) AS q
       |  FROM probe_cells pc
       |  JOIN quant q ON q.vec_id = pc.probe_id
       |  JOIN cent${Ivf.Iters} ct ON pc.cell = ct.cell
       |), psub AS (
       |  SELECT probe_id, cell, m,
       |         q[m * $SubDim + 1 : m * $SubDim + $SubDim] AS sq
       |  FROM pres, (SELECT unnest(generate_series(0, ${SubM - 1})) AS m)
       |), rdt AS (
       |  SELECT s.probe_id, s.cell, s.m, c.k,
       |         ${distSql("s.sq", "c.cw")} AS d
       |  FROM psub s JOIN rcb$PqIters c ON s.m = c.m
       |), approx AS (
       |  SELECT probe_id, vec_id AS neighbor_id FROM (
       |    SELECT sc.probe_id, sc.vec_id,
       |           row_number() OVER (PARTITION BY sc.probe_id
       |             ORDER BY sc.adc, sc.vec_id) AS rank
       |    FROM (
       |      SELECT pc.probe_id, co.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc
       |      FROM probe_cells pc
       |      JOIN cells cl ON pc.cell = cl.cell
       |      JOIN rcodes co ON co.vec_id = cl.vec_id
       |      JOIN rdt dt ON dt.probe_id = pc.probe_id
       |        AND dt.cell = pc.cell AND co.m = dt.m AND co.k = dt.k
       |      WHERE co.vec_id <> pc.probe_id
       |      GROUP BY pc.probe_id, co.vec_id
       |    ) sc
       |  ) WHERE rank <= $TopK
       |), $recallTailSql""".stripMargin
  }
}
