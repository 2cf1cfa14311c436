package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusOps, Curation}

/** q88 (takedown cascade) and q89 (temperature-scaled mixture):
  * hand-computed fixtures for the cluster expansion and the α=1/2
  * reweighting math, plus the structural invariants each promises.
  */
class TakedownMixtureSpec extends SparkSpec {

  private def writeDocs(dir: java.io.File,
      rows: Seq[(Long, String, String, String)]): Unit = {
    import spark.implicits._
    rows.map { case (id, t, lang, src) =>
      (id, t, lang, src, Option(t).map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"${dir.getPath}/documents.parquet")
  }

  // ---- q88 ---------------------------------------------------------------

  test("q88 sweeps a seed's exact-duplicate cluster-mates into the removal") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q88").toFile
    try {
      // seeds (doc_id % 101 == 0): 0 and 101. doc 5 duplicates doc 0's
      // text → same cluster → swept in as a non-seed. doc 7 untouched.
      writeDocs(dir, Seq(
        (0L, "alpha beta gamma delta", "en", "web"),
        (5L, "alpha beta gamma delta", "en", "web"),
        (7L, "totally unrelated content here", "en", "web"),
        (101L, "epsilon zeta eta theta", "en", "web")))
      val out = Curation.q88TakedownCascade(spark, dir.getPath)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("keeper_id"), r.getAs[Boolean]("is_seed")))).toMap
      assert(out.keySet == Set(0L, 5L, 101L),
        s"removal closure wrong: ${out.keySet}")
      assert(out(0L) == ((0L, true)))
      assert(out(5L) == ((0L, false)),
        "the duplicate of a seed must be swept in as a non-seed")
      assert(out(101L) == ((101L, true)))
    } finally deleteRecursively(dir)
  }

  test("q88 production entry point takes an explicit seed list") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q88s").toFile
    try {
      writeDocs(dir, Seq(
        (1L, "alpha beta gamma delta", "en", "web"),
        (2L, "alpha beta gamma delta", "en", "web"),
        (3L, "totally unrelated content here", "en", "web")))
      // doc 2 named TWICE (two overlapping requests): the closure must
      // still be one row per document, not a fanned-out join
      val seeds = Seq(2L, 2L).toDF("doc_id")
      val rows = Curation.takedownCascade(spark, dir.getPath, seeds).collect()
      assert(rows.length == 2, s"duplicate seed fanned out: ${rows.length} rows")
      val out = rows.map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("is_seed")).toMap
      assert(out == Map(1L -> false, 2L -> true),
        "naming ANY cluster member must remove the whole cluster")
    } finally deleteRecursively(dir)
  }

  test("q88 closure is cluster-complete and seed-covering on the corpus") {
    val keepers = graft.Artifacts.serve(spark, sf, graft.Artifacts.KeepersName)
      .select("doc_id", "keeper_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = Curation.q88TakedownCascade(spark, sf).collect()
    val removed = out.map(_.getAs[Long]("doc_id")).toSet
    val seeds = keepers.keySet.filter(_ % 101 == 0)
    assert(seeds.subsetOf(removed), "every seed must be removed")
    assert(out.forall(r => keepers(r.getAs[Long]("doc_id")) ==
        r.getAs[Long]("keeper_id")))
    // cluster-completeness: any cluster touching the removal set is
    // wholly contained in it
    val hitClusters = removed.map(keepers)
    val expected = keepers.collect {
      case (d, k) if hitClusters(k) => d }.toSet
    assert(removed == expected,
      "removal must be a union of whole clusters")
  }

  // ---- q89 ---------------------------------------------------------------

  test("q89 α=1/2 reweighting on a hand-computed two-stratum fixture") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q89").toFile
    try {
      // stratum (de,news): 16 tokens; (en,web): 9 tokens; total 25
      // shares 0.64 / 0.36 → √ = 0.8 / 0.6, z = 1.4
      // weights 0.571429 / 0.428571; boosts 0.892857 / 1.190476
      writeDocs(dir, Seq(
        (1L, (1 to 16).map(i => s"d$i").mkString(" "), "de", "news"),
        (2L, (1 to 9).map(i => s"e$i").mkString(" "), "en", "web")))
      val out = CorpusOps.q89TemperatureMixture(spark, dir.getPath)
        .collect().map(r => (r.getAs[String]("lang"),
          (r.getAs[Long]("n_tokens"), r.getAs[Double]("token_share"),
            r.getAs[Double]("temp_weight"), r.getAs[Double]("boost")))).toMap
      assert(out("de") == ((16L, 0.64, 0.571429, 0.892857)))
      assert(out("en") == ((9L, 0.36, 0.428571, 1.190476)))
    } finally deleteRecursively(dir)
  }

  test("q89 zero-token stratum under a zero-capable tokenizer: NULL boost, no NaN") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q89z").toFile
    try {
      // BpePre yields ZERO tokens for whitespace-only text, so the
      // (de, news) stratum has token_share exactly 0.0 — its boost is
      // undefined (0/0) and must surface as NULL, never NaN
      writeDocs(dir, Seq(
        (1L, "real words with actual tokens", "en", "web"),
        (2L, "   ", "de", "news")))
      val out = CorpusOps.temperatureMixture(spark, dir.getPath,
        graft.functions.Tokenizer.BpePre)
        .collect().map(r => r.getAs[String]("lang") -> r).toMap
      val zero = out("de")
      assert(zero.getAs[Long]("n_tokens") == 0L)
      assert(zero.getAs[Double]("token_share") == 0.0)
      assert(zero.getAs[Double]("temp_weight") == 0.0)
      assert(zero.isNullAt(zero.fieldIndex("boost")),
        s"undefined boost must be NULL, got ${zero.getAs[Double]("boost")}")
      assert(out("en").getAs[Double]("temp_weight") == 1.0)
    } finally deleteRecursively(dir)
  }

  test("q89 flattens monotonically: weights sum to 1, order preserved, " +
      "head damped and tail boosted") {
    val rows = CorpusOps.q89TemperatureMixture(spark, sf).collect()
    assert(rows.nonEmpty)
    val wSum = rows.map(_.getAs[Double]("temp_weight")).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weights sum to $wSum")
    // same ordering as raw shares (α-scaling is monotone), but
    // compressed: boost = 1/(z·√p) crosses 1 exactly at p = 1/z²,
    // damping strata above that share and boosting those below it
    val shares = rows.map(_.getAs[Double]("token_share"))
    val z = shares.map(math.sqrt).sum
    val cross = 1.0 / (z * z)
    rows.foreach { r =>
      val share = r.getAs[Double]("token_share")
      val boost = r.getAs[Double]("boost")
      if (share > cross * 1.01) assert(boost < 1.0,
        s"head stratum not damped: share=$share boost=$boost")
      if (share < cross * 0.99) assert(boost > 1.0,
        s"tail stratum not boosted: share=$share boost=$boost")
    }
    val bySorted = rows.sortBy(_.getAs[Double]("token_share"))
    val weights = bySorted.map(_.getAs[Double]("temp_weight"))
    assert(weights.zip(weights.tail).forall { case (a, b) => a <= b },
      "α-scaling must preserve the share ordering")
  }
}
