package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{Ivf, Pq}

/** The standing ANN recall-eval tables (`eval_ivfadc`,
  * `eval_ivfadc_residual`, `eval_nprobe_sweep`): artifact ≡ the inline
  * scoring pass for all three consumers, a second materialize serves
  * the committed tables, the artifact-mode plans read the root, and a
  * mutated embeddings tree is never served a stale eval (fingerprint
  * miss → inline on the NEW table).
  */
class AnnEvalArtifactsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("artifact ≡ inline for q140/q143/q146, idempotent, plans read the root") {
    val inline140 = rows(Pq.q140IvfAdcRecall(spark, sf))
    val inline143 = rows(Ivf.q143NprobeSweep(spark, sf))
    val inline146 = rows(Pq.q146IvfAdcResidualRecall(spark, sf))
    Checkpoints.releaseAll()
    val root = Files.createTempDirectory("graft-anneval-root").toFile
    try {
      Artifacts.setRoot(root.getAbsolutePath)
      // the evals score against the standing indexes; commit those first
      Artifacts.materializeEmbeddings(spark, sf)
      val n = Artifacts.materializeAnnEvals(spark, sf)
      assert(n ==
        (inline140.size + inline143.size + inline146.size).toLong,
        s"committed $n rows across the three tables")
      val checks = Seq(
        ("q140", () => Pq.q140IvfAdcRecall(spark, sf), inline140),
        ("q143", () => Ivf.q143NprobeSweep(spark, sf), inline143),
        ("q146", () => Pq.q146IvfAdcResidualRecall(spark, sf), inline146))
      checks.foreach { case (name, mk, want) =>
        val df = mk()
        assert(rows(df) == want, s"artifact-mode $name drifted from inline")
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains(root.getName),
          s"$name plan does not read the artifact root:\n" + p.take(600))
      }
      // idempotent: the second call reports the committed counts
      assert(Artifacts.materializeAnnEvals(spark, sf) == n)
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(root)
      Checkpoints.releaseAll()
    }
  }

  test("a mutated embeddings tree is never served a stale eval") {
    val root = Files.createTempDirectory("graft-anneval-stale-root").toFile
    val corpusParent = Files.createTempDirectory("graft-anneval-stale").toFile
    val corpus = s"${corpusParent.getPath}/c"
    try {
      spark.read.parquet(s"$sf/embeddings.parquet")
        .write.parquet(s"$corpus/embeddings.parquet")
      Tables.invalidate(corpus)
      Artifacts.setRoot(root.getAbsolutePath)
      assert(Artifacts.materializeAnnEvals(spark, corpus) >= 0L)
      assert(Artifacts.current(spark, corpus,
        Artifacts.NprobeSweepEvalName).nonEmpty)
      // shrink the table in place → fingerprint moves → fallback inline
      val shrunk = spark.read.parquet(s"$corpus/embeddings.parquet")
        .filter(col("vec_id") < 40).collect().toSeq
      val schema = spark.read.parquet(s"$corpus/embeddings.parquet").schema
      spark.createDataFrame(
          spark.sparkContext.parallelize(shrunk), schema)
        .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
      Tables.invalidate(corpus)
      Artifacts.AnnEvalNames.foreach { name =>
        assert(Artifacts.current(spark, corpus, name).isEmpty,
          s"a stale $name must never be served")
      }
      val got = rows(Ivf.q143NprobeSweep(spark, corpus))
      Checkpoints.releaseAll()
      val fresh = rows(Ivf.nprobeSweepFrame(spark, corpus))
      assert(got == fresh,
        "post-mutation q143 must equal the inline pass over the new table")
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(corpus)
      deleteRecursively(root)
      deleteRecursively(corpusParent)
      Checkpoints.releaseAll()
    }
  }
}
