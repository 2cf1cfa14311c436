package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.CorpusAudit

/** The standing per-eval-item contamination report
  * (`eval_contamination`): artifact ≡ the inline test×train shingle
  * join, a second materialize serves the committed table, and a
  * mutated corpus is never served the stale report.
  */
class EvalContaminationArtifactSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("artifact ≡ inline, idempotent, served from the standing table") {
    val inline = rows(CorpusAudit.q112EvalContamination(spark, sf))
    val root = Files.createTempDirectory("graft-contam-root").toFile
    try {
      Artifacts.setRoot(root.getAbsolutePath)
      val n = Artifacts.materializeEvalContamination(spark, sf)
      assert(n == inline.size.toLong,
        s"committed $n rows, inline has ${inline.size}")
      val df = CorpusAudit.q112EvalContamination(spark, sf)
      assert(rows(df) == inline, "artifact-mode q112 drifted from inline")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains(root.getName),
        "q112 plan does not read the artifact root:\n" + p.take(600))
      assert(Artifacts.materializeEvalContamination(spark, sf) == n)
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(root)
      Checkpoints.releaseAll()
    }
  }

  test("a mutated corpus is never served the stale report") {
    val root = Files.createTempDirectory("graft-contam-stale-root").toFile
    val corpusParent = Files.createTempDirectory("graft-contam-stale").toFile
    val corpus = s"${corpusParent.getPath}/c"
    try {
      spark.read.parquet(s"$sf/documents.parquet").limit(40)
        .write.parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      Artifacts.setRoot(root.getAbsolutePath)
      Artifacts.materializeEvalContamination(spark, corpus)
      assert(Artifacts.current(spark, corpus,
        Artifacts.EvalContaminationName).nonEmpty,
        "fresh corpus must resolve the committed table")
      spark.read.parquet(s"$sf/documents.parquet")
        .orderBy(col("doc_id").desc).limit(5)
        .withColumn("doc_id", col("doc_id") + lit(900000L))
        .write.mode("append").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      assert(Artifacts.current(spark, corpus,
        Artifacts.EvalContaminationName).isEmpty,
        "a stale report must never be served")
      val fresh = rows(CorpusAudit.evalContaminationFrame(spark, corpus))
      assert(rows(CorpusAudit.q112EvalContamination(spark, corpus)) == fresh,
        "post-mutation q112 must equal the inline join over the new corpus")
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(corpus)
      deleteRecursively(root)
      deleteRecursively(corpusParent)
      Checkpoints.releaseAll()
    }
  }
}
