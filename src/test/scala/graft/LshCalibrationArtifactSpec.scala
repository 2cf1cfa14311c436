package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** The standing LSH calibration table (`lsh_calibration`): artifact ≡
  * the inline four-config pass, a second materialize serves the
  * committed table, and a mutated corpus is never served the stale
  * calibration (fingerprint miss → inline fallback on the NEW corpus).
  */
class LshCalibrationArtifactSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("artifact ≡ inline, idempotent, served from the standing table") {
    val inline = rows(Dedup.q141LshCalibration(spark, sf))
    val root = Files.createTempDirectory("graft-calib-root").toFile
    try {
      Artifacts.setRoot(root.getAbsolutePath)
      val n = Artifacts.materializeLshCalibration(spark, sf)
      assert(n == inline.size.toLong, s"committed $n rows, inline has ${inline.size}")
      val df = Dedup.q141LshCalibration(spark, sf)
      assert(rows(df) == inline, "artifact-mode q141 drifted from inline")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains(root.getName),
        "q141 plan does not read the artifact root:\n" + p.take(600))
      // idempotent: the second call reports the committed count
      assert(Artifacts.materializeLshCalibration(spark, sf) == n)
    } finally {
      Artifacts.clearRoot()
      deleteRecursively(root)
      Checkpoints.releaseAll()
    }
  }

  test("a mutated corpus is never served the stale calibration") {
    val root = Files.createTempDirectory("graft-calib-stale-root").toFile
    val corpusParent = Files.createTempDirectory("graft-calib-stale").toFile
    val corpus = s"${corpusParent.getPath}/c"
    try {
      spark.read.parquet(s"$sf/documents.parquet").limit(40)
        .write.parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      Artifacts.setRoot(root.getAbsolutePath)
      Artifacts.materializeLshCalibration(spark, corpus)
      assert(Artifacts.current(spark, corpus, Artifacts.LshCalibrationName).nonEmpty,
        "fresh corpus must resolve the committed table")
      // mutate the corpus: the standing table's fingerprint no longer
      // resolves, so the consumer recomputes inline on the NEW corpus
      spark.read.parquet(s"$sf/documents.parquet")
        .orderBy(col("doc_id").desc).limit(5)
        .withColumn("doc_id", col("doc_id") + lit(900000L))
        .write.mode("append").parquet(s"$corpus/documents.parquet")
      Tables.invalidate(corpus)
      assert(Artifacts.current(spark, corpus, Artifacts.LshCalibrationName).isEmpty,
        "a stale calibration must never be served")
      val fresh = rows(Dedup.lshCalibrationFrame(spark, corpus))
      assert(rows(Dedup.q141LshCalibration(spark, corpus)) == fresh,
        "post-mutation q141 must equal the inline pass over the new corpus")
    } finally {
      Artifacts.clearRoot()
      Tables.invalidate(corpus)
      deleteRecursively(root)
      deleteRecursively(corpusParent)
      Checkpoints.releaseAll()
    }
  }
}
