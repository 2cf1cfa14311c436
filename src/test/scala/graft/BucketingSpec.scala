package graft

import org.apache.spark.sql.functions._
import graft.sources.Bucketing

/** The bucketed-join contract: two tables bucketed identically on the
  * join key must join with ZERO exchanges — the shuffle is paid once at
  * write time, never again. This is the plan property that makes a
  * daily-joined 100 TB fact table affordable; a regression here silently
  * reintroduces a full-corpus shuffle per join.
  */
class BucketingSpec extends SparkSpec {

  test("identically bucketed tables join with no exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source")
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    Bucketing.writeBucketed(docs, "b_docs", Seq("doc_id"), 8)
    Bucketing.writeBucketed(embs, "b_embs", Seq("doc_id"), 8)
    // broadcast off: the join must be exchange-free on its own merits,
    // not saved by the tables being test-sized
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_docs").join(spark.table("b_embs"), "doc_id")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), "bucketed join still shuffles:\n" + p.take(800))
      assert(p.contains("SortMergeJoin"), p.take(400))
      // and it returns the same rows as the plain path
      assert(joined.count() ==
        docs.join(embs, "doc_id").count())
    } finally {
      saved.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      spark.sql("DROP TABLE IF EXISTS b_docs")
      spark.sql("DROP TABLE IF EXISTS b_embs")
    }
  }

  test("a bucketed aggregate on the bucket key skips its exchange too") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text")
    Bucketing.writeBucketed(docs, "b_docs_agg", Seq("doc_id"), 8)
    try {
      val agg = spark.table("b_docs_agg")
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      agg.collect()
      val p = agg.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        "bucket-key aggregate still shuffles:\n" + p.take(800))
    } finally spark.sql("DROP TABLE IF EXISTS b_docs_agg")
  }
}
