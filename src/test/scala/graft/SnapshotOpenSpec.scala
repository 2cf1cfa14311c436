package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Opening parquet is a metadata read: [[Tables.parquet]] takes the
  * schema from one driver-side footer, so opening a snapshot fires no
  * Spark job, and the schema it returns is the one `spark.read.parquet`
  * infers with a job — every plan over it is unchanged.
  */
class SnapshotOpenSpec extends SparkSpec {

  private val TableNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def drain(): Unit =
    org.apache.spark.sql.GraftListenerBridge.drain(spark.sparkContext)

  /** Jobs started while `body` runs, counted between two bus drains. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain()
    spark.sparkContext.addSparkListener(listener)
    try { body; drain() }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  private def withNanosAsLong[T](body: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def withTmp[T](prefix: String)(body: String => T): T = {
    val tmp = Files.createTempDirectory(prefix).toFile
    try body(tmp.getAbsolutePath) finally deleteRecursively(tmp)
  }

  test("opening all 10 tables (handles plus footer row counts) fires no Spark job") {
    // a fresh copy of the snapshot: the memoized handles of the shared
    // test dir may already be warm in this JVM
    withTmp("graft-snapshot-open") { dir =>
      TableNames.foreach { t =>
        Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$dir/$t.parquet"))
      }
      val opens = Seq[(org.apache.spark.sql.SparkSession, String) => Any](
        Tables.region, Tables.nation, Tables.customer, Tables.supplier,
        Tables.part, Tables.orders, Tables.lineitem, Tables.events,
        Tables.documents, Tables.embeddings)
      val jobs = withNanosAsLong(jobsOf {
        opens.foreach(f => f(spark, dir))
        TableNames.foreach(t => Tables.rowCount(spark, dir, t))
      })
      assert(jobs == 0, s"opening a snapshot fired $jobs Spark jobs")
      Tables.invalidate(dir)
    }
  }

  test("Tables.parquet returns spark.read.parquet's schema for every table") {
    TableNames.foreach { t =>
      val p = s"$sf/$t.parquet"
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, t)
    }
    // `Tables.events` reads under nanosAsLong
    withNanosAsLong {
      val p = s"$sf/events.parquet"
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema)
    }
  }

  test("a TIMESTAMP(NANOS) footer resolves under nanosAsLong exactly as inference does") {
    withTmp("graft-snapshot-nanos") { dir =>
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,false)); }")
      val p = s"$dir/events.parquet"
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(p))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1700000000123456789L))
      finally w.close()
      withNanosAsLong {
        val footer = Tables.parquet(spark, p).schema
        assert(footer == spark.read.parquet(p).schema)
        assert(footer("ts").dataType == org.apache.spark.sql.types.LongType)
      }
      // without the flag Spark rejects the type, and so does the footer read
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try {
        val want = intercept[AnalysisException](spark.read.parquet(p)).getCondition
        val got = intercept[AnalysisException](Tables.parquet(spark, p)).getCondition
        assert(want != null && got == want, s"$got vs $want")
      } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("Spark-written directories: two side by side, _SUCCESS and field metadata") {
    withTmp("graft-snapshot-dirs") { dir =>
      val meta = new MetadataBuilder().putString("comment", "kept").build()
      def frame(lo: Long) = spark.range(lo, lo + 5)
        .select(col("id"), col("id").cast("string").as("s", meta),
          (col("id") % 2 === 0).as("even"))
      frame(0).write.parquet(s"$dir/a")
      frame(100).write.parquet(s"$dir/b")
      assert(new java.io.File(s"$dir/a/_SUCCESS").exists,
        "the fixture must hold a _SUCCESS marker")
      val paths = Seq(s"$dir/a", s"$dir/b")
      val viaFooter = Tables.parquet(spark, paths: _*)
      val inferred = spark.read.parquet(paths: _*)
      assert(viaFooter.schema == inferred.schema)
      assert(viaFooter.schema("s").metadata == meta)
      assert(viaFooter.orderBy("id").collect().toSeq ==
        inferred.orderBy("id").collect().toSeq)
      assert(Tables.parquet(spark, s"$dir/a").schema ==
        spark.read.parquet(s"$dir/a").schema)
    }
  }

  test("a path with no data file fails with spark.read.parquet's own error class") {
    withTmp("graft-snapshot-empty") { dir =>
      val empty = s"$dir/empty"
      new java.io.File(empty).mkdirs()
      new java.io.File(s"$empty/_SUCCESS").createNewFile()
      Seq(empty, s"$dir/missing").foreach { p =>
        val want = intercept[AnalysisException](spark.read.parquet(p)).getCondition
        val got = intercept[AnalysisException](Tables.parquet(spark, p)).getCondition
        assert(want != null && got == want, s"$p: $got vs $want")
      }
    }
  }

  test("inline q86 folds its token census once: one reused exchange") {
    val saved = Artifacts.root
    Artifacts.clearRoot()
    // every plan q86 executes — the rarity checkpoint included
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    var reused = 0
    def walk(p: SparkPlan): Unit = p.foreach {
      case _: ReusedExchangeExec => reused += 1
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ =>
    }
    spark.listenerManager.register(listener)
    try {
      Checkpoints.scoped {
        operators.TextAnalysis.q86UnigramSurprisal(spark, sf).collect()
      }
      drain()
    } finally {
      spark.listenerManager.unregister(listener)
      saved.foreach(Artifacts.setRoot)
    }
    plans.forEach(walk)
    assert(reused == 1, s"q86 reused $reused exchanges")
  }
}
