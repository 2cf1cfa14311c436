package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{Artifacts, Checkpoints, SparkEntry}

/** Command-line entry: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --out <dir> --expected <dir> --data <dir> --cache <dir>`
  * runs one workload and prints `GRAFTBENCH_RESULT <json>` as its last
  * stdout line. Two preparation modes run in their own JVM:
  * `--build-cache <dir> --data <dir>` builds the snapshots and artifacts
  * that `refresh_cycle` reads (see [[Run.buildCache]]), and `--oracle-sql <file>`
  * writes the oracle SQL of the checked queries for
  * `tools/oracle_digests.py`.
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, out: String = "", expected: String = "", data: String = "",
      cache: String = "", buildCache: String = "", oracleSql: String = "")

  def parse(argv: Seq[String]): Args = argv match {
    case Seq() => Args()
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parse(rest).copy(seconds = v.toInt)
    case "--trace" +: v +: rest => parse(rest).copy(trace = v == "1")
    case "--out" +: v +: rest => parse(rest).copy(out = v)
    case "--expected" +: v +: rest => parse(rest).copy(expected = v)
    case "--data" +: v +: rest => parse(rest).copy(data = v)
    case "--cache" +: v +: rest => parse(rest).copy(cache = v)
    case "--build-cache" +: v +: rest => parse(rest).copy(buildCache = v)
    case "--oracle-sql" +: v +: rest => parse(rest).copy(oracleSql = v)
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def session(cores: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "2048")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    if (a.oracleSql.nonEmpty) {
      val sql = Run.EtlQueries.map(n => "\"" + n + "\":\"" +
        Json.escape(SparkEntry.oracleSql(n)) + "\"").mkString("{", ",", "}")
      Files.write(Paths.get(a.oracleSql), sql.getBytes("UTF-8"))
      return
    }
    val cores = Runtime.getRuntime.availableProcessors
    val out = Paths.get(a.out).toAbsolutePath
    Files.createDirectories(out.resolve("tmp"))
    val spark = session(cores, out.resolve("tmp").toString)
    try {
      if (a.buildCache.nonEmpty) Run.buildCache(spark, a.data, Paths.get(a.buildCache))
      else {
        val run = new Run(spark, a, cores, out)
        val res = a.workload match {
          case "etl_hot" => run.etlHot()
          case "refresh_cycle" => run.refreshCycle()
          case w => throw new IllegalArgumentException(s"unknown workload: $w")
        }
        Files.write(out.resolve("report.json"), (res.report + "\n").getBytes("UTF-8"))
        if (a.trace) run.trace.write(out.resolve("spans.jsonl"))
        System.out.flush()
        println("GRAFTBENCH_RESULT " + res.line)
      }
    } finally spark.stop()
    System.out.flush()
  }
}

/** One measured query execution. Times in nanoseconds. `wall` excludes
  * the traced run's listener drain between construction and the action;
  * `compile` is driver-side codegen during the action and `exec` the
  * union of the action's Spark job intervals, so construct + plan +
  * compile + exec + release accounts for `wall` only as far as the
  * layers are measured. `cpu` is the CPU time of the JVM's Java threads
  * over the query (see [[Cost]]).
  */
final case class QueryObs(name: String, pass: Int, warm: Boolean, traced: Boolean,
    wall: Long, cpu: Long, construct: Long, plan: Long, analysis: Long, compile: Long, exec: Long,
    release: Long, pinned: Int, constructJobs: Long, counts: Counts,
    resources: graft.BenchMetricsListener.Snapshot, scans: Seq[String], fans: Int)

final case class Result(line: String, report: String)

/** Wall and CPU nanoseconds spent between two readings. CPU is the time
  * the JVM's Java threads ran: the program's driver thread, Spark's
  * scheduler and task threads and any pool the program starts. The JIT
  * compiler and GC threads are not Java threads and are left out, and
  * unlike wall time it does not grow while the hypervisor runs other
  * guests on the machine's cores.
  */
final case class Cost(wall: Long, cpu: Long) {
  def -(o: Cost): Cost = Cost(wall - o.wall, cpu - o.cpu)
}

object Cost {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** Last CPU reading of every thread seen, so that a thread's time
    * stays counted after it ends.
    */
  private val seen = scala.collection.mutable.HashMap.empty[Long, Long]

  /** Read from the driver thread only. */
  def now(): Cost = {
    val ids = mx.getAllThreadIds
    val cpu = mx.getThreadCpuTime(ids)
    var i = 0
    while (i < ids.length) {
      if (cpu(i) > 0) seen(ids(i)) = cpu(i)
      i += 1
    }
    Cost(System.nanoTime(), seen.valuesIterator.sum)
  }
}

object Run {
  val EtlQueries: Seq[String] = SparkEntry.queries.keys.toSeq
    .filter(_.matches("q([1-9]|1[0-6])_.*")).sortBy(_.drop(1).takeWhile(_.isDigit).toInt)
  val RefQueries: Set[String] = EtlQueries.take(4).toSet
  /** Queries served from text artifacts after the refresh. */
  val ReadSet: Seq[String] = Seq("q17_dedup_exact", "q26_token_count",
    "q40_dedup_keepers", "q41_corpus_select", "q54_dup_spans", "q59_dup_strip",
    "q86_unigram_surprisal", "q105_ngram_novelty")
  /** A query whose layer split misses its wall time by more than this
    * share counts as a reconciliation miss.
    */
  val ReconTolerance = 0.10
  /** Seed of the snapshot step `refresh_cycle` promotes. It is fixed,
    * not `--seed`, so that the promoted artifacts can be built once per
    * source tree; `--seed` orders the read passes.
    */
  val ChainSeed = 1L
  /** Untimed warm passes between the cold pass and the measured ones,
    * per workload: enough for the JIT to reach its plateau (about 25 s of
    * passes on a 4-core machine).
    */
  val Warmup: Map[String, Int] = Map("etl_hot" -> 2, "refresh_cycle" -> 4)
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Measured passes per run at least, however short `--seconds` is,
    * per workload. Set so that they outlast the `--seconds` in use: then
    * every run measures the same passes, and a fast run does not reach
    * further down the JIT's slow descent than a slow one.
    */
  val MinWarm: Map[String, Int] = Map("etl_hot" -> 2, "refresh_cycle" -> 5)
  /** Workload-level layer metrics (name, unit); a workload that does
    * not exercise a layer reports 0 for it.
    */
  val LayerExtras: Seq[(String, String)] = Seq(
    "ref_q1_q4_s" -> "s", "build.materialize_s" -> "s", "artifact_files" -> "count",
    "artifact_mb" -> "MB", "refresh_s" -> "s", "refresh.text_s" -> "s",
    "refresh.verdicts_s" -> "s", "refresh.changed_docs" -> "count",
    "refresh.affected_components" -> "count", "refresh.incremental_frac" -> "frac",
    "refresh.ms_per_changed_doc" -> "ms", "segments_max" -> "count",
    "segments_total" -> "count")

  /** Build the inputs of `refresh_cycle` under `dir`: `s0` links the
    * tables of `data` and `artifacts` is the root `Artifacts.materialize`
    * fills for it; `gen` holds the documents of the step that
    * [[DataGen.step]] draws from [[ChainSeed]], `s1` is that snapshot,
    * and `refreshed` is a copy of `artifacts` promoted to `s1` by
    * `Artifacts.materializeIncremental`. `inline.json` holds the read
    * set's digests on `s1` computed with no artifact root, which every
    * run's artifact-served reads must match. `READY` (written last)
    * records the build and refresh times.
    */
  def buildCache(spark: SparkSession, data: String, dir: Path): Unit = {
    val c = dir.toAbsolutePath
    if (Files.exists(c)) deleteTree(c)
    val s0 = DataGen.linkTables(data, c.resolve("s0").toString).toString
    Artifacts.setRoot(c.resolve("artifacts").toString)
    val t0 = System.nanoTime()
    Artifacts.materialize(spark, s0)
    Checkpoints.releaseAll(blocking = true)
    val built = (System.nanoTime() - t0) / 1e9
    val gen = c.resolve("gen").toString
    DataGen.writeDocs(spark, gen, DataGen.step(DataGen.readDocs(spark, s0), ChainSeed, 1)._1)
    val s1 = snapshot(s0, gen, c.resolve("s1"))
    copyTree(c.resolve("artifacts"), c.resolve("refreshed"))
    Artifacts.setRoot(c.resolve("refreshed").toString)
    val t1 = System.nanoTime()
    val x = Artifacts.materializeIncremental(spark, s0, s1)
    Checkpoints.releaseAll(blocking = true)
    require(x.mode == "incremental", s"refresh of the cached step ran in mode ${x.mode}")
    Artifacts.clearRoot()
    val inline = ReadSet.map { n =>
      val d = try {
        val df = SparkEntry.queries(n)(spark, s1)
        Digest.ofRows(df.columns.toSeq, df.collect())
      } catch {
        case e: Throwable => s"error: ${e.getClass.getSimpleName}"
      } finally Checkpoints.releaseAll(blocking = true)
      "\"" + n + "\":\"" + Json.escape(d) + "\""
    }
    Files.write(c.resolve("inline.json"), inline.mkString("{", ",", "}").getBytes("UTF-8"))
    Files.write(c.resolve("READY"), (s"materialize_s=$built\n" +
      s"refresh_s=${(System.nanoTime() - t1) / 1e9}\n").getBytes("UTF-8"))
  }

  /** Make snapshot `dir`: `base`'s tables with the documents of `gen`. */
  def snapshot(base: String, gen: String, dir: Path): String = {
    DataGen.linkTables(base, dir.toString, DataGen.Tables.filter(_ != "documents"))
    DataGen.linkTables(gen, dir.toString, Seq("documents")).toString
  }

  def deleteTree(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }
}

/** State of one workload run: the session, its instruments, the
  * operation and failure tallies, and the observations.
  */
final class Run(spark: SparkSession, a: Main.Args, cores: Int, out: Path) {
  import Run._

  val trace = new Trace
  private val probes = if (a.trace) Some(new Probes(spark)) else None
  private val work = out.resolve("work")
  private val obs = ArrayBuffer.empty[QueryObs]
  private val failures = ArrayBuffer.empty[String]
  private var attempted = 0
  private val extra = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]
  /** The artifact root the timed reads were served from, if any. */
  private var servedRoot: Option[String] = None

  private def secs(ns: Long): Double = ns / 1e9
  private def now(): Long = System.nanoTime()

  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[graftbench] FAILED: $what")
  }

  /** Time `body` as an operation that counts toward `attempted`. */
  private def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(trace.span(name)(body))
    catch {
      case e: Throwable =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        Checkpoints.releaseAll(blocking = true)
        None
    }
  }

  /** Fixed CPU-bound probe (median of 3): moves only with machine load. */
  private def envProbe(): Double = Stats.median(Seq.fill(3) {
    val t0 = now()
    spark.range(0L, 200000000L, 1, cores).selectExpr("sum(id % 2654435761)").collect()
    secs(now() - t0)
  })

  /** Open snapshot `dir` through the program's scan layer: the table
    * handle and the footer row count of every table.
    */
  private def open(dir: String): Unit = {
    import graft.Tables._
    Seq[(SparkSession, String) => Any](region, nation, customer, supplier, part, orders,
      lineitem, events, documents, embeddings).foreach(f => f(spark, dir))
    DataGen.Tables.foreach(t => rowCount(spark, dir, t))
  }

  /** [[Setups]] set-ups, each in a fresh directory that `prepare` fills
    * (untimed) and [[open]] then opens (measured). Returns the last
    * directory and the cost of each open.
    */
  private def setups(prepare: Path => Unit): (String, Seq[Cost]) = {
    val costs = (1 to Setups).map { i =>
      val dir = work.resolve(s"setup-$i")
      prepare(dir)
      val c0 = Cost.now()
      trace.span("setup")(open(dir.toString))
      Cost.now() - c0
    }
    (work.resolve(s"setup-$Setups").toString, costs)
  }

  /** Execute one query: construct the frame, collect it, release its
    * checkpoints. Returns the result digest (None on failure).
    */
  private def query(name: String, dir: String, pass: Int, warm: Boolean,
      traced: Boolean): Option[String] = {
    val p = probes.filter(_ => traced)
    attempted += 1
    p.foreach { pr => pr.drain(); pr.actions.take(); pr.jobs.takeIntervals(); pr.resources.reset() }
    val before = p.map(_.counts())
    val c0 = Cost.now()
    val t0 = c0.wall
    try {
      val (rows, df, t1, t2, t2ms, mid, t3, t4, pinned) = trace.span(s"query:$name") {
        val df = trace.span("construct")(SparkEntry.queries(name)(spark, dir))
        val t1 = now()
        val mid = p.map { pr => pr.drain(); pr.counts() }
        val t2 = now()
        val t2ms = System.currentTimeMillis()
        val rows = trace.span("action")(df.collect())
        val t3 = now()
        val pinned = Checkpoints.liveCount
        trace.span("release")(Checkpoints.releaseAll(blocking = true))
        (rows, df, t1, t2, t2ms, mid, t3, now(), pinned)
      }
      val cpu = Cost.now().cpu - c0.cpu
      val digest = Digest.ofRows(df.columns.toSeq, rows)
      val wall = t4 - t0 - (t2 - t1)
      p.foreach { pr =>
        pr.drain()
        val after = pr.counts()
        val qes = pr.actions.take()
        val qe = qes.find(_ eq df.queryExecution).getOrElse(df.queryExecution)
        val (planMs, analysisMs) = PlanWalk.phasesMs(qe)
        val plans = (qes :+ df.queryExecution).distinct.map(_.executedPlan)
        val execMs = Trace.covered(t2ms, Long.MaxValue, pr.jobs.takeIntervals())
        obs += QueryObs(name, pass, warm, traced = true, wall, cpu, t1 - t0, planMs * 1000000L,
          analysisMs * 1000000L, after.driverCompileNs - mid.get.driverCompileNs,
          execMs * 1000000L, t4 - t3, pinned, mid.get.jobs - before.get.jobs,
          after - before.get, pr.resources.snapshot(),
          plans.flatMap(PlanWalk.scanPaths), plans.map(PlanWalk.fanExchanges).sum)
      }
      if (p.isEmpty)
        obs += QueryObs(name, pass, warm, traced = false, wall, cpu, t1 - t0, 0, 0, 0,
          t3 - t2, t4 - t3, pinned, 0, Counts.Zero,
          graft.BenchMetricsListener.Snapshot(0, 0, 0, 0, 0), Nil, 0)
      Some(digest)
    } catch {
      case e: Throwable =>
        fail(s"$name (pass $pass) threw ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(300))
        Checkpoints.releaseAll(blocking = true)
        None
    }
  }

  /** One pass over `names` in the given order; returns name → digest. */
  private def pass(names: Seq[String], dir: String, no: Int, warm: Boolean,
      traced: Boolean): (Map[String, String], Cost) = {
    val c0 = Cost.now()
    val ds = trace.span(s"pass:$no") {
      names.flatMap(n => query(n, dir, no, warm, traced).map(n -> _))
    }
    (ds.toMap, Cost.now() - c0)
  }

  private def shuffled(names: Seq[String], no: Int): Seq[String] =
    new scala.util.Random(a.seed * 7919L + no).shuffle(names)

  /** Cold pass, the workload's [[Warmup]] untimed passes, then measured
    * warm passes until `--seconds` have elapsed (and at least [[MinWarm]]). In a
    * traced run every second measured pass is untraced, so the run can
    * report its own tracing overhead.
    */
  private def passes(names: Seq[String],
      dir: String): (Cost, Seq[Cost], Seq[Map[String, String]]) = {
    val (d0, cold) = pass(shuffled(names, 0), dir, 0, warm = false, traced = a.trace)
    val digests = ArrayBuffer(d0)
    val (warmup, measured) = (Warmup(a.workload), MinWarm(a.workload))
    for (no <- 1 to warmup)
      digests += pass(shuffled(names, no), dir, no, warm = false, traced = false)._1
    val warmCosts = ArrayBuffer.empty[Cost]
    val start = now()
    var no = warmup + 1
    while (secs(now() - start) < a.seconds || no <= warmup + measured) {
      val traced = a.trace && (no - warmup) % 2 == 1
      val (d, t) = pass(shuffled(names, no), dir, no, warm = true, traced)
      if (traced || !a.trace) warmCosts += t
      else extra("untraced_pass_s." + no) = secs(t.wall)
      digests += d
      no += 1
    }
    (cold, warmCosts.toSeq, digests.toSeq)
  }

  /** Every pass must agree with the first on every query. */
  private def checkAgreement(digests: Seq[Map[String, String]]): Unit =
    digests.tail.zipWithIndex.foreach { case (d, i) =>
      d.foreach { case (n, x) =>
        digests.head.get(n).filter(_ != x).foreach(y =>
          fail(s"$n: pass ${i + 1} digest $x differs from pass 0 digest $y"))
      }
    }

  private def loadDigests(file: Path): Map[String, String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
    val it = node.fields()
    val m = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); m += e.getKey -> e.getValue.asText() }
    m.result()
  }

  // ---- workloads -----------------------------------------------------

  /** q1–q16 with no artifact root: one cold repetition, two untimed
    * ones, then measured repetitions, each in seed-shuffled
    * order and each result checked against the expected digests.
    */
  def etlHot(): Result = {
    Artifacts.clearRoot()
    val expected = loadDigests(Paths.get(a.expected, "etl_hot.json"))
    val (dir, setup) = setups(d => DataGen.linkTables(a.data, d.toString))
    val before = if (a.trace) Some(envProbe()) else None
    val (cold, warm, digests) = trace.span("run")(passes(EtlQueries, dir))
    digests.foreach(_.foreach { case (n, x) =>
      if (!expected.get(n).contains(x))
        fail(s"$n: digest $x, expected ${expected.getOrElse(n, "none")}")
    })
    val after = if (a.trace) Some(envProbe()) else None
    val refReps = obs.filter(o => o.warm && RefQueries(o.name) && (o.traced || !a.trace))
      .groupBy(_.pass).values.map(os => secs(os.map(_.wall).sum)).toSeq
    extra("ref_q1_q4_s") = Stats.median(refReps)
    finish(setup, cold, warm, before, after)
  }

  /** Serve the artifact-fed read set from a snapshot promoted by one
    * seeded step. An untraced run reads the promoted artifacts from
    * `--cache` (see [[Run.buildCache]]), so that the run is spent on
    * reads; a traced run promotes the step itself and times the
    * maintenance calls. Either run works on a private copy of the
    * artifact root.
    */
  def refreshCycle(): Result = {
    val c = Paths.get(a.cache).toAbsolutePath
    require(Files.exists(c.resolve("READY")), s"no cached inputs under $c")
    new String(Files.readAllBytes(c.resolve("READY")), "UTF-8").trim.split("\n")
      .foreach { l => val Array(k, v) = l.split("=", 2); notes("cache." + k) = v }
    extra("build.materialize_s") = notes("cache.materialize_s").toDouble
    val s0 = c.resolve("s0").toString
    val gen = c.resolve("gen").toString
    val root = work.resolve("artifacts")
    copyTree(c.resolve(if (a.trace) "artifacts" else "refreshed"), root)
    val (last, setup) = setups(snapshot(s0, gen, _))
    // the snapshot the promoted artifacts belong to
    val s1 = if (a.trace) last else c.resolve("s1").toString
    Artifacts.setRoot(root.toString)
    servedRoot = Some(root.toUri.getPath)
    val before = if (a.trace) Some(envProbe()) else None
    val (cold, warm, digests) = trace.span("run") {
      if (a.trace) promoteStep(s0, s1)
      passes(ReadSet, s1)
    }
    checkAgreement(digests)
    val after = if (a.trace) Some(envProbe()) else None
    if (a.trace) {
      val st = Artifacts.status(spark, s1)
      extra("segments_max") = st.map(_.segments).max.toDouble
      extra("segments_total") = st.map(_.segments).sum.toDouble
      val files = Files.walk(root).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      extra("artifact_files") = files.length.toDouble
      extra("artifact_mb") = files.map(Files.size).sum / 1e6
    }
    // artifact-served reads must equal the inline computation of the
    // same snapshot, made once per source tree with the cache
    val inline = loadDigests(c.resolve("inline.json"))
    ReadSet.foreach { n =>
      if (digests.head.get(n) != inline.get(n))
        fail(s"$n: artifact digest ${digests.head.getOrElse(n, "none")} != " +
          s"inline digest ${inline.getOrElse(n, "none")}")
    }
    finish(setup, cold, warm, before, after)
  }

  /** Promote `s0` to `s1` incrementally, timed: text artifacts, then
    * re-verdicts of the changed documents. A step not in mode
    * `incremental` is a failure.
    */
  private def promoteStep(s0: String, s1: String): Unit = trace.span("refresh_step") {
    val c0 = Cost.now()
    val text = timedCall("refresh.text_s")(op("materializeIncremental")(
      Artifacts.materializeIncremental(spark, s0, s1)))
    timedCall("refresh.verdicts_s")(op("refreshVerdicts")(
      graft.operators.CorpusOps.refreshVerdicts(spark, s0, s1).collect()))
    Checkpoints.releaseAll(blocking = true)
    val cost = Cost.now() - c0
    text.foreach { x =>
      notes("refresh.mode") = x.mode
      if (x.mode != "incremental") fail(s"refresh step ran in mode ${x.mode}")
      notes("refresh.counts") = s"added=${x.added} changed=${x.changed} " +
        s"removed=${x.removed} affectedComponents=${x.affectedComponents}"
      extra("refresh.changed_docs") = (x.added + x.changed + x.removed).toDouble
      extra("refresh.affected_components") = x.affectedComponents.toDouble
    }
    extra("refresh.incremental_frac") = if (text.exists(_.mode == "incremental")) 1.0 else 0.0
    extra("refresh_s") = secs(cost.wall)
    extra("refresh.ms_per_changed_doc") =
      cost.wall / 1e6 / math.max(1.0, extra.getOrElse("refresh.changed_docs", 1.0))
  }

  private def timedCall[T](metric: String)(body: => T): T = {
    val t0 = now()
    try body finally extra(metric) = secs(now() - t0)
  }

  // ---- reporting -----------------------------------------------------

  /** End-to-end metrics are CPU times of the JVM's Java threads (see
    * [[Cost]]), medians where there are several samples: on a shared
    * host the hypervisor's steal moves wall time several times more. The
    * wall times over the same spans go to the report and, from traced
    * passes, to the `wall.*` layer metrics.
    */
  private def finish(setup: Seq[Cost], cold: Cost, warm: Seq[Cost],
      before: Option[Double], after: Option[Double]): Result = {
    val timed = obs.filter(_.pass >= 0)
    val warmObs = timed.filter(o => o.warm && (o.traced || !a.trace))
    val lat = warmObs.map(_.wall / 1e6).toSeq
    val queryCpu = warmObs.map(_.cpu / 1e6).toSeq
    val e2e = Seq(
      ("setup_s", Stats.median(setup.map(c => secs(c.cpu))), "s"),
      ("pass_cpu_s", Stats.median(warm.map(c => secs(c.cpu))), "s"),
      ("query_cpu_iqm_ms", Stats.iqm(queryCpu), "ms"))
    val wall = Seq(
      ("wall.setup_s", Stats.median(setup.map(c => secs(c.wall))), "s"),
      ("wall.cold_s", secs(cold.wall), "s"),
      ("wall.pass_s", Stats.median(warm.map(c => secs(c.wall))), "s"),
      ("wall.query_p50_ms", Stats.median(lat), "ms"))
    val cpu = Seq(("cold_cpu_s", secs(cold.cpu), "s"),
      ("query_cpu_p50_ms", Stats.median(queryCpu), "ms"))
    val layer = if (a.trace) wall.drop(1) ++ cpu ++ layerMetrics(warmObs.toSeq, warm, before, after)
      else Nil
    val shown = if (a.trace) layer else e2e
    val metrics = shown.map { case (k, v, u) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val line = s"""{"correct":${failures.isEmpty},"attempted":$attempted,""" +
      s""""failed":${failures.size},"metrics":$metrics}"""
    val tail = Stats.tailPercentile(lat.size)
    val report = Seq(
      s""""workload":"${a.workload}"""", s""""seed":${a.seed}""",
      s""""seconds":${a.seconds}""", s""""trace":${a.trace}""", s""""cores":$cores""",
      s""""warm_passes":${warm.size}""", s""""query_samples":${lat.size}""",
      s""""query_tail":${tail.map(p => s"""{"pct":$p,"ms":${Stats.percentile(lat, p)}}""").getOrElse("null")}""",
      s""""warm_pass_s":${warm.map(c => secs(c.wall)).mkString("[", ",", "]")}""",
      s""""warm_pass_cpu_s":${warm.map(c => secs(c.cpu)).mkString("[", ",", "]")}""",
      s""""end_to_end":${(e2e ++ cpu ++ wall ++ extra.toSeq.map { case (k, v) => (k, v, "") })
        .map { case (k, v, _) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")}""",
      s""""per_layer":${layer.map { case (k, v, _) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")}""",
      s""""notes":${notes.map { case (k, v) => s""""$k":"${Json.escape(v)}"""" }.mkString("{", ",", "}")}""",
      s""""failures":${failures.map(f => "\"" + Json.escape(f) + "\"").mkString("[", ",", "]")}""",
      s""""failed_frac":${failures.size.toDouble / math.max(1, attempted)}""",
      s""""queries":${timed.map(o => s"""{"name":"${o.name}","pass":${o.pass},"warm":${o.warm},"traced":${o.traced},"wall_ms":${o.wall / 1e6},"cpu_ms":${o.cpu / 1e6}}""").mkString("[", ",", "]")}"""
    ).mkString("{", ",", "}")
    Result(line, report)
  }

  private def layerMetrics(q: Seq[QueryObs], warm: Seq[Cost], before: Option[Double],
      after: Option[Double]): Seq[(String, Double, String)] = {
    val n = math.max(1, q.map(_.pass).distinct.size).toDouble
    def perPass(f: QueryObs => Double): Double = q.map(f).sum / n
    def served(path: String) = servedRoot.exists(path.startsWith)
    val scans = q.flatMap(_.scans)
    val artifactScans = scans.count(served)
    val corpusScans = scans.count(s => !served(s) &&
      (s.endsWith("/documents.parquet") || s.endsWith("/embeddings.parquet")))
    val execNs = q.map(_.exec).sum
    def parts(o: QueryObs) = o.construct + o.plan + o.compile + o.exec + o.release
    val missed = q.filter(o => math.abs(o.wall - parts(o)) > ReconTolerance * o.wall)
    if (missed.nonEmpty)
      notes("recon_misses") = missed.map(o => s"${o.name}@${o.pass}").mkString(" ")
    val untraced = extra.collect { case (k, v) if k.startsWith("untraced_pass_s.") => v }.toSeq
    val lat = q.map(_.wall / 1e6)
    val tail = Stats.tailPercentile(lat.size).getOrElse(50)
    val fixed = Seq(
      ("construct_ms", perPass(_.construct / 1e6), "ms"),
      ("construct_jobs", perPass(_.constructJobs.toDouble), "count"),
      ("analysis_ms", perPass(_.analysis / 1e6), "ms"),
      ("checkpoints_pinned", perPass(_.pinned.toDouble), "count"),
      ("release_ms", perPass(_.release / 1e6), "ms"),
      ("plan_ms", perPass(_.plan / 1e6), "ms"),
      ("codegen_compiles", perPass(_.counts.compiles.toDouble), "count"),
      ("codegen_compile_ms", perPass(_.counts.compileNs / 1e6), "ms"),
      ("exec_ms", perPass(_.exec / 1e6), "ms"),
      ("unaccounted_ms", perPass(o => (o.wall - parts(o)) / 1e6), "ms"),
      ("jobs", perPass(_.counts.jobs.toDouble), "count"),
      ("stages", perPass(_.counts.stages.toDouble), "count"),
      ("tasks", perPass(_.counts.tasks.toDouble), "count"),
      ("task_cpu_ms", perPass(_.counts.taskCpuNs / 1e6), "ms"),
      ("core_busy_frac", q.map(_.counts.taskRunMs).sum / math.max(1e-9, execNs / 1e6 * cores), "frac"),
      ("shuffle_read_bytes", perPass(_.resources.shuffleRead.toDouble), "bytes"),
      ("shuffle_write_bytes", perPass(_.resources.shuffleWrite.toDouble), "bytes"),
      ("spill_bytes", perPass(_.resources.spillBytes.toDouble), "bytes"),
      ("gc_ms", perPass(_.resources.gcMs.toDouble), "ms"),
      ("base_scans", (scans.size - artifactScans) / n, "count"),
      ("fan_exchanges", perPass(_.fans.toDouble), "count"),
      ("files_discovered", perPass(_.counts.filesDiscovered.toDouble), "count"),
      ("file_cache_hits", perPass(_.counts.fileCacheHits.toDouble), "count"),
      ("artifact_scans", artifactScans / n, "count"),
      ("artifact_served_frac", artifactScans / math.max(1.0, (artifactScans + corpusScans).toDouble), "frac"),
      ("query_tail_ms", Stats.percentile(lat, tail), "ms"),
      ("recon_miss_frac", missed.size / math.max(1.0, q.size.toDouble), "frac"),
      ("trace.overhead_ms", if (untraced.isEmpty) 0.0
        else (Stats.median(warm.map(c => secs(c.wall))) - Stats.median(untraced)) * 1000, "ms"),
      ("env.probe_before_s", before.getOrElse(0.0), "s"),
      ("env.probe_after_s", after.getOrElse(0.0), "s"))
    fixed ++ Run.LayerExtras.map { case (k, u) => (k, extra.getOrElse(k, 0.0), u) }
  }
}
