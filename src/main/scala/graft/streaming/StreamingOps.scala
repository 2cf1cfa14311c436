package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.Tables
import graft.Artifacts.{AudioSigsName, ImageGridsName, VideoSigsName}
import graft.operators.Multimodal
import graft.functions.Parity.round2
import graft.sources.Sinks

/** Event row for typed stateful streaming. `ts` round-trips Spark's µs
  * TimestampType losslessly (`java.sql.Timestamp` carries nanos); every
  * stateful operator below derives its ordering/state keys via
  * [[StreamingOps.micros]], NOT `getTime` — `getTime` is ms-grain, and
  * the batch duals these operators must match (q73/q80) order at full µs
  * grain, so two events under 1 ms apart would otherwise tie and gate
  * wrongly.
  */
case class StreamEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
  event_type: String, value: Double)

/** Keyed state for [[StreamingOps.latestPerKey]]. */
case class LatestState(event_id: Long, tsUs: Long, value: Double)

/** Update row emitted by [[StreamingOps.latestPerKey]]. */
case class LatestUpdate(user_id: Long, event_type: String, event_id: Long,
  value: Double)

/** Open-session state for [[StreamingOps.sessionize]]. */
case class OpenSession(startUs: Long, lastUs: Long, n: Int, sum: Double)

/** Per-user last-event state for [[StreamingOps.transitionsStream]]. */
case class LastSeen(tsUs: Long, eventId: Long, eventType: String)

/** One observed event-type transition emitted by
  * [[StreamingOps.transitionsStream]].
  */
case class Transition(prev_type: String, next_type: String)

/** Per-user funnel progress for [[StreamingOps.funnelStream]]: first
  * view time, first click strictly after it, first purchase strictly
  * after that (µs).
  */
case class FunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long])

/** Update row emitted by [[StreamingOps.funnelStream]]. */
case class FunnelUpdate(user_id: Long, t1: Option[Long], t2: Option[Long],
  t3: Option[Long])

/** Closed session emitted by [[StreamingOps.sessionize]]. */
case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
  n_events: Int, sum_value: Double)

/** Per-user retention state for [[StreamingOps.retentionStream]]: the
  * user's cohort day and the distinct days already emitted.
  */
case class RetentionState(cohortDay: Long, seenDays: Seq[Long])

/** One first-activity-of-the-day emission from
  * [[StreamingOps.retentionStream]] — exactly one row per distinct
  * `(user, active day)`, the grain `EventAnalytics.retentionRollup`
  * consumes.
  */
case class CohortActivity(user_id: Long, cohort_day: Long, age_days: Long)

/** Per-user lifetime event count for [[StreamingOps.engagementStream]]. */
case class EngagementCount(n: Long)

/** Running per-user count update emitted by
  * [[StreamingOps.engagementStream]]; the LAST update per user is the
  * user's lifetime count.
  */
case class EngagementUpdate(user_id: Long, n_events: Long)

/** Streaming variants of the reference's aggregations (SURVEY.md §2.10 —
  * the reference is batch-only; incremental loading is its own listed
  * future work, reference `README.md:261`).
  *
  * Every aggregation here is a *plan function*: the same logical plan runs
  * over the static `events` table (giving the driver a DuckDB-checkable
  * batch form, q29–q31) and over a streaming DataFrame (exercised with
  * MemoryStream + watermarks in `StreamingSpec`). That batch/stream
  * duality is the Structured Streaming contract — identical plan,
  * incrementalized execution.
  *
  * Scale: windowed aggregates shuffle on (window, key) with map-side
  * partials; state size is bounded by watermarking (late rows beyond the
  * watermark are dropped instead of growing state forever).
  */
object StreamingOps {

  /** Lossless µs since epoch of a JDBC timestamp (Spark's own
    * TimestampType conversion). `ts.getTime * 1000` drops the sub-ms
    * digits `Tables.events` timestamps carry (timestamp_micros grain) —
    * that truncation made the streaming duals' sort keys and funnel
    * gates ms-grain while their batch twins compare at µs grain.
    */
  private def micros(ts: java.sql.Timestamp): Long =
    org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(ts)

  /** Tumbling 1-hour windows per event type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round2(sum(col("value"))).as("sum_value"))
      .select(unix_micros(col("window.start")).as("w_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding 1-hour windows every 30 minutes per event type. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round2(sum(col("value"))).as("sum_value"))
      .select(unix_micros(col("window.start")).as("w_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** 30-minute-gap session windows per user (reference's rating bursts
    * analog). Spark merges an event into the current session when it
    * arrives strictly within `gap` of the previous event.
    */
  def sessionAgg(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round2(sum(col("value"))).as("sum_value"))
      .select(unix_micros(col("session_window.start")).as("s_start_us"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** The watermarked streaming form of [[tumblingCounts]]: event-time
    * windows with a 10-minute late-data allowance; rows later than the
    * watermark are dropped, bounding state.
    */
  def tumblingCountsStream(events: DataFrame): DataFrame =
    tumblingCounts(events.withWatermark("ts", "10 minutes"))

  /** S5's upsert as custom keyed state (`mapGroupsWithState`): the newest
    * event per (user, type) survives, emitted as an update stream —
    * the streaming twin of `EtlOps.latestByKey`/`INSERT OR REPLACE`
    * (reference `etl.py:238-244`). State is one small record per key.
    */
  def latestPerKey(events: Dataset[StreamEvent]): Dataset[LatestUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState[LatestState, LatestUpdate](GroupStateTimeout.NoTimeout) {
        case ((uid, etype), batch, state) =>
          val incoming = batch.map(e =>
            LatestState(e.event_id, micros(e.ts), e.value))
          val newest = (state.getOption.iterator ++ incoming)
            .maxBy(s => (s.tsUs, s.event_id))
          state.update(newest)
          LatestUpdate(uid, etype, newest.event_id, newest.value)
      }
  }

  /** Custom sessionization via `flatMapGroupsWithState` with EVENT-TIME
    * timeouts — the pattern for session semantics `session_window` can't
    * express (e.g. emitting per-session aggregates only when the session
    * CLOSES, in append mode). A session closes when the gap is exceeded
    * within a batch or when the watermark passes its timeout; state per
    * user is one [[OpenSession]] record.
    */
  def sessionize(events: Dataset[StreamEvent], gapMinutes: Int): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, batch, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(uid, s.startUs, s.lastUs, s.n, s.sum))
          } else {
            val sorted = batch.map(e => (micros(e.ts), e.value))
              .toSeq.sortBy(_._1)
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            for ((tsUs, v) <- sorted) {
              open match {
                case Some(s) if tsUs - s.lastUs < gapUs =>
                  open = Some(OpenSession(s.startUs, tsUs, s.n + 1, s.sum + v))
                case Some(s) =>
                  closed += ClosedSession(uid, s.startUs, s.lastUs, s.n, s.sum)
                  open = Some(OpenSession(tsUs, tsUs, 1, v))
                case None =>
                  open = Some(OpenSession(tsUs, tsUs, 1, v))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.lastUs + gapUs) / 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** q80's streaming dual — the empirical transition matrix mined from a
    * LIVE event stream: per-user `flatMapGroupsWithState` holds the last
    * seen event (one tiny record per user — the same O(users) state
    * bound as any per-user streaming aggregate) and emits one
    * [[Transition]] per consecutive pair; the caller counts them with an
    * ordinary streaming aggregate (or `foreachBatch` into the batch
    * rollup). Events are re-sorted by (ts, event_id) WITHIN each
    * micro-batch, so intra-batch disorder is absorbed; like any
    * last-value chaining (CDC ordering, session stitching), the
    * cross-batch contract is per-user event-time-ordered delivery — the
    * equivalence spec replays exactly that, and `EventAnalytics
    * .transitionPairs` is the shared batch definition it must match.
    */
  def transitionsStream(events: Dataset[StreamEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastSeen, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, batch, state) =>
          val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val out = Seq.newBuilder[Transition]
          var last = state.getOption
          sorted.foreach { e =>
            last.foreach(l => out += Transition(l.eventType, e.event_type))
            last = Some(LastSeen(micros(e.ts), e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** q73's streaming dual — the view→click→purchase funnel advanced
    * incrementally: per-user `mapGroupsWithState` carries
    * [[FunnelState]] (three optional µs timestamps) and emits the user's
    * current progress each micro-batch; the LAST update per user is the
    * user's funnel row, and `EventAnalytics.funnelStages`' rollup over
    * those rows equals the batch q73 result (the equivalence spec
    * replays it). Under in-order per-user delivery the incremental
    * first-qualifying-event updates coincide with the batch min-based
    * definitions (the first view IS the min view time, etc.); intra-
    * batch disorder is absorbed by sorting each batch, and the state is
    * one constant-size record per user.
    */
  def funnelStream(events: Dataset[StreamEvent]): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelUpdate](GroupStateTimeout.NoTimeout) {
        case (uid, batch, state) =>
          var s = state.getOption.getOrElse(FunnelState(None, None, None))
          batch.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val tsUs = micros(e.ts)
            e.event_type match {
              case "view" if s.t1.isEmpty =>
                s = s.copy(t1 = Some(tsUs))
              case "click" if s.t1.exists(tsUs > _) && s.t2.isEmpty =>
                s = s.copy(t2 = Some(tsUs))
              case "purchase" if s.t2.exists(tsUs > _) && s.t3.isEmpty =>
                s = s.copy(t3 = Some(tsUs))
              case _ => ()
            }
          }
          state.update(s)
          FunnelUpdate(uid, s.t1, s.t2, s.t3)
      }
  }

  /** Microseconds per integer epoch day — µs-grain twin of the batch
    * side's ns arithmetic (`ts_ns div NsPerDay` ≡ `µs div MicrosPerDay`
    * because the parquet ns values are exact µs multiples).
    */
  private val MicrosPerDay = 86400000000L

  /** q114's streaming dual — the retention cohort matrix advanced
    * incrementally: per-user `flatMapGroupsWithState` carries
    * [[RetentionState]] (cohort day + days already seen) and emits one
    * [[CohortActivity]] row the FIRST time the user is active on each
    * day. The emitted rows are exactly the distinct
    * `(cohort_day, age_days, user_id)` frame batch q114 derives, so
    * `EventAnalytics.retentionRollup` over them equals the batch matrix
    * (the equivalence spec replays it). Under in-order per-user
    * delivery the first event ever fixes the cohort day exactly as the
    * batch min does; intra-batch disorder is absorbed by sorting each
    * batch. State is one day-list per user — bounded by the user's
    * distinct active days (the stored list is encoder-friendly; lookups
    * go through a per-invocation hash set, so a long-lived user costs
    * O(state + batch) per batch, not O(days²)). Aging the list out once
    * a deployment's retention window closes (an event-time timeout) is
    * left to the deployment — this operator keeps `NoTimeout` so its
    * replay equivalence with batch q114 is exact over any input.
    *
    * Contract-violation posture: an event delivered in a LATER
    * micro-batch with a day EARLIER than the user's anchored cohort
    * (cross-batch disorder — outside the delivery contract) is DROPPED,
    * not emitted: append mode cannot retract the already-emitted
    * anchor, and a negative-age row would silently corrupt the matrix
    * (wrong cohort census, nonsense cell). Dropping keeps every emitted
    * invariant intact (ages ≥ 0, cohort sizes ≡ age-0 cells) at the
    * cost of that one event's activity — the recoverable failure mode.
    */
  def retentionStream(events: Dataset[StreamEvent]): Dataset[CohortActivity] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, CohortActivity](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, batch, state) =>
          val days = batch.toSeq
            .sortBy(e => (micros(e.ts), e.event_id))
            .map(e => micros(e.ts) / MicrosPerDay)
          val out = Seq.newBuilder[CohortActivity]
          // hash-set view of the stored day list, built once per
          // invocation: membership checks and appends are O(1) against
          // it (LinkedHashSet keeps the stored order stable), where
          // Seq.contains per day was O(days) each
          val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
          state.getOption.foreach(st => seen ++= st.seenDays)
          var cohort = state.getOption.map(_.cohortDay)
          days.foreach { d =>
            cohort match {
              case None =>
                cohort = Some(d)
                seen += d
                out += CohortActivity(uid, d, 0L)
              case Some(c) if d >= c && !seen.contains(d) =>
                seen += d
                out += CohortActivity(uid, c, d - c)
              // d < cohortDay (cross-batch disorder) or already seen: drop
              case _ => ()
            }
          }
          cohort.foreach(c => state.update(RetentionState(c, seen.toSeq)))
          out.result().iterator
      }
  }

  /** q115's streaming dual — per-user lifetime event counts advanced
    * incrementally (`mapGroupsWithState`, one long per user — the
    * minimal stateful op). The LAST [[EngagementUpdate]] per user
    * carries the same count batch q115's user-grain aggregate computes,
    * so `EventAnalytics.engagementRollup` over the final updates equals
    * the batch histogram (equivalence spec). Counting is
    * delivery-order-independent — no ordering contract — but it IS
    * multiplicity-sensitive: a re-delivered event counts again, so an
    * at-least-once upstream must compose [[dedupStream]] (by event id)
    * in front, exactly like the intake sinks. Unlike
    * [[retentionStream]], whose day-set state absorbs re-delivery for
    * free, exact counting would need an unbounded per-user id set —
    * the dedup belongs in the watermarked operator built for it.
    */
  def engagementStream(events: Dataset[StreamEvent]): Dataset[EngagementUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[EngagementCount, EngagementUpdate](
        GroupStateTimeout.NoTimeout) {
        case (uid, batch, state) =>
          val n = state.getOption.map(_.n).getOrElse(0L) + batch.size
          state.update(EngagementCount(n))
          EngagementUpdate(uid, n)
      }
  }

  /** S5's upsert as an exactly-once streaming sink: each micro-batch is
    * merged into the parquet target by key via the same last-write-wins
    * reduction the batch sink uses (`foreachBatch` ⇒ the MERGE body in a
    * Delta/Iceberg deployment). `foreachBatch` executes at-least-once on
    * failure/restart; pairing it with the idempotent keyed merge and a
    * `checkpointLocation` is what yields effective exactly-once — a
    * replayed or re-delivered batch reduces to the same winners
    * (checkpoint-replay proven in `StreamingSpec`).
    */
  def upsertSink(updates: DataFrame, spark: SparkSession, path: String,
      keys: Seq[String], versionCols: Seq[String],
      checkpoint: Option[String] = None): StreamingQuery = {
    val writer = updates.writeStream
      .outputMode("update")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        Sinks.upsertByKey(spark, path, batch.toDF(), keys, versionCols)
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** Streaming ingest that keeps the corpus AND its standing artifacts
    * fresh in one sink: per micro-batch, append exactly the batch rows the
    * corpus does not already hold (dedup-within-batch + anti-join on
    * `doc_id`, ONE checkpointed frame feeding both legs) and carry every
    * corpus artifact across the append (`Artifacts.maintainAppended` — the same
    * retract/append maintenance the snapshot path uses, specialized to
    * the append-only diff). This closes the continuous-ingest loop: the
    * band index q50 joins against, the keeper assignment curation reads,
    * the token counts the budget operators consume — all stay current
    * batch over batch, instead of going stale until the next
    * corpus-wide materialize.
    *
    * Batches must carry unique `doc_id`s within themselves (compose with
    * [[dedupStream]] upstream); cross-batch re-deliveries are dropped by
    * both the corpus append and the artifact maintenance under the same
    * first-write-wins rule, so the two can never diverge. Pair with a
    * `checkpointLocation` for restart-safety — a fully re-delivered
    * batch short-circuits before touching any file, so it changes
    * neither the corpus fingerprint nor the artifacts.
    *
    * I/O shape: both the maintenance COMPUTE (no corpus text scan — see
    * `maintainAppended`) and the WRITE are batch-bounded — each batch
    * commits a manifest referencing the standing segments plus one
    * batch segment (the aggregate-grain span counts and token
    * frequencies append their batch's counts as an additive delta
    * segment), with automatic compaction bounding file counts and
    * folding the deltas (`Artifacts.compactSegments`). Only the span
    * dictionary, a small filter of the counts view, re-derives whole
    * per batch.
    *
    * @param docs streaming frame with the documents schema (`doc_id`,
    *             `text`, `source`, ... — whatever the corpus carries)
    */
  def artifactMaintainingIntake(docs: DataFrame, spark: SparkSession,
      corpusDir: String, checkpoint: Option[String] = None): StreamingQuery =
    maintainingIntake(docs, spark, corpusDir, graft.Artifacts.Docs, checkpoint)

  /** The ONE intake core behind [[artifactMaintainingIntake]] and
    * [[vectorIntake]], parameterized by the artifact table `table` (its
    * file, id column, fingerprint, completeness probe and the shared
    * `Artifacts.append` body): per micro-batch, dedup within the batch
    * and hand it to [[intakeLockstep]] as both the append candidates
    * and the heal source.
    */
  private def maintainingIntake(rows: DataFrame, spark: SparkSession,
      corpusDir: String, table: graft.Artifacts.Source,
      checkpoint: Option[String]): StreamingQuery = {
    val writer = rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.Checkpoints.scoped {
          val fpOld = table.fingerprint(spark, corpusDir)
          val deduped = batch.toDF().dropDuplicates(table.key)
          intakeLockstep(spark, corpusDir, table, fpOld, deduped, deduped)
        }
        ()
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** The append-and-maintain lockstep every intake sink ends in
    * ([[maintainingIntake]], [[gatedIntakeBatch]]) — the crash-recovery
    * and leg-lockstep logic is subtle enough that hand-synced copies
    * would be the next drift bug:
    *
    *  - ONE materialized frame feeds both legs: `candidates` (deduped
    *    within the batch by the caller) is anti-joined against the
    *    table once, pinned by the checkpoint, so the rows the append
    *    lands are bit-identical to the rows the artifact maintenance
    *    folds in (two independent `dropDuplicates` evaluations could
    *    pick different winners for a duplicated id and silently diverge
    *    the legs) — the maintenance call trusts it via `prefiltered`;
    *  - a batch with no new candidate is normally a genuine no-op —
    *    EXCEPT when a prior run crashed between its append and its
    *    maintenance. Then the replayed rows are already in the table but
    *    the artifacts still key to the pre-crash fingerprint; the probe
    *    detects that and self-heals by folding the `healSource` rows
    *    that ARE in the table (a gate's rejected rows never entered it
    *    and must not enter the artifacts).
    */
  private def intakeLockstep(spark: SparkSession, corpusDir: String,
      table: graft.Artifacts.Source, fpOld: String, candidates: DataFrame,
      healSource: DataFrame): Unit = {
    val path = s"$corpusDir/${table.file}"
    val idCol = table.key
    val existing =
      if (!table.exists(spark, corpusDir)) None
      else Some(graft.Tables.parquet(spark, path).select(idCol))
    val fresh = graft.Checkpoints.checkpoint(existing.fold(candidates)(ex =>
      candidates.join(ex, Seq(idCol), "left_anti")))
    if (fresh.isEmpty) {
      existing.foreach { ex =>
        if (!table.materialized(spark, corpusDir))
          graft.Artifacts.append(table, spark, corpusDir, fpOld,
            healSource.join(ex, Seq(idCol), "left_semi"), prefiltered = false)
      }
    } else {
      fresh.write.mode(SaveMode.Append).parquet(path)
      graft.Tables.invalidate(corpusDir)
      graft.Artifacts.append(table, spark, corpusDir, fpOld, fresh,
        prefiltered = true)
    }
  }

  /** [[artifactMaintainingIntake]]'s vector twin: streaming embedding
    * ingest that keeps the embeddings table AND its standing vector
    * artifacts (LSH indexes, digests, centroids) in lockstep through
    * the same [[maintainingIntake]] core — per micro-batch, append
    * exactly the `(vec_id, embedding, label)` rows the table does not
    * already hold and fold them into the standing artifacts
    * batch-bounded (`Artifacts.maintainEmbeddingsAppended`), with the
    * torn-append self-heal.
    *
    * Batches must carry unique `vec_id`s within themselves (compose
    * with [[dedupStream]] upstream — within a batch `dropDuplicates`
    * picks an arbitrary winner, NOT first-delivered); cross-batch
    * re-deliveries are dropped by both legs under the same
    * first-write-wins rule. Pair with a `checkpointLocation` for
    * restart-safety: without one, a restart does not replay the torn
    * batch, and the self-heal leg only fires again when some later
    * batch arrives — an unbounded stale window on a quiet stream.
    */
  def vectorIntake(vectors: DataFrame, spark: SparkSession,
      corpusDir: String, checkpoint: Option[String] = None): StreamingQuery =
    maintainingIntake(vectors, spark, corpusDir, graft.Artifacts.Vectors,
      checkpoint)

  /** Streaming exact dedup by event id: an at-least-once upstream
    * re-delivers rows; this keeps the first arrival of each `idCol` and
    * drops re-deliveries arriving within the watermark allowance — with
    * BOUNDED state, because `dropDuplicatesWithinWatermark` evicts ids
    * once the watermark passes them (a plain `dropDuplicates` on a stream
    * would grow its id set forever). The streaming face of
    * `Dedup.q17DedupExact`'s hash-dedup stance.
    */
  def dedupStream(events: DataFrame, idCol: String,
      allowance: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", allowance)
      .dropDuplicatesWithinWatermark(idCol)

  /** Watermarked stream-stream interval join: pair each right-side event
    * with left-side events of the same key whose event time falls in
    * `(right.ts - gap, right.ts)`. BOTH sides carry watermarks and the
    * join condition bounds event time in both directions — that is what
    * lets Spark evict buffered rows once the watermark passes, keeping
    * join state finite on an unbounded stream (an unbounded-time
    * stream-stream join would buffer forever). Append-mode only, per the
    * Structured Streaming contract. Batch face: `q44IntervalJoin` runs
    * the same shape with last-touch attribution on top.
    *
    * @param left  candidate antecedents (e.g. views): `ts`, `user_id`, payload
    * @param right anchor events (e.g. purchases): `ts`, `user_id`, payload
    */

  def intervalJoinStream(left: DataFrame, right: DataFrame,
      gapMinutes: Int, allowance: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", allowance).alias("l")
    val r = right.withWatermark("ts", allowance).alias("r")
    l.join(r,
      col("l.user_id") === col("r.user_id") &&
        col("l.ts") < col("r.ts") &&
        col("l.ts") >= col("r.ts") - expr(s"INTERVAL $gapMinutes MINUTES"))
  }

  /** Streaming decontamination — the q47 verdict at INTAKE time instead
    * of as a batch sweep: a document stream is flagged against a static
    * eval-shingle table by a stream-static LEFT SEMI join on the
    * exploded shingles, deduplicated back to document grain. Stateless
    * (no watermark needed — semi-join against a static side keeps no
    * stream state), so it composes with `dedupStream`/`routeCorrupt` in
    * the intake pipeline: contaminated documents are quarantined the
    * moment they arrive rather than after the next corpus-wide q47 run.
    *
    * Output is at (doc, matched shingle) grain: collapsing to doc grain
    * on the STREAM would need either a stateful aggregate or a global
    * `dropDuplicates` (unbounded state). The intended composition is a
    * `foreachBatch` sink that dedups BATCH-LOCALLY and upserts — doc
    * grain at the target, zero stream state ([[upsertSink]] is exactly
    * that sink; `StreamingIntakeSpec` drives the journey).
    *
    * @param docs         streaming frame with `idCol` + `textCol`
    * @param evalShingles static frame with one `sh` column (the distinct
    *                     [[graft.operators.CorpusOps.DecontamN]]-gram
    *                     shingles of the eval set — small, so Spark
    *                     broadcasts it per micro-batch)
    * @return streaming frame of (idCol, sh) contamination evidence rows
    */
  def decontaminateStream(docs: DataFrame, idCol: String, textCol: String,
      evalShingles: DataFrame): DataFrame = {
    import graft.operators.{CorpusOps, Dedup}
    docs.select(col(idCol),
        explode(CorpusOps.shinglesN(Dedup.tokens(col(textCol)),
          CorpusOps.DecontamN)).as("sh"))
      .join(evalShingles, Seq("sh"), "left_semi")
      .select(col(idCol), col("sh"))
  }

  /** q83's linear quality classifier at INTAKE time: score and label
    * every arriving document with the SAME kernel the batch query runs
    * (`TextAnalysis.scoredQuality` — shared definition, so the gate a
    * crawl passes at ingest cannot drift from a later batch audit).
    * Stateless map-only expressions — no watermark, no stream state —
    * so it chains with [[dedupStream]]/[[decontaminateStream]] in the
    * intake pipeline; a caller keeps the stream unfiltered (labels as
    * audit columns) or drops culls at the sink.
    */
  def qualityGateStream(docs: DataFrame, textCol: String): DataFrame =
    graft.operators.TextAnalysis.scoredQuality(docs, textCol)

  /** q109's novelty verdict at INTAKE time: per micro-batch, score each
    * arriving document's distinct-8-gram novelty against the STANDING
    * corpus shingle index — measured BEFORE the batch is folded in, the
    * moment a quarantine decision can still act on it. A crawl wave can
    * add a million documents at near-zero novelty (scraper loops,
    * mirror floods); this is the per-batch number that catches it at
    * the door instead of in next week's q109 audit.
    *
    * Designed for a `foreachBatch` intake (the
    * [[artifactMaintainingIntake]] pattern): call it on the batch
    * BEFORE appending/maintaining, so "the corpus" means the pre-batch
    * snapshot — the same standing `shingles8` artifact the maintenance
    * then carries forward (inline fallback when none is materialized).
    * The STREAM carries zero shingle state: per-batch aggregation only,
    * membership is one equi-join against standing state — q109's exact
    * shape, which is what makes the gate identical to the batch audit
    * by construction rather than by parallel implementation.
    */
  def noveltyOfBatch(batch: DataFrame, spark: SparkSession,
      corpusDir: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // dedup at doc grain FIRST (at-least-once delivery can repeat a row
    // within one micro-batch; the winner is arbitrary-but-single, the
    // artifactMaintainingIntake posture), then score through the ONE
    // novelty core q109 uses — shared definition, not a parallel copy
    graft.operators.CorpusOps.shingleNovelty(
      batch.dropDuplicates(idCol), Seq(idCol), textCol,
      graft.Artifacts.serve(spark, corpusDir, graft.Artifacts.Shingles8Name))

  /** q124's verdict at INTAKE time: per micro-batch, screen each
    * arriving document against the STANDING per-set eval-shingle index
    * (`eval_shingles`) BEFORE the batch is folded in — benchmarks leak
    * into a crawl continuously, and the moment a quarantine decision
    * can still act is at the door, not in the next release audit.
    * Output is q124's sparse per-(doc, set) verdict shape on exactly
    * the batch's rows.
    *
    * [[noveltyOfBatch]]'s discipline: the stream carries zero shingle
    * state (per-batch derivation only, one equi-join against standing
    * state), and the verdict goes through q124's OWN rollup
    * (`EvalSets.contaminationOfShingles`) — identical to the batch
    * audit by construction, not by parallel implementation. Arriving
    * documents that ARE registered members are excluded exactly as
    * q124 excludes them (the benchmark itself arriving is not
    * contamination).
    */
  def contaminationOfBatch(batch: DataFrame, spark: SparkSession,
      corpusDir: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.operators.{CorpusOps, Dedup, EvalSets}
    EvalSets.contaminationOfShingles(
      batch.dropDuplicates(idCol)
        .filter(!EvalSets.inAnySet(col(idCol)))
        .select(col(idCol),
          explode(CorpusOps.shinglesN(Dedup.tokens(col(textCol)),
            CorpusOps.DecontamN)).as("sh")),
      idCol, graft.Artifacts.serve(spark, corpusDir,
        graft.Artifacts.EvalShinglesName))
  }

  /** q50's verdict at INTAKE time: each arriving document checked
    * against the STANDING corpus digests + MinHash band index BEFORE the
    * batch folds in — exact duplicates by content hash, near-duplicates
    * by shared band bucket verified at signature agreement ≥ 0.5,
    * verdict precedence exact > near > new, match_id = the smallest
    * matching corpus doc. The fourth intake gate: [[dedupStream]] drops
    * exact repeats of the stream's own past, [[noveltyOfBatch]] scores
    * n-gram novelty, [[contaminationOfBatch]] screens eval leakage —
    * this one answers "is this page already in the corpus, possibly
    * lightly mutated", which is the verdict that decides whether the
    * batch row is worth storing at all (a re-crawl of a boilerplate
    * page costs its storage forever but adds nothing).
    *
    * The discipline of the other gates: the STREAM carries zero
    * signature state — the batch's digests and band rows are derived
    * per micro-batch (batch-sized work), the corpus side is one read of
    * the standing `doc_hashes`/`minhash_bands` artifacts (inline
    * fallback when none is materialized), and the verdict goes through
    * q50's OWN join core (`CorpusOps.dedupVerdictsOf`) — identical to
    * the batch audit by construction, not by parallel implementation.
    * At-least-once delivery is absorbed by a doc-grain dedup first
    * (arbitrary-but-single winner, the [[artifactMaintainingIntake]]
    * posture). Output: one `(idCol, verdict, match_id)` row per
    * distinct arriving document.
    */
  def nearDupOfBatch(batch: DataFrame, spark: SparkSession,
      corpusDir: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.operators.{CorpusOps, Dedup}
    val b = batchDocs(batch, idCol, textCol)
    CorpusOps.dedupVerdictsOf(
      b.select("doc_id"),
      graft.Artifacts.docHashesFrame(b),
      Dedup.bandedSignatures(b),
      graft.Artifacts.serve(spark, corpusDir, graft.Artifacts.DocHashesName),
      graft.Artifacts.serve(spark, corpusDir, graft.Artifacts.MinhashBandsName))
      .withColumnRenamed("doc_id", idCol)
  }

  /** q163/q165's perceptual verdict at INTAKE time — the MULTIMODAL
    * gate: each arriving document's media decoded (batch-bounded —
    * only the batch's own payloads), reduced to its grid fingerprint,
    * and verdicted against the STANDING `image_grids` artifact through
    * the shared [[graft.operators.Multimodal.phashVerdictsOf]] core:
    * `exact_phash` on an identical fingerprint, `near_phash` at
    * Hamming 1–3 via the band join (pigeonhole-complete), else `new`,
    * `match_id` = the smallest matching corpus doc. The image twin of
    * [[nearDupOfBatch]]: a re-crawl shipping the same pictures under
    * new bytes is caught at the door, before its storage is paid. The
    * stream carries zero image state — batch grids are derived per
    * micro-batch, the corpus side is one artifact read plus map-only
    * band arithmetic (corpus media is NEVER re-decoded at batch time),
    * and at-least-once is absorbed by the usual doc-grain dedup.
    */
  def imageDupOfBatch(batch: DataFrame, spark: SparkSession,
      corpusDir: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    mediaDupOfBatch(batch, spark, corpusDir, idCol, textCol,
      Multimodal.imageGridRows, ImageGridsName, Multimodal.phashVerdictsOf)

  /** q172/q173's perceptual verdict at INTAKE time — the VIDEO gate,
    * [[imageDupOfBatch]]'s body ([[mediaDupOfBatch]]) over takes: each
    * arriving take decoded batch-bounded,
    * reduced to its quantized luma signature
    * (`Multimodal.videoSigRows`), and verdicted against the STANDING
    * `video_sigs` artifact through the shared
    * [[graft.operators.Multimodal.sigVerdictsOf]] core — `exact_sig`
    * on an identical (length class, signature), `near_sig` at Hamming
    * 1–3 via the band join (pigeonhole-complete), else `new`;
    * `match_id` = the smallest matching corpus take. A re-delivered or
    * re-containered take is refused at the door instead of admitted
    * and culled at batch audit; corpus media is NEVER re-decoded at
    * batch time, and at-least-once is absorbed by the usual doc-grain
    * dedup.
    */
  def videoDupOfBatch(batch: DataFrame, spark: SparkSession,
      corpusDir: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    mediaDupOfBatch(batch, spark, corpusDir, idCol, textCol,
      Multimodal.videoSigRows, VideoSigsName, Multimodal.sigVerdictsOf)

  /** q176/q177's perceptual verdict at INTAKE time — the AUDIO gate,
    * [[videoDupOfBatch]] in amplitude space (`Multimodal.audioSigRows`
    * against the standing `audio_sigs`), completing the per-modality
    * dup gate set: text, image, video, and audio arrivals all verdict
    * at the door through their standing signature state.
    */
  def audioDupOfBatch(batch: DataFrame, spark: SparkSession,
      corpusDir: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    mediaDupOfBatch(batch, spark, corpusDir, idCol, textCol,
      Multimodal.audioSigRows, AudioSigsName, Multimodal.sigVerdictsOf)

  /** The arriving batch at doc grain as `(doc_id, text)`: at-least-once
    * delivery absorbed by an arbitrary-but-single row per id.
    */
  private def batchDocs(batch: DataFrame, idCol: String,
      textCol: String): DataFrame =
    batch.dropDuplicates(idCol)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))

  /** The three perceptual gates' one body: the deduped batch reduced to
    * its signature rows by `sigRows`, verdicted by `verdictsOf` against
    * the standing signature `artifact`.
    */
  private def mediaDupOfBatch(batch: DataFrame, spark: SparkSession,
      corpusDir: String, idCol: String, textCol: String,
      sigRows: DataFrame => DataFrame, artifact: String,
      verdictsOf: (DataFrame, DataFrame) => DataFrame): DataFrame =
    verdictsOf(sigRows(batchDocs(batch, idCol, textCol)),
      graft.Artifacts.serve(spark, corpusDir, artifact))
      .withColumnRenamed("doc_id", idCol)

  /** q166's audio QUALITY screen at INTAKE time — the seventh gate:
    * each arriving document's take decoded (batch-bounded — only the
    * batch's own payloads), frame-sampled, and verdicted
    * clipped/silent/keep through the shared
    * [[graft.operators.Multimodal.audioVerdictsOf]] core — gate ≡ q166
    * per document by construction. Like the trained text gate this one
    * touches NO standing state and carries no stream state: the whole
    * verdict is one `mapPartitions` decode over the batch plus a
    * doc-grain rollup, so a distorted or silent take is refused BEFORE
    * its storage and embedding cost is paid. At-least-once delivery is
    * absorbed by the usual doc-grain dedup.
    */
  def audioQualityOfBatch(batch: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    Multimodal.audioVerdictsOf(batchDocs(batch, idCol, textCol))
      .withColumnRenamed("doc_id", idCol)

  /** q158's TRAINED quality verdict at INTAKE time — the fifth gate:
    * each arriving document scored with the trained weights and gated
    * at the q154-priced cutoff, using a [[graft.operators.QualityTrain.TrainedGate]]
    * trained and priced ONCE against the standing corpus
    * (`QualityTrain.trainedGate`) and applied unchanged per micro-batch.
    * Retraining at the door would silently drift the stream's admission
    * rule away from the batch audit's — the gate is a published
    * artifact, retrained on the audit cadence (q152's drift signal),
    * never per batch.
    *
    * Unlike the join gates this one touches NO standing state at batch
    * time: q83's scoring kernel under the trained weights is map-only
    * column arithmetic, then `quality_score ≥ threshold` — per-batch
    * cost is exactly one pass over the batch's own rows. The verdict
    * goes through the same `scoredQuality` kernel and the same
    * (band, threshold) q158 ships, so gate-vs-audit agreement is by
    * construction (pinned per document in `QualityTrainSpec`). q158's
    * ledger conjunction is deliberately NOT applied: an arriving
    * document has no ledger row yet — the gate decides admission, the
    * ledger decides shipping later. At-least-once delivery is absorbed
    * by the usual doc-grain dedup. Output: one `(idCol, quality_score,
    * gate_band, gate_threshold, trained_keep)` row per distinct
    * arriving document.
    */
  def trainedGateOfBatch(batch: DataFrame,
      gate: graft.operators.QualityTrain.TrainedGate,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.operators.TextAnalysis.scoredQuality(
        batch.dropDuplicates(idCol), textCol, gate.model)
      .select(col(idCol), col("quality_score"),
        lit(gate.band.toLong).as("gate_band"),
        lit(gate.threshold).as("gate_threshold"),
        (col("quality_score") >= gate.threshold).as("trained_keep"))

  /** The SINGLE-DECODE composite intake: every batch-shaped gate's
    * verdict for one arriving micro-batch, computed off ONE decode /
    * tokenize pass per payload — where running the gates separately
    * decodes the same WAV twice ([[audioQualityOfBatch]] +
    * [[audioDupOfBatch]]) and re-tokenizes the batch for each text
    * gate. The production intake shape: a crawler-facing deployment
    * runs ALL the gates on every arrival, so the decode cost is paid
    * per payload, not per gate.
    *
    * One row per distinct arriving document, with every gate's columns:
    *
    *  - `dedup_verdict`/`dedup_match_id` — [[nearDupOfBatch]]'s q50
    *    text verdict (exact_dup / near_dup / new);
    *  - `n_shingles`/`n_novel`/`novelty` — [[noveltyOfBatch]]'s q109
    *    8-gram novelty vs the standing corpus index;
    *  - `n_eval_sets`/`contaminated` — [[contaminationOfBatch]]'s q124
    *    verdict rolled up to doc grain (distinct benchmark sets hit;
    *    registered members report 0 exactly as q124 excludes them);
    *  - `n_tokens`/`quality_score`/`quality_label` — q83's scoring
    *    kernel ([[qualityGateStream]]), under the trained model when
    *    `gate` is supplied, plus [[trainedGateOfBatch]]'s
    *    `gate_band`/`gate_threshold`/`trained_keep` columns then;
    *  - `audio_clipped`/`audio_silent`/`audio_keep` —
    *    [[audioQualityOfBatch]]'s q166 screen;
    *  - `image_verdict`/`image_match_id`, `video_verdict`/
    *    `video_match_id`, `audio_verdict`/`audio_match_id` — the three
    *    perceptual dup gates ([[imageDupOfBatch]] /
    *    [[videoDupOfBatch]] / [[audioDupOfBatch]]). A payload whose
    *    container routes instead of decoding carries NULL perceptual
    *    columns (no fingerprint exists to verdict).
    *
    * Every verdict goes through the SAME core its standalone gate uses
    * (`dedupVerdictsOf`, `noveltyOfShingles`,
    * `contaminationOfShingles`, `scoredQuality`,
    * `audioVerdictsFromWindows`, `phashVerdictsOf`, `sigVerdictsOf`) —
    * composite ≡ per-gate per document by construction, pinned in
    * `CompositeIntakeSpec` together with a one-decode-per-payload
    * counter guard. The sharing is structural: the deduped batch, the
    * token arrays, the 8-gram shingle rows, the audio window frame,
    * the image grids, and the video signatures are each derived once
    * and CHECKPOINTED, then fanned into every verdict core that needs
    * them (the audio windows feed both the quality screen and the dup
    * signature; the shingle rows feed both novelty and decontam).
    *
    * Call inside `Checkpoints.scoped` (the [[artifactMaintainingIntake]]
    * posture) and consume the returned frame within the scope — the
    * plan reads the checkpointed intermediates, which the scope
    * releases on exit. Batch-bounded state only; the standing sides
    * are artifact reads (inline fallback when none is materialized).
    */
  def intakeOfBatch(batch: DataFrame, spark: SparkSession, corpusDir: String,
      gate: Option[graft.operators.QualityTrain.TrainedGate] = None,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.operators.{CorpusOps, Dedup, EvalSets, TextAnalysis}
    val ck = (df: DataFrame) => graft.Checkpoints.checkpoint(df)
    val serve = graft.Artifacts.serve(spark, corpusDir, _: String)
    // a gate's (verdict, match_id) pair under the gate's column prefix
    def prefixed(m: String, verdicts: DataFrame) = verdicts
      .withColumnRenamed("verdict", s"${m}_verdict")
      .withColumnRenamed("match_id", s"${m}_match_id")
    val b = ck(batchDocs(batch, idCol, textCol))

    // ONE tokenize: both shingle widths derive from the same arrays
    val toks = ck(b.select(col("doc_id"), Dedup.tokens(col("text")).as("toks")))
    val sh8 = ck(toks.select(col("doc_id"),
      explode(CorpusOps.shinglesN(col("toks"), CorpusOps.DecontamN)).as("sh")))
    val sh3 = toks.select(col("doc_id"),
      explode(Dedup.shingles3(col("toks"))).as("sh"))

    // ONE decode per modality
    val audioWin = ck(Multimodal.audioWindowsOf(b))
    val grids = ck(Multimodal.imageGridRows(b))
    val videoSigs = ck(Multimodal.videoSigRows(b))

    val textDup = prefixed("dedup", CorpusOps.dedupVerdictsOf(
      b.select("doc_id"),
      graft.Artifacts.docHashesFrame(b),
      Dedup.bandedSignaturesFrom(sh3),
      serve(graft.Artifacts.DocHashesName),
      serve(graft.Artifacts.MinhashBandsName)))
    val novelty = CorpusOps.noveltyOfShingles(b.select("doc_id"), sh8,
      Seq("doc_id"), serve(graft.Artifacts.Shingles8Name))
    val contam = EvalSets.contaminationOfShingles(
        sh8.filter(!EvalSets.inAnySet(col("doc_id"))), "doc_id",
        serve(graft.Artifacts.EvalShinglesName))
      .groupBy("doc_id").agg(count(lit(1)).as("n_eval_sets"))
    val quality = gate.fold(TextAnalysis.scoredQuality(b, "text"))(g =>
        TextAnalysis.scoredQuality(b, "text", g.model))
      .select(Seq(col("doc_id"), col("n_tokens"), col("quality_score"),
        col("quality_label")) ++ gate.toSeq.flatMap(g => Seq(
        lit(g.band.toLong).as("gate_band"),
        lit(g.threshold).as("gate_threshold"),
        (col("quality_score") >= g.threshold).as("trained_keep"))): _*)
    val audioQuality = Multimodal.audioVerdictsFromWindows(b, audioWin)
      .select(col("doc_id"), col("clipped").as("audio_clipped"),
        col("silent").as("audio_silent"), col("keep").as("audio_keep"))
    val imageDup = prefixed("image",
      Multimodal.phashVerdictsOf(grids, serve(ImageGridsName)))
    val videoDup = prefixed("video",
      Multimodal.sigVerdictsOf(videoSigs, serve(VideoSigsName)))
    val audioDup = prefixed("audio", Multimodal.sigVerdictsOf(
      Multimodal.audioSigsFromWindows(b, audioWin), serve(AudioSigsName)))

    b.select("doc_id")
      .join(textDup, Seq("doc_id"), "left")
      .join(novelty, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"), "left")
      .join(audioQuality, Seq("doc_id"), "left")
      .join(imageDup, Seq("doc_id"), "left")
      .join(videoDup, Seq("doc_id"), "left")
      .join(audioDup, Seq("doc_id"), "left")
      .withColumn("n_eval_sets", coalesce(col("n_eval_sets"), lit(0L)))
      .withColumn("contaminated", col("n_eval_sets") > 0)
      .withColumnRenamed("doc_id", idCol)
  }

  /** [[gatedIntake]]'s default admission rule over [[intakeOfBatch]]'s
    * verdict columns: text-new ∧ uncontaminated ∧ quality keep (the
    * trained gate's verdict when a gate is supplied, q83's label
    * otherwise) ∧ audio screen keep ∧ perceptually new in every
    * modality. NULL media columns pass — a payload whose container
    * routes instead of decoding has no fingerprint to be a duplicate
    * OF, and rejecting it for that would silently drop every non-media
    * document; a NULL quality score (no tokens) culls.
    */
  private[graft] def defaultAdmit(
      gate: Option[graft.operators.QualityTrain.TrainedGate]): Column = {
    val textKeep = gate.fold(col("quality_label") === "keep")(_ =>
      col("trained_keep"))
    col("dedup_verdict") === "new" && !col("contaminated") &&
      coalesce(textKeep, lit(false)) &&
      coalesce(col("audio_keep"), lit(true)) &&
      coalesce(col("image_verdict") === "new", lit(true)) &&
      coalesce(col("video_verdict") === "new", lit(true)) &&
      coalesce(col("audio_verdict") === "new", lit(true))
  }

  /** The GATED door-to-corpus intake — the full production admission
    * pipeline as one sink: each micro-batch is verdicted by
    * [[intakeOfBatch]] (every gate over ONE decode/tokenize pass),
    * `admit` (default [[defaultAdmit]]) decides per document, admitted
    * documents are appended and every standing artifact is carried
    * across the append in lockstep ([[artifactMaintainingIntake]]'s
    * contract), and EVERY arriving document's full verdict row lands in
    * `auditDir/batch=<id>` with its `admitted` flag — the "why was my
    * page rejected at the door" trail, idempotent per batch id (a
    * replayed batch overwrites its own audit directory; the recorded
    * verdicts are those of the batch's LAST processing — on a
    * crash-replay an already-admitted document re-verdicts as a dup of
    * itself, which is the truthful post-append state).
    *
    * Crash posture matches the ungated sink: the batch is deduped and
    * anti-joined against the corpus from ONE checkpointed frame, so
    * the appended rows are bit-identical to the rows maintenance folds
    * in; a replayed batch whose admitted rows are all present is a
    * no-op UNLESS artifacts still key to the pre-crash fingerprint, in
    * which case the self-heal leg folds exactly the batch rows that
    * ARE in the table (rejected rows never entered it and must not
    * enter the artifacts).
    *
    * Expects a seeded corpus: the gates verdict arrivals AGAINST the
    * standing corpus state — an empty deployment bootstraps through
    * [[artifactMaintainingIntake]] first, then switches the door on.
    */
  def gatedIntake(docs: DataFrame, spark: SparkSession, corpusDir: String,
      auditDir: String,
      gate: Option[graft.operators.QualityTrain.TrainedGate] = None,
      admit: Option[Column] = None,
      checkpoint: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        gatedIntakeBatch(batch.toDF(), id, spark, corpusDir, auditDir,
          gate, admit)
        ()
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** One micro-batch of [[gatedIntake]] — the sink's body, callable
    * directly (the spec stages torn-append replays through it).
    */
  private[graft] def gatedIntakeBatch(batchDf: DataFrame, batchId: Long,
      spark: SparkSession, corpusDir: String, auditDir: String,
      gate: Option[graft.operators.QualityTrain.TrainedGate],
      admit: Option[Column]): Unit = graft.Checkpoints.scoped {
    val fpOld = graft.Artifacts.corpusFingerprint(spark, corpusDir)
    val b = graft.Checkpoints.checkpoint(batchDf.dropDuplicates("doc_id"))
    val flagged = graft.Checkpoints.checkpoint(
      intakeOfBatch(b, spark, corpusDir, gate)
        .withColumn("admitted", admit.getOrElse(defaultAdmit(gate))))
    // audit trail first: on a crash anywhere downstream the replay
    // overwrites this batch's directory, never duplicates it
    flagged.write.mode(SaveMode.Overwrite)
      .parquet(s"$auditDir/batch=$batchId")
    intakeLockstep(spark, corpusDir, graft.Artifacts.Docs, fpOld,
      b.join(flagged.filter(col("admitted")).select("doc_id"), Seq("doc_id")),
      b)
  }

  /** q44 — last-touch attribution over the static events table: for each
    * purchase, the most recent view by the same user strictly within the
    * preceding 30 minutes. The interval join is an equi-join on user_id
    * with a time-range residual (shuffles once on the key); last-touch is
    * the skew-immune `max(struct(ts, id))` reduction, not a window.
    * Arithmetic runs in µs (`unix_micros(ts)` ⇔ DuckDB `epoch_us(ts)`) —
    * NOT the ns longs: DuckDB coerces the parquet ns timestamps to µs at
    * read, so ns arithmetic diverges in the sub-µs tail (observed
    * firsthand: gap_ns off by the <1 µs residue).
    */
  def q44IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val gapUs = 30L * 60L * 1000000L
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        unix_micros(col("ts")).as("view_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("purchase_ts"), col("value"))
    p.join(v, Seq("user_id"))
      .filter(col("view_ts") < col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - gapUs)
      .groupBy(col("purchase_id"), col("user_id"),
        col("purchase_ts"), col("value"))
      .agg(max(struct(col("view_ts"), col("view_id"))).as("last_touch"))
      .select(col("purchase_id"), col("user_id"),
        col("last_touch.view_id").as("attributed_view_id"),
        (col("purchase_ts") - col("last_touch.view_ts")).as("gap_us"),
        col("value"))
      .orderBy("purchase_id")
  }

  lazy val q44OracleSql: String =
    """WITH v AS (
      |  SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_ts
      |  FROM events WHERE event_type = 'view'
      |), p AS (
      |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_ts, value
      |  FROM events WHERE event_type = 'purchase'
      |), j AS (
      |  SELECT p.purchase_id, p.user_id, p.purchase_ts, p.value,
      |         v.view_id, v.view_ts,
      |         row_number() OVER (PARTITION BY p.purchase_id
      |           ORDER BY v.view_ts DESC, v.view_id DESC) AS rn
      |  FROM p JOIN v ON p.user_id = v.user_id
      |   AND v.view_ts < p.purchase_ts
      |   AND v.view_ts >= p.purchase_ts - 1800000000
      |)
      |SELECT purchase_id, user_id, view_id AS attributed_view_id,
      |       purchase_ts - view_ts AS gap_us, value
      |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin

  // ---- driver-contract batch entries ----

  /** q29 — tumbling-window aggregation over the static events table. */
  def q29TumblingWindow(spark: SparkSession, dir: String): DataFrame =
    tumblingCounts(Tables.events(spark, dir))
      .orderBy("w_start_us", "event_type")

  lazy val q29OracleSql: String =
    """SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS w_start_us,
      |       event_type, COUNT(*) AS n_events,
      |       CAST(ROUND(CAST(SUM(value) AS DECIMAL(20,10)), 2) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY w_start_us, event_type""".stripMargin

  /** q30 — sliding-window aggregation (every event belongs to exactly two
    * 1h/30m windows; the oracle materializes both bucket starts).
    */
  def q30SlidingWindow(spark: SparkSession, dir: String): DataFrame =
    slidingCounts(Tables.events(spark, dir))
      .orderBy("w_start_us", "event_type")

  lazy val q30OracleSql: String =
    """WITH w AS (
      |  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
      |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS w_start,
      |         event_type, value
      |  FROM events
      |)
      |SELECT epoch_us(w_start) AS w_start_us, event_type,
      |       COUNT(*) AS n_events,
      |       CAST(ROUND(CAST(SUM(value) AS DECIMAL(20,10)), 2) AS DOUBLE) AS sum_value
      |FROM w GROUP BY 1, 2 ORDER BY w_start_us, event_type""".stripMargin

  /** q31 — session-window aggregation; oracle via gaps-and-islands over
    * µs timestamps (new session when the gap is ≥ 30 minutes, matching
    * Spark's strictly-within-gap merge rule).
    */
  def q31SessionWindow(spark: SparkSession, dir: String): DataFrame =
    sessionAgg(Tables.events(spark, dir))
      .orderBy("user_id", "s_start_us")

  lazy val q31OracleSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
      |), flagged AS (
      |  SELECT user_id, ts_us, value,
      |         CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
      |                   >= 1800000000 THEN 1 ELSE 0 END AS new_session
      |  FROM e
      |), sessions AS (
      |  SELECT user_id, ts_us, value,
      |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |)
      |SELECT MIN(ts_us) AS s_start_us, user_id, COUNT(*) AS n_events,
      |       CAST(ROUND(CAST(SUM(value) AS DECIMAL(20,10)), 2) AS DOUBLE) AS sum_value
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, s_start_us""".stripMargin
}
