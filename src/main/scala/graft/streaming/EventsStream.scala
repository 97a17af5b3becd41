package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming workloads over the `events` fixture — the
  * mandated streaming extension (SURVEY §2.9/§7.5: the reference has no
  * streaming; these are the Spark-native semantics a user would add).
  *
  * Every stateful op is keyed (window/user_id) so state partitions
  * across executors; watermarks bound state size — the two properties
  * that matter at production stream volume.
  */
object EventsStream {

  /** Streaming source over the events parquet (file-stream source —
    * in production this would be Kafka/kinesis; the transform stack is
    * identical). A file stream needs an explicit schema, and the
    * fixture's physical `ts` type has changed across driver
    * generations (TIMESTAMP(NANOS)→read-as-long vs TIMESTAMP_MICROS
    * NTZ), so probe the footer with a batch read first and build the
    * stream schema + normalization from what's actually on disk — the
    * same adaptive contract as graft.sources.Tables.adapt. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // FileStreamSource requires a directory; the fixture is a single
    // parquet file in a read-only tree, so stage a symlink dir
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val streamDir =
      if (java.nio.file.Files.isDirectory(src)) src
      else {
        val d = java.nio.file.Files.createTempDirectory("graft-events-stream")
        java.nio.file.Files.createSymbolicLink(d.resolve("events.parquet"), src)
        d
      }
    // footer-only probe: what did THIS fixture generation store ts as?
    val tsType = spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType
    val rawSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val stream = spark.readStream
      .schema(rawSchema)
      .parquet(streamDir.toString)
    tsType match {
      case LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => stream
      case _ => stream.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Tumbling-window counts with a watermark bounding state
    * (same semantics as batch e01_tumbling_window). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding-window aggregation (1h window / 30min slide) with watermark. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** Session windows via the built-in session_window (gap close 30 min). */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))

  /** Streaming dedup on event_id within the watermark horizon. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  case class Event(event_id: Long, user_id: Long, event_type: String, value: Double)
  case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state: running per-user totals via
    * mapGroupsWithState (the arbitrary-stateful-op surface). */
  def userRunningTotals(spark: SparkSession, events: DataFrame): Dataset[UserStats] = {
    import spark.implicits._
    events.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(userId, 0L, 0.0))
          val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          val next = UserStats(userId, n, v)
          state.update(next)
          next
      }
  }

  case class SessEvent(user_id: Long, ts_us: Long, cents: Long)
  case class OpenSession(start_us: Long, last_us: Long, n: Long, cents: Long)
  case class ClosedSession(user_id: Long, session_start_us: Long,
      n_events: Long, session_cents: Long)

  /** Gap-based sessionization with CLOSED-session emission via
    * flatMapGroupsWithState + event-time timeout — the
    * arbitrary-stateful surface mapGroupsWithState can't express
    * (zero-or-many outputs per invocation: a burst can close several
    * sessions at once, a quiet user emits nothing until the watermark
    * passes their gap). Batch twin: e03_sessionize (same 30-min gap;
    * values accumulated as integer cents so streaming fold order can
    * never drift from the batch sum). State per user is ONE open
    * session (4 longs) regardless of history — the watermark timeout,
    * not the data volume, bounds state size. */
  def closedSessions(spark: SparkSession,
      events: DataFrame): Dataset[ClosedSession] = {
    import spark.implicits._
    val gapMs = 30L * 60 * 1000
    events
      .withWatermark("ts", "2 hours")
      .select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"),
        col("ts"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[(Long, Long, Long, java.sql.Timestamp)],
            state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed the open session's gap: it can never
            // grow again — emit and clear
            val s = state.get
            state.remove()
            Iterator(ClosedSession(userId, s.start_us, s.n, s.cents))
          } else {
            // merge sorted new events into the open session, closing on
            // every >30-min gap (several sessions can close per batch)
            val evs = batch.map(t => SessEvent(t._1, t._2, t._3)).toArray
              .sortBy(_.ts_us)
            val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
            var open = state.getOption
            evs.foreach { e =>
              open match {
                case Some(s) if e.ts_us - s.last_us <= gapMs * 1000 =>
                  open = Some(OpenSession(s.start_us, e.ts_us,
                    s.n + 1, s.cents + e.cents))
                case Some(s) =>
                  closed += ClosedSession(userId, s.start_us, s.n, s.cents)
                  open = Some(OpenSession(e.ts_us, e.ts_us, 1L, e.cents))
                case None =>
                  open = Some(OpenSession(e.ts_us, e.ts_us, 1L, e.cents))
              }
            }
            open.foreach { s =>
              state.update(s)
              // timeout must sit strictly above the current watermark
              state.setTimeoutTimestamp(math.max(s.last_us / 1000 + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  case class CentEvent(user_id: Long, cents: Long)
  case class UserTotals(user_id: Long, n_events: Long, total_cents: Long)

  /** Per-user running totals on `transformWithState` — Spark 4's
    * arbitrary-state API v2 (typed named state via a
    * StatefulProcessorHandle, per-state TTL, timers; requires the
    * RocksDB state store). Deliberately the functional twin of
    * [[userRunningTotals]] so the spec cross-checks BOTH stateful APIs
    * against the same batch ground truth; values accumulate as integer
    * cents so micro-batch fold order can never drift from the batch
    * sum. State is one 3-long record per user — at production volume
    * the RocksDB store spills it off-heap, which is exactly why the
    * operator mandates that provider. */
  class UserTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, CentEvent, UserTotals] {
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[UserTotals] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        org.apache.spark.sql.Encoders.product[UserTotals],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[CentEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserTotals] = {
      val prev = if (totals.exists()) totals.get()
        else UserTotals(key, 0L, 0L)
      val next = rows.foldLeft(prev) { (acc, e) =>
        UserTotals(key, acc.n_events + 1, acc.total_cents + e.cents)
      }
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** Fully-qualified class name of the RocksDB state store provider
    * that transformWithState requires (it refuses the default
    * HDFS-backed store). Callers of [[userTotalsV2]] set this as
    * `spark.sql.streaming.stateStore.providerClass` — a session-wide
    * knob that affects EVERY streaming query started afterwards, which
    * is why this builder refuses to set it as a side effect. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Driver for [[UserTotalsProcessor]]. Update-mode emission: the
    * last emitted row per user is the final total (the spec takes
    * max). REQUIRES the RocksDB state store provider on the session
    * (see [[RocksDbProvider]]); fails fast with the exact conf to set
    * rather than silently switching every subsequent streaming query
    * in the session to RocksDB as a hidden side effect. */
  def userTotalsV2(spark: SparkSession,
      events: DataFrame): Dataset[UserTotals] = {
    import spark.implicits._
    val provider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").getOrElse("")
    require(provider == RocksDbProvider,
      "transformWithState requires the RocksDB state store. Set " +
        s"""spark.conf.set("spark.sql.streaming.stateStore.providerClass", """ +
        s""""$RocksDbProvider") before calling userTotalsV2 — note this """ +
        "affects every streaming query started on the session afterwards.")
    events
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[CentEvent]
      .groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Stream-static enrichment: the streaming events join a static
    * customer dimension (broadcast — the stream side never shuffles
    * for the join, and the static side is re-read per micro-batch
    * without any streaming state), then a watermarked tumbling
    * aggregate by market segment. Batch twin: e06_stream_enrich. */
  def enrichedSegmentCounts(spark: SparkSession, events: DataFrame,
      dir: String): DataFrame = {
    val dim = broadcast(graft.sources.Tables.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment")))
    events
      .withWatermark("ts", "2 hours")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("c_mktsegment"),
        col("n"), col("total_value"))
  }

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks in the preceding hour. Both sides carry watermarks
    * so the join state is bounded; the range condition bounds how long
    * a click is retained awaiting purchases. */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"), col("purchase_ts"), col("click_ts"))
  }

  /** Left-OUTER stream-stream interval join: purchaseAttribution's
    * condition, but purchases with NO click in their preceding hour
    * still emit (null click columns) once the watermark proves no
    * matching click can arrive — the harder outer-join semantics
    * where the watermark doesn't just bound state, it GATES result
    * emission (an unmatched row is only correct after event time has
    * provably passed its join window). */
  def purchaseAttributionOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"),
      "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"), col("purchase_ts"), col("click_ts"))
  }

  /** Streaming distribution-drift monitor (batch twin:
    * e09_stream_drift): per-day event-type PSI contributions against a
    * STATIC reference histogram — the live "did today's traffic shift
    * from what we trained/planned on" alarm (tx24's PSI arithmetic
    * lifted onto event-time windows). The reference arrives as driver
    * data (`refCounts`: (event_type, global_count) — bounded by
    * |types|, the precomputed artifact a production monitor would
    * load), so the plan needs ONE stateful aggregation: a watermarked
    * per-day window with a conditional count per reference type; the
    * per-type explode and all PSI arithmetic run stateless AFTER the
    * agg. Laplace-smoothed exactly like tx24 ((n+1)/(n_w+T) vs
    * (n_t+1)/(N+T)) so an absent type contributes finite drift mass
    * instead of a NaN. Types in the stream but NOT in the reference
    * count toward the window total and get no row — the unknown-type
    * alarm is a different monitor. Output: (day_start, event_type, n,
    * psi_contrib) per closed window, value-identical to the batch twin
    * on the same data (StreamingSpec pins it). */
  def driftContributions(events: DataFrame,
      refCounts: Seq[(String, Long)]): DataFrame = {
    require(refCounts.nonEmpty, "drift monitor needs a reference histogram")
    require(refCounts.map(_._1).distinct.size == refCounts.size,
      "reference histogram has duplicate event types — a malformed " +
        "artifact would emit duplicate cells and mis-smooth every PSI: " +
        refCounts.map(_._1).mkString(", "))
    val ref = refCounts.sortBy(_._1)
    val t = ref.length
    val totalN = ref.map(_._2).sum
    val agg = events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_w"),
        ref.zipWithIndex.map { case ((ty, _), i) =>
          sum(when(col("event_type") === ty, 1L).otherwise(0L)).as(s"_n$i")
        }: _*)
    val cells = array(ref.zipWithIndex.map { case ((ty, nT), i) =>
      struct(lit(ty).as("event_type"), col(s"_n$i").as("n"),
        lit(nT).as("n_t"))
    }: _*)
    val exploded = agg
      .select(col("window.start").as("day_start"), col("n_w"),
        explode(cells).as("c"))
    exploded.select(col("day_start"), col("c.event_type").as("event_type"),
      col("c.n").as("n"),
      graft.ext.TextOps.psiCellExpr(col("c.n"), col("n_w"),
        col("c.n_t"), lit(totalN), lit(t)).as("psi_contrib"))
  }

  /** Drive a streaming DataFrame to completion against an in-memory
    * sink and return the materialized result (test/dev harness). */
  def runToMemory(spark: SparkSession, df: DataFrame, queryName: String,
      outputMode: OutputMode = OutputMode.Append()): DataFrame = {
    val q = df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName)
  }

  /** Idempotent micro-batch sink via `foreachBatch`: each batch lands
    * as a parquet partition directory keyed by its batchId, written
    * with a same-batch overwrite — so a REPLAYED batch (the at-least-
    * once delivery Structured Streaming guarantees after a failure)
    * overwrites its own previous attempt instead of appending
    * duplicates. This is the standard exactly-once-to-storage recipe
    * when the sink itself isn't transactional: (batchId, data) is
    * deterministic per checkpoint, so overwrite-by-batchId makes the
    * write idempotent ([[StreamState.writeBatch]], the layout every
    * admission stream writes). Returns the running query; callers stop
    * it.
    *
    * At scale the same shape targets object storage with dynamic
    * partition overwrite; the per-batch `coalesce(1)` only bounds
    * tiny-file count for the fixture-sized batches. */
  def runToIdempotentParquet(spark: SparkSession, df: DataFrame,
      outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StreamState.writeBatch(batch, outDir, batchId)
      }
      .outputMode(OutputMode.Append())
      .start()

  /** Watermarks unset (-1) for funnel stages not yet reached; a_us is
    * the eviction anchor for PRE-VIEW users — the max event time seen
    * across all their batches, kept MONOTONE in state so a late batch
    * carrying only older events can never move an existing user's
    * timeout deadline backward (the documented horizon is last event
    * + 2W; view users anchor on v_us and ignore it). */
  case class FunnelState(v_us: Long, c_us: Long, p_us: Long,
      a_us: Long = Long.MinValue)
  case class FunnelRow(user_id: Long, stage: Long, v_us: Long,
      c_us: Long, p_us: Long)

  /** Streaming attribution funnel — the live twin of e11's batch
    * cascade: a per-user 3-slot state machine (first view; first
    * click strictly after it and within 24h; first purchase strictly
    * after THAT and within 24h), emitting the user's current stage
    * each batch (Update mode — the stage is monotone, last row wins).
    *
    * Contract (BudgetStream's ordered-batches convention): over
    * batches that respect per-user event-time order, the final stage
    * assignment equals e11's batch cascade on the concatenated table —
    * within a batch, events sort before folding, so intra-batch
    * disorder is free. Across batches the machine never rewinds: a
    * view arriving AFTER a later click was already evaluated cannot
    * retro-qualify it (the spec pins this divergence on a planted
    * user). State per user is THREE longs — and, since round 15,
    * BOUNDED IN USER COUNT too: an event-time timeout evicts a user
    * once the watermark passes the funnel's advance horizon (first
    * view + 2 windows — a click must land by view+W and a purchase by
    * click+W, so past v+2W no event can change the stage; pre-view
    * users anchor on the max event time seen so far, stored in state
    * so the deadline only ever advances — a late batch with older
    * events cannot pull it backward). Eviction emits the frozen
    * stage one final time (idempotent under the max(stage)-per-user
    * consumer) and frees the state; a user re-appearing AFTER
    * eviction starts a FRESH funnel — the retention contract, pinned
    * in-spec. `watermarkDelay` is the allowed arrival lateness
    * (independent of the funnel window; late events beyond it are
    * dropped by the watermark, the standard streaming trade). */
  def funnelStates(spark: SparkSession, events: DataFrame,
      windowUs: Long = 86400000000L,
      watermarkDelay: String = "24 hours"): Dataset[FunnelRow] = {
    import spark.implicits._
    def stageOf(s: FunnelState): Long =
      if (s.p_us >= 0) 3L else if (s.c_us >= 0) 2L
      else if (s.v_us >= 0) 1L else 0L
    events
      .withWatermark("ts", watermarkDelay)
      // ts rides along UNPROJECTED: the event-time-timeout checker
      // requires the watermarked attribute itself (not a derived
      // long) to reach the stateful operator's input
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[(Long, String, java.sql.Timestamp, Long)],
            state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // the watermark passed this funnel's advance horizon:
            // whatever stage stands is final. Emit it once more and
            // free the three longs; a later arrival for this user is
            // a new funnel.
            val s = state.get
            state.remove()
            FunnelRow(uid, stageOf(s), s.v_us, s.c_us, s.p_us)
          } else {
            var s = state.getOption.getOrElse(
              FunnelState(-1L, -1L, -1L, Long.MinValue))
            var maxUs = Long.MinValue
            batch.toArray.sortBy(t => (t._4, t._2))
              .foreach { case (_, et, _, us) =>
              if (us > maxUs) maxUs = us
              if (et == "view" && s.v_us < 0)
                s = s.copy(v_us = us)
              else if (et == "click" && s.v_us >= 0 && s.c_us < 0 &&
                  us > s.v_us && us <= s.v_us + windowUs)
                s = s.copy(c_us = us)
              else if (et == "purchase" && s.c_us >= 0 && s.p_us < 0 &&
                  us > s.c_us && us <= s.c_us + windowUs)
                s = s.copy(p_us = us)
            }
            s = s.copy(a_us = math.max(s.a_us, maxUs))
            state.update(s)
            // advance horizon: v+2W bounds completion; Spark requires
            // the timeout timestamp to sit strictly past the current
            // watermark, so an already-passed horizon evicts on the
            // next watermark advance instead of throwing.
            val anchorUs = if (s.v_us >= 0) s.v_us else s.a_us
            val deadlineMs = anchorUs / 1000L + 2L * (windowUs / 1000L)
            state.setTimeoutTimestamp(
              math.max(deadlineMs, state.getCurrentWatermarkMs() + 1L))
            FunnelRow(uid, stageOf(s), s.v_us, s.c_us, s.p_us)
          }
      }
  }
}
