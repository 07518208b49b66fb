package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types._

/** Event-sourcing / broadcasting layer (SURVEY.md §2.9) — the
  * meepo-equivalent core re-expressed on Structured Streaming.
  *
  * The `events` table stands in for the CDC feed: `user_id` is the
  * primary key, `event_id` the binlog position, `ts` the commit
  * timestamp. Every transform here is written against a plain
  * `DataFrame` so one body serves both `read` (oracled batch
  * rendering) and `readStream` (the real streaming path) — the
  * batch↔stream equivalence tests in EventStreamSpec hold the two
  * together.
  *
  * 100 TB / production notes:
  *  - all stateful ops key by `user_id` → state is partitioned across
  *    executors by the shuffle; nothing aggregates to a single task;
  *  - the streaming source would be Kafka in production (unavailable
  *    offline — SURVEY §7); the file source exercises the same
  *    micro-batch machinery, offsets and commit log included;
  *  - fan-out persists the micro-batch once and writes N sinks from
  *    the cached copy — one source scan regardless of sink count,
  *    idempotent per (sink, batchId).
  */
object EventStreams {

  /** Raw long-ns stream-input schema (ts = int64 nanos) — the shape
    * EventStreamSpec's synthetic stream fixtures write. The driver
    * testdata itself may instead carry a native timestamp[us] `ts`;
    * [[readEventStream]] probes the actual file schema rather than
    * assuming either encoding. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Bounded stream over the same parquet the batch path reads.
    * The testdata table is a single file and the streaming file source
    * requires a directory basePath — a glob character in the path
    * switches the source to listing mode over the parent directory.
    * The stream schema must be declared up front, so probe the file's
    * batch schema (one footer read, driver-side) and normalize `ts`
    * the same way [[Tables.events]] does — long nanos and native
    * timestamps both land on TimestampType(µs).
    */
  def readEventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val fileSchema = Tables.load(spark, sfDir, "events").schema
    Tables.normalizeEventTs(
      spark.readStream.schema(fileSchema).parquet(s"$sfDir/events.parque[t]"))
  }

  // ── op 54: change-feed envelope (binlog parse analog) ───────────
  /** Map app events onto a CDC envelope: op ∈ I/U/D, primary key,
    * position, commit ts, after-image, metadata. */
  def envelope(events: DataFrame): DataFrame =
    events.select(
      col("event_id").as("position"),
      col("user_id").as("pk"),
      col("ts"),
      when(col("event_type") === "signup", "I")
        .when(col("event_type") === "error", "D")
        .otherwise("U").as("op"),
      struct(col("user_id"), col("event_type"), col("value")).as("after"),
      from_json(col("props"), MapType(StringType, IntegerType)).as("meta"))

  // ── op 54b: full-fidelity envelope (txn, before-images, DDL) ────
  /** Debezium-shaped change record (VERDICT r3 next-round #4 — the
    * CDC data model a real consumer expects):
    *
    *  - **txn grouping**: a synthetic transaction = a window of `txnW`
    *    consecutive binlog positions (`txn_id = position DIV txnW`,
    *    `txn_seq = position % txnW`) — the offline stand-in for the
    *    BEGIN…COMMIT grouping a binlog parser emits; at 100 TB the
    *    grouping key arrives WITH the feed, and everything downstream
    *    (per-txn aggregation, atomic apply) is keyed on it unchanged.
    *  - **row images**: I → (null, after); U → (before, after);
    *    D → (before, null), where `before` is the previous row event's
    *    image for the same pk in log order — in batch a `lag` window
    *    per pk, in streaming [[cdcEnvelopeStream]]'s per-key state.
    *  - **DDL events**: `view` events play the schema-change role —
    *    no pk row images, a statement payload instead, interleaved at
    *    their log position like binlog QUERY events.
    *
    * The batch rendering assumes the log is position-ordered (true of
    * a binlog); the streaming rendering processes arrival order and
    * sorts within each micro-batch, which agrees with batch whenever
    * delivery preserves log order per key.
    */
  def envelopeTxn(events: DataFrame, txnW: Int = 16): DataFrame = {
    val base = events.select(
      col("event_id").as("position"),
      col("user_id").as("pk"),
      col("ts"),
      when(col("event_type") === "signup", "I")
        .when(col("event_type") === "error", "D")
        .when(col("event_type") === "view", "DDL")
        .otherwise("U").as("op"),
      struct(col("event_type"), col("value")).as("image"))
      .withColumn("txn_id", expr(s"position DIV $txnW"))
      .withColumn("txn_seq", col("position") % txnW)
    val imageType = base.schema("image").dataType
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk").orderBy(col("ts"), col("position"))
    val rowEvents = base.filter(col("op") =!= "DDL")
      .withColumn("prev", lag(col("image"), 1).over(w))
      .select(col("position"), col("pk"), col("ts"), col("op"),
        col("txn_id"), col("txn_seq"),
        when(col("op") === "I", lit(null).cast(imageType))
          .otherwise(col("prev")).as("before"),
        when(col("op") === "D", lit(null).cast(imageType))
          .otherwise(col("image")).as("after"),
        lit(null).cast(StringType).as("ddl_stmt"))
    val ddlEvents = base.filter(col("op") === "DDL")
      .select(col("position"), col("pk"), col("ts"), col("op"),
        col("txn_id"), col("txn_seq"),
        lit(null).cast(imageType).as("before"),
        lit(null).cast(imageType).as("after"),
        concat(lit("ALTER TABLE events ADD PARTITION (txn="),
          col("txn_id").cast(StringType), lit(")")).as("ddl_stmt"))
    rowEvents.unionByName(ddlEvents)
  }

  /** Per-transaction summary over [[envelopeTxn]] — the unit a CDC
    * consumer applies atomically. One shuffle on txn_id; op counters
    * partial-aggregate map-side. */
  def txnGroups(events: DataFrame, txnW: Int = 16): DataFrame = {
    def nOf(op: String) = sum((col("op") === op).cast("long"))
    envelopeTxn(events, txnW)
      .groupBy("txn_id")
      .agg(count(lit(1)).as("n_ops"),
        nOf("I").as("n_inserts"), nOf("U").as("n_updates"),
        nOf("D").as("n_deletes"), nOf("DDL").as("n_ddl"),
        min("position").as("first_position"),
        max("position").as("last_position"),
        max(unix_micros(col("ts"))).as("commit_ts_us"),
        countDistinct("pk").as("n_keys"))
  }

  /** Streaming rendering of [[envelopeTxn]]: per-key state carries the
    * last row-event image, so before-images come from the StateStore
    * instead of a lag window (unsupported over streams). DDL events
    * pass through without touching state. Emits in Append mode — one
    * record per input event. `transformWithState` (the Spark-4-current
    * stateful idiom, migrated from flatMapGroupsWithState in r13)
    * keeps the identical per-batch sort + carried-image logic; the
    * EventStreamSpec equivalences vs [[envelopeTxn]] and the
    * cross-micro-batch before-image threading test are unchanged.
    */
  case class CdcRecord(position: Long, pk: Long, ts_us: Long, op: String,
      txn_id: Long, txn_seq: Long, before_value: Option[Double],
      after_value: Option[Double], ddl_stmt: Option[String])
  case class CdcImage(event_type: String, value: Double)

  class CdcEnvelopeProcessor(txnW: Int)
      extends StatefulProcessor[Long, FoldEvent, CdcRecord] {
    @transient private var last: ValueState[CdcImage] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[CdcImage]("lastImage",
        Encoders.product[CdcImage], TTLConfig.NONE)

    override def handleInputRows(pk: Long, rows: Iterator[FoldEvent],
        timerValues: TimerValues): Iterator[CdcRecord] = {
      var cur = if (last.exists()) Some(last.get()) else None
      val out = rows.toVector.sortBy(e => (e.ts_us, e.event_id)).map { e =>
        val op = e.event_type match {
          case "signup" => "I"; case "error" => "D"
          case "view" => "DDL"; case _ => "U"
        }
        val txnId = e.event_id / txnW
        if (op == "DDL")
          CdcRecord(e.event_id, pk, e.ts_us, op, txnId, e.event_id % txnW,
            None, None,
            Some(s"ALTER TABLE events ADD PARTITION (txn=$txnId)"))
        else {
          val before = if (op == "I") None else cur.map(_.value)
          val after = if (op == "D") None else Some(e.value)
          cur = Some(CdcImage(e.event_type, e.value))
          CdcRecord(e.event_id, pk, e.ts_us, op, txnId, e.event_id % txnW,
            before, after, None)
        }
      }
      cur.foreach(last.update)
      out.iterator
    }
  }

  def cdcEnvelopeStream(ds: Dataset[FoldEvent], txnW: Int = 16): Dataset[CdcRecord] = {
    val spark = ds.sparkSession
    import spark.implicits._
    requireRocksDb(spark, ds.isStreaming)
    ds.groupByKey(_.user_id)
      .transformWithState(new CdcEnvelopeProcessor(txnW),
        TimeMode.None(), OutputMode.Append())
  }

  // ── op 55: subscription filter + key routing ────────────────────
  /** Subscription rules: drop uninteresting ops, assign each event a
    * sink route by key hash, and shuffle on (route, pk) so every
    * primary key's events land in exactly one partition (meepo's
    * per-PK ordered delivery) WITHOUT capping parallelism at the sink
    * count: partitioning by `route` alone makes `nSinks` tasks do all
    * routing work at 100 TB, while (route, pk) keeps the co-location
    * guarantee and spreads work across `nPartitions` tasks. Note the
    * hash mixes routes across partitions — a partition holds several
    * routes, and a route spans many partitions; what's guaranteed is
    * per-KEY ordering (one partition per pk). A sink selects its
    * route's rows (e.g. the fan-out filter), it does not own whole
    * partitions.
    */
  def filterRoute(events: DataFrame, nSinks: Int = 4,
      nPartitions: Int = 0): DataFrame = {
    val nPart = if (nPartitions > 0) nPartitions
      else events.sparkSession.sessionState.conf.numShufflePartitions
    events.filter(col("event_type") =!= "view")
      .withColumn("route", pmod(col("user_id"), lit(nSinks)))
      .repartition(nPart, col("route"), col("user_id"))
  }

  // ── ops 56-58: time windows ─────────────────────────────────────
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("total_value"))
      .select(unix_micros(col("w.start")).as("hour_start_us"),
        col("event_type"), col("n_events"), col("total_value"))

  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("total_value"))
      .select(unix_micros(col("w.start")).as("win_start_us"),
        col("event_type"), col("n_events"), col("total_value"))

  def sessionized(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("total_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
        col("n_events"), col("total_value"))

  // ── op 59: watermark + windowed agg (late-data tolerance) ───────
  def watermarkedTumbling(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    tumbling(events.withWatermark("ts", delay))

  // ── op 60: idempotent delivery (at-least-once → effectively-once)
  def dedupByPosition(events: DataFrame): DataFrame =
    events.dropDuplicates(Seq("event_id"))

  // ── op 61: event-sourcing fold (typed per-key state machine) ────
  case class FoldEvent(event_id: Long, user_id: Long, ts_us: Long,
      event_type: String, value: Double)
  case class UserState(n_events: Long, balance: Double, last_seen_us: Long)
  case class UserFold(user_id: Long, n_events: Long, balance: Double,
      last_seen_us: Long)

  def toFoldEvents(events: DataFrame): Dataset[FoldEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      .as[FoldEvent]
  }

  case class LocfIn(event_id: Long, user_id: Long, ts_us: Long,
      reading: Option[Double])
  case class LocfOut(event_id: Long, user_id: Long, ts_us: Long,
      reading: Option[Double], reading_ffill: Option[Double])
  /** (ts, id) of the newest good reading + its value; `has` guards
    * the before-first-reading prefix. */
  case class LocfState(last_ts: Long, last_id: Long, last_value: Double,
      has: Boolean)

  /** Events → LOCF inputs: an 'error' row voids its reading (the
    * batch `win_fill_forward` op's planting rule, shared). */
  def toLocfEvents(events: DataFrame): Dataset[LocfIn] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"),
      when(col("event_type") === "error", lit(null).cast("double"))
        .otherwise(col("value")).as("reading"))
      .as[LocfIn]
  }

  /** Streaming LOCF — the stateful form of the batch
    * `win_fill_forward` window. UNLIKE the folds below this one is
    * ORDER-SENSITIVE, so the processor establishes the order itself:
    * each micro-batch's rows for a key are sorted by the total
    * (ts_us, event_id) key before applying, and the state carries the
    * newest good reading forward to the next batch. That makes the
    * one assumption explicit and checkable: batches must arrive in
    * time order per key (true for a binlog-position-ordered CDC feed;
    * cross-batch stragglers are the watermark ops' territory). State
    * per key is three numbers — bounded regardless of history length.
    * Runs unchanged under batch (one invocation per key = one global
    * sort per key) and streaming (state across micro-batches).
    */
  class LocfProcessor extends StatefulProcessor[Long, LocfIn, LocfOut] {
    @transient private var carried: ValueState[LocfState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      carried = getHandle.getValueState[LocfState]("carried",
        Encoders.product[LocfState], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[LocfIn],
        timerValues: TimerValues): Iterator[LocfOut] = {
      var s = if (carried.exists()) carried.get()
        else LocfState(Long.MinValue, Long.MinValue, 0.0, has = false)
      val out = rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
        // the stored (last_ts, last_id) IS the order guard: a
        // straggler older than the carried reading (late replay
        // across batches) must not roll the state backwards —
        // only a strictly newer good reading advances it
        e.reading.foreach { v =>
          if (e.ts_us > s.last_ts ||
              (e.ts_us == s.last_ts && e.event_id > s.last_id))
            s = LocfState(e.ts_us, e.event_id, v, has = true)
        }
        LocfOut(e.event_id, uid, e.ts_us, e.reading,
          e.reading.orElse(if (s.has) Some(s.last_value) else None))
      }
      carried.update(s)
      out.iterator
    }
  }

  def fillForward(ds: Dataset[LocfIn]): Dataset[LocfOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    requireRocksDb(spark, ds.isStreaming)
    ds.groupByKey(_.user_id)
      .transformWithState(new LocfProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Fold a user's event history into current state. The fold is
    * order-insensitive (count/sum/max) so batch iterator order and
    * micro-batch arrival order converge on the same state — the
    * property that makes at-least-once replay safe. Runs unchanged
    * under batch (single invocation per key) and streaming (state
    * carried in the StateStore across micro-batches).
    */
  def statefulFold(ds: Dataset[FoldEvent]): Dataset[UserFold] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserFold](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (userId: Long, events: Iterator[FoldEvent], state: GroupState[UserState]) =>
          var s = state.getOption.getOrElse(UserState(0L, 0.0, Long.MinValue))
          events.foreach { e =>
            s = UserState(s.n_events + 1, s.balance + e.value,
              math.max(s.last_seen_us, e.ts_us))
          }
          state.update(s)
          UserFold(userId, s.n_events, s.balance, s.last_seen_us)
      }
  }

  /** Spark 4 `transformWithState` rendering of the same fold — the
    * StatefulProcessor API gives explicit state lifetime (TTL),
    * timers, and multiple state variables; requires the RocksDB state
    * store provider. Asserted equivalent to [[statefulFold]] and to
    * the batch groupBy in EventStreamSpec.
    */
  class FoldProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, FoldEvent, UserFold] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserState] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      state = getHandle.getValueState[UserState]("userState",
        org.apache.spark.sql.Encoders.product[UserState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[FoldEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserFold] = {
      var s = if (state.exists()) state.get() else UserState(0L, 0.0, Long.MinValue)
      rows.foreach { e =>
        s = UserState(s.n_events + 1, s.balance + e.value,
          math.max(s.last_seen_us, e.ts_us))
      }
      state.update(s)
      Iterator.single(UserFold(key, s.n_events, s.balance, s.last_seen_us))
    }
  }

  /** transformWithState requires the RocksDB provider. Session-conf
    * side effect — scoped to streaming inputs only (batch doesn't read
    * it) and documented: queries resuming an HDFS-provider checkpoint
    * on the same session must reset this conf first. To keep that
    * footgun loud rather than silent, this refuses to OVERWRITE a
    * session that was explicitly pinned to a different provider —
    * flipping the provider under a live checkpoint corrupts/fails the
    * resume, so the caller must opt in by clearing the conf. */
  private[streaming] def requireRocksDb(spark: SparkSession,
      isStreaming: Boolean): Unit =
    if (isStreaming) {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val rocks =
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      // getAll = explicitly-set confs only; getOption would surface the
      // HDFS *default* and trip the guard on every fresh session
      val current = spark.conf.getAll.get(key)
      require(current.forall(_ == rocks),
        s"session state-store provider already pinned to ${current.get}; " +
          "transformWithState needs RocksDB — unset the conf (or use a " +
          "separate session) instead of letting graft silently switch " +
          "providers under existing checkpoints")
      spark.conf.set(key, rocks)
    }

  // ── streaming twin of op 54h: debounce with RESET-ON-KEEP ───────
  case class DebounceOut(event_id: Long, user_id: Long, ts_us: Long,
      kept: Boolean)
  /** Position of the last KEPT event — the one number of state the
    * true debounce needs (vs the batch op's lag-vs-previous-RAW
    * approximation, which a window CAN express). */
  case class DebounceState(last_kept_us: Long, last_kept_id: Long)

  /** Reset-on-keep debounce: an event is kept iff it arrives more
    * than `minGapUs` after the last KEPT event of the same user.
    * This is a running state machine — each decision depends on the
    * previous DECISION, not just the previous row, so no window frame
    * expresses it (the batch `stream_debounce` op documents itself as
    * the lag-approximation and points here). Same ordering discipline
    * as [[LocfProcessor]]: rows sort by the total (ts_us, event_id)
    * key within a batch, state carries across batches, a straggler
    * older than the kept position can never be kept (monotone guard).
    * State per key is two longs — bounded forever. Runs unchanged
    * under batch and streaming.
    */
  class DebounceProcessor(minGapUs: Long)
      extends StatefulProcessor[Long, FoldEvent, DebounceOut] {
    @transient private var kept: ValueState[DebounceState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      kept = getHandle.getValueState[DebounceState]("kept",
        Encoders.product[DebounceState], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[FoldEvent],
        timerValues: TimerValues): Iterator[DebounceOut] = {
      var s = if (kept.exists()) kept.get()
        else DebounceState(Long.MinValue, Long.MinValue)
      val out = rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
        val keep = s.last_kept_us == Long.MinValue ||
          e.ts_us - s.last_kept_us > minGapUs
        if (keep) s = DebounceState(e.ts_us, e.event_id)
        DebounceOut(e.event_id, uid, e.ts_us, keep)
      }
      kept.update(s)
      out.iterator
    }
  }

  case class PatternMatch(user_id: Long, view_id: Long,
      purchase_id: Long, span_us: Long)
  case class PatternState(p2_type: String, p2_id: Long, p2_us: Long,
      p1_type: String, p1_id: Long, p1_us: Long)

  /** Streaming twin of the batch `stream_pattern_seq` CEP op: the
    * per-key pattern state machine (two events of lookback — exactly
    * the lead(,1)/lead(,2) window the batch form reads) carried in
    * `transformWithState`, so a view → click → purchase run that
    * STRADDLES a micro-batch boundary still matches — the case no
    * per-batch window can see and the whole point of the stateful
    * form. In-batch rows are totally ordered (ts, id) before folding,
    * cross-batch ordering is the feed's delivery guarantee (the
    * LocfProcessor/DebounceProcessor discipline). State is two
    * (type, id, ts) triples per key, O(1) forever.
    */
  class PatternProcessor
      extends StatefulProcessor[Long, FoldEvent, PatternMatch] {
    @transient private var lookback: ValueState[PatternState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lookback = getHandle.getValueState[PatternState]("lookback",
        Encoders.product[PatternState], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[FoldEvent],
        timerValues: TimerValues): Iterator[PatternMatch] = {
      var s = if (lookback.exists()) lookback.get()
        else PatternState("", Long.MinValue, 0L, "", Long.MinValue, 0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[PatternMatch]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        if (s.p2_type == "view" && s.p1_type == "click" &&
            e.event_type == "purchase")
          out += PatternMatch(uid, s.p2_id, e.event_id, e.ts_us - s.p2_us)
        s = PatternState(s.p1_type, s.p1_id, s.p1_us,
          e.event_type, e.event_id, e.ts_us)
      }
      lookback.update(s)
      out.iterator
    }
  }

  def patternSeqStream(ds: Dataset[FoldEvent]): Dataset[PatternMatch] = {
    val spark = ds.sparkSession
    import spark.implicits._
    requireRocksDb(spark, ds.isStreaming)
    ds.groupByKey(_.user_id)
      .transformWithState(new PatternProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  case class AttributionOut(event_id: Long, user_id: Long,
      channel: String, value: Double)

  /** Streaming twin of the batch `stream_attribution` op: the
    * last-touch carry is ONE string of state per user (the most
    * recent click/view type), so a purchase attributes correctly even
    * when its touch arrived in an EARLIER micro-batch — the case the
    * batch window op only sees because it sorts the whole log, and
    * the reason attribution must be stateful live. Within a batch
    * rows fold in (ts_us, event_id) order; a purchase reads the
    * carry BEFORE any same-row update (a purchase is not a touch), so
    * the strictly-before frame semantics of the batch form hold
    * exactly. Cross-batch ordering is the feed's delivery guarantee
    * (the LocfProcessor/DebounceProcessor discipline). State: one
    * short string per user, O(1) forever.
    */
  class AttributionProcessor
      extends StatefulProcessor[Long, FoldEvent, AttributionOut] {
    @transient private var touch: ValueState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      touch = getHandle.getValueState[String]("touch",
        Encoders.STRING, TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[FoldEvent],
        timerValues: TimerValues): Iterator[AttributionOut] = {
      var s = if (touch.exists()) touch.get() else ""
      val out = scala.collection.mutable.ArrayBuffer.empty[AttributionOut]
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        if (e.event_type == "purchase")
          out += AttributionOut(e.event_id, uid,
            if (s.isEmpty) "none" else s, e.value)
        if (e.event_type == "click" || e.event_type == "view")
          s = e.event_type
      }
      touch.update(s)
      out.iterator
    }
  }

  def attributionStream(ds: Dataset[FoldEvent]): Dataset[AttributionOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    requireRocksDb(spark, ds.isStreaming)
    ds.groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  def debounceStream(ds: Dataset[FoldEvent],
      minGapUs: Long = 60000000L): Dataset[DebounceOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    requireRocksDb(spark, ds.isStreaming)
    ds.groupByKey(_.user_id)
      .transformWithState(new DebounceProcessor(minGapUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  def statefulFoldTws(ds: Dataset[FoldEvent]): Dataset[UserFold] = {
    val spark = ds.sparkSession
    import spark.implicits._
    requireRocksDb(spark, ds.isStreaming)
    ds.groupByKey(_.user_id)
      .transformWithState(new FoldProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  // ── op 62: materialize / replay (last-write-wins upsert) ────────
  /** Apply the ordered change stream onto current-table state:
    * last-write-wins per primary key, deletes (op=D) removed. The
    * batch rendering is the standard row_number window; the streaming
    * form is `statefulFold` (op 61) keeping the envelope instead of
    * aggregates.
    */
  def cdcApplyUpsert(events: DataFrame): DataFrame = {
    val env = envelope(events)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk")
      .orderBy(col("ts").desc, col("position").desc)
    env.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("pk").as("user_id"), col("position").as("last_position"),
        col("op"), unix_micros(col("ts")).as("ts_us"),
        col("after.event_type").as("last_event_type"),
        col("after.value").as("last_value"))
  }

  // ── op 62d: point-in-time reconstruction (time travel) ──────────
  /** The table AS OF a log position — [[cdcApplyUpsert]] replayed only
    * over the prefix `position ≤ asof`: the CDC consumer's time-travel
    * read (audit "what did the row look like before the incident",
    * debezium snapshot-at-offset, warehouse AS OF). The bound is
    * derived from the log itself as `⌊max(position)·num/den⌋` in exact
    * integer arithmetic so every scale factor and the DuckDB oracle
    * agree on it without a literal.
    *
    * Plan shape: one 1-row aggregate broadcast over the log (same
    * pattern as [[cdcApplyUpsertEvolving]]'s DDL position — no second
    * shuffle), prefix filter, then the single pk-window. At 100 TB the
    * prefix predicate lands on position-sorted log storage as a range
    * scan (binlog segments are position-ordered by construction), so
    * the replay reads only the prefix, not the full log.
    */
  def cdcSnapshotAsOf(events: DataFrame, num: Int = 3, den: Int = 5): DataFrame = {
    val env = envelope(events)
    val bound = env.agg(expr(s"(max(position) * $num) div $den").as("asof_pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk")
      .orderBy(col("ts").desc, col("position").desc)
    env.crossJoin(broadcast(bound))
      .filter(col("position") <= col("asof_pos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("pk").as("user_id"), col("position").as("last_position"),
        col("op"), unix_micros(col("ts")).as("ts_us"),
        col("after.event_type").as("last_event_type"),
        col("after.value").as("last_value"),
        col("asof_pos"))
  }

  // ── op 62b: apply-upsert WITH consumer-side schema evolution ────
  /** Materializer that APPLIES the envelope's DDL events (VERDICT r4
    * "What's missing" #3) instead of fixing the target schema: the
    * first DDL in the log adds a column, row images from that log
    * position on carry it (the producer stamp — the synthetic corpus
    * has no second payload column, so the post-DDL value is derived
    * deterministically as 2·value, standing in for the new binlog
    * field), and the materialized table evolves to the union schema
    * with pre-DDL winners surfacing NULL in the new column — exactly
    * how a warehouse consumer backfills an ADD COLUMN.
    *
    * Plan shape: the DDL position is a 1-row aggregate broadcast over
    * the winners — no extra shuffle of the log; the upsert itself is
    * the same single pk-window as [[cdcApplyUpsert]].
    */
  def cdcApplyUpsertEvolving(events: DataFrame): DataFrame = {
    val env = envelopeTxn(events)
    val ddl = env.filter(col("op") === "DDL").agg(min("position").as("ddl_pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk")
      .orderBy(col("ts").desc, col("position").desc)
    env.filter(col("op") =!= "DDL")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .crossJoin(broadcast(ddl))
      .select(col("pk").as("user_id"), col("position").as("last_position"),
        col("op"), unix_micros(col("ts")).as("ts_us"),
        col("after.event_type").as("last_event_type"),
        col("after.value").as("last_value"),
        when(col("position") >= col("ddl_pos"),
          round(col("after.value") * 2, 6)).as("last_value2"))
  }

  // ── op 62c: full DDL lifecycle (ADD → RENAME → DROP) ────────────
  /** One schema action committed by a DDL record. `NoOp` covers the
    * schema-neutral statements a real binlog is full of (index DDL,
    * comments, grants). */
  sealed trait DdlAction
  object DdlAction {
    /** ADD COLUMN `name`; row images at positions ≥ the DDL's carry it. */
    case class Add(name: String) extends DdlAction
    /** RENAME the column whose CURRENT logical name is `from` — a
      * metadata-only action (Iceberg-style field-id mapping: the
      * physical field is untouched, the logical name changes
      * retroactively). Resolves against the state at this point in
      * the stream, so rename chains compose. */
    case class Rename(from: String, to: String) extends DdlAction
    /** DROP the column whose CURRENT logical name is `name` — for ALL
      * rows, old and new, exactly like a warehouse DROP COLUMN. */
    case class Drop(name: String) extends DdlAction
    case object NoOp extends DdlAction
  }

  /** One logical column of the consumer's evolved schema: the physical
    * field it reads (or, for DDL-added columns, the position the ADD
    * took effect), its current logical name, and whether a later DROP
    * removed it. */
  private[graft] case class DdlField(physical: String, logical: String,
      addedAt: Option[Long], dropped: Boolean)

  /** Fold an ARBITRARY-length DDL stream (position order) over the
    * base schema — the registry mechanism itself has no bound (VERDICT
    * r9 #5); state is O(#live columns + #adds), actions stream through
    * one at a time. Renames and drops resolve against the CURRENT
    * logical names, so ADD→RENAME→DROP chains over both base and
    * added columns compose in any interleaving (pinned on a 6-DDL log
    * in EventStreamSpec).
    */
  private[graft] def foldDdl(base: Seq[(String, String)],
      ddls: Seq[(Long, DdlAction)]): Seq[DdlField] =
    ddls.foldLeft(base.map { case (p, l) => DdlField(p, l, None, dropped = false) }) {
      case (st, (pos, DdlAction.Add(name))) =>
        st :+ DdlField(name, name, Some(pos), dropped = false)
      case (st, (_, DdlAction.Rename(from, to))) =>
        st.map(f => if (!f.dropped && f.logical == from) f.copy(logical = to) else f)
      case (st, (_, DdlAction.Drop(name))) =>
        st.map(f => if (!f.dropped && f.logical == name) f.copy(dropped = true) else f)
      case (st, (_, DdlAction.NoOp)) => st
    }

  /** The synthetic corpus's DDL statements are generated, so the
    * registry assigns the lifecycle deterministically by ordinal
    * (1-based): 1st DDL = ADD COLUMN `value2`, 2nd = RENAME `value` →
    * `amount`, 3rd = DROP `event_type`, later DDLs = schema-neutral.
    * A real consumer parses the statement text instead — the fold
    * above is the part that carries over unchanged. */
  private[graft] def lifecycleActionFor(ordinal: Int): DdlAction = ordinal match {
    case 1 => DdlAction.Add("value2")
    case 2 => DdlAction.Rename("value", "amount")
    case 3 => DdlAction.Drop("event_type")
    case _ => DdlAction.NoOp
  }

  /** The consumer's schema REGISTRY: DDL positions in position order.
    * The FOLD takes any length (VERDICT r9 #5 lifted the old
    * hard-wired 3-action cases), but what reaches the driver is
    * bounded by what the consumer's action program can USE:
    * `firstK = Some(k)` collects only the first k positions
    * (`TakeOrdered` — every later ordinal's action is NoOp by the
    * caller's own assignment, so its position is dead weight);
    * `firstK = None` collects the whole stream — O(#DDLs) driver
    * metadata — for consumers whose programs act on every statement.
    * Collecting the full stream when the program is 3 actions long
    * would materialize ~1/5 of the event log (op DDL ⟺ event_type =
    * 'view' in this corpus) to apply nothing.
    *
    * ≡ envelopeTxn(events).filter(op = 'DDL').select(position) BY
    * CONSTRUCTION (op DDL ⟺ event_type = 'view', position =
    * event_id — see [[envelopeTxn]]); read directly so the registry
    * job is a two-column scan → filter instead of compiling the full
    * envelope union + lag window it would immediately prune (this was
    * the worst cold/min ratio of any non-ANN query, r8 #6).
    */
  private[graft] def ddlRegistry(events: DataFrame,
      firstK: Option[Int] = None): Seq[Long] = {
    val pos = events.filter(col("event_type") === "view")
      .select(col("event_id").as("position"))
    firstK.fold(pos)(k => pos.orderBy("position").limit(k))
      .collect().map(_.getLong(0)).sorted.toSeq
  }

  /** [[cdcApplyUpsertEvolving]] generalized to the full DDL lifecycle
    * — the materialized table reflects every schema action the log's
    * DDL stream has committed, warehouse-style: ADD backfills NULL on
    * pre-DDL winners, RENAME surfaces the old field under the new
    * name retroactively, DROP removes the column for all rows. The
    * action-per-DDL assignment is [[lifecycleActionFor]] (the corpus
    * convention); the fold itself takes any action stream.
    *
    * The registered query runs on corpora where all three lifecycle
    * DDLs exist, so the oracle pins the full-lifecycle schema; the
    * per-stage schemas (0/1/2 DDLs seen) and a 6-DDL interleaving
    * (ADD/RENAME/DROP over base AND added columns) are pinned on
    * crafted logs in EventStreamSpec.
    */
  def cdcApplyDdlLifecycle(events: DataFrame,
      actionFor: Int => DdlAction = lifecycleActionFor,
      // #schema-affecting ordinals of `actionFor` — positions past it
      // are never collected (all-NoOp tail); None = fold the whole log
      actionBound: Option[Int] = Some(3)): DataFrame = {
    val fields = foldDdl(
      Seq("event_type" -> "event_type", "value" -> "value"),
      ddlRegistry(events, actionBound).zipWithIndex
        .map { case (p, i) => (p, actionFor(i + 1)) })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk")
      .orderBy(col("ts").desc, col("position").desc)
    val winners = envelopeTxn(events).filter(col("op") =!= "DDL")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
    val cols = Seq(
      col("pk").as("user_id"), col("position").as("last_position"),
      col("op"), unix_micros(col("ts")).as("ts_us")) ++
      fields.filterNot(_.dropped).map { f =>
        f.addedAt match {
          // DDL-added column: the producer stamp from that log position
          // on (the synthetic corpus has no second payload column, so
          // the post-DDL value is derived deterministically as 2·value,
          // standing in for the new binlog field); earlier winners
          // backfill NULL
          case Some(p) =>
            when(col("position") >= p, round(col("after.value") * 2, 6))
              .as(s"last_${f.logical}")
          case None => col(s"after.${f.physical}").as(s"last_${f.logical}")
        }
      }
    winners.select(cols: _*)
  }

  /** Streaming rendering of [[cdcApplyUpsertEvolving]]: per-key state
    * keeps the current winner; `ddlPos` is consumer config (in a real
    * deployment the schema registry position, learned from the DDL
    * record itself). Update mode — one materialized row per touched
    * key per micro-batch; `n_seen` is monotone so the final state is
    * the max-`n_seen` emission per key. DDL/delete arbitration and
    * the null backfill must agree with the batch window exactly.
    */
  case class UpsertEvolved(user_id: Long, last_position: Long, op: String,
      ts_us: Long, last_event_type: String, last_value: Double,
      last_value2: Option[Double], n_seen: Long)
  case class UpsertState(position: Long, ts_us: Long, op: String,
      event_type: String, value: Double, n_seen: Long)

  /** Shared last-write-wins arbitration for the upsert-family
    * processors: fold a batch's row events into the carried winner,
    * skipping positions beyond a replay bound. `viewIsDdl` selects the
    * envelope dialect: [[envelopeTxn]] treats `view` events as DDL
    * (no row image — skipped here), the plain [[envelope]] treats
    * them as ordinary updates. */
  private[streaming] def arbitrate(cur0: Option[UpsertState],
      rows: Iterator[FoldEvent], maxPos: Long,
      viewIsDdl: Boolean): Option[UpsertState] = {
    var cur = cur0
    var seen = cur.map(_.n_seen).getOrElse(0L)
    rows.foreach { e =>
      val op = e.event_type match {
        case "signup" => "I"; case "error" => "D"
        case "view" if viewIsDdl => "DDL"
        case _ => "U"
      }
      if (op != "DDL" && e.event_id <= maxPos) {
        seen += 1
        val wins = cur.forall(c =>
          e.ts_us > c.ts_us || (e.ts_us == c.ts_us && e.event_id > c.position))
        if (wins)
          cur = Some(UpsertState(e.event_id, e.ts_us, op, e.event_type,
            e.value, seen))
        else cur = cur.map(_.copy(n_seen = seen))
      }
    }
    cur
  }

  class UpsertEvolvingProcessor(ddlPos: Long)
      extends StatefulProcessor[Long, FoldEvent, UpsertEvolved] {
    @transient private var winner: ValueState[UpsertState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      winner = getHandle.getValueState[UpsertState]("winner",
        Encoders.product[UpsertState], TTLConfig.NONE)

    override def handleInputRows(pk: Long, rows: Iterator[FoldEvent],
        timerValues: TimerValues): Iterator[UpsertEvolved] = {
      val cur = arbitrate(
        if (winner.exists()) Some(winner.get()) else None, rows,
        Long.MaxValue, viewIsDdl = true)
      cur.foreach(winner.update)
      // a batch delivering only DDL events for this key has no row
      // image yet — nothing to materialize
      cur.iterator.map { c =>
        UpsertEvolved(pk, c.position, c.op, c.ts_us, c.event_type, c.value,
          if (c.position >= ddlPos)
            // same rounding as Spark's round(): BigDecimal.valueOf
            // (decimal string expansion), HALF_UP at scale 6
            Some(BigDecimal.valueOf(c.value * 2)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          else None,
          c.n_seen)
      }
    }
  }

  def cdcApplyUpsertEvolvingStream(ds: Dataset[FoldEvent],
      ddlPos: Long): Dataset[UpsertEvolved] = {
    val spark = ds.sparkSession
    import spark.implicits._
    requireRocksDb(spark, ds.isStreaming)
    ds.groupByKey(_.user_id)
      .transformWithState(new UpsertEvolvingProcessor(ddlPos),
        TimeMode.None(), OutputMode.Update())
  }

  // ── op 62d streaming twin: replay-to-position (meepo's consumer
  //    read: "materialize the table as of binlog offset P") ─────────
  /** Position-bounded streaming replay — [[cdcSnapshotAsOf]]'s twin on
    * the live feed. The consumer passes the bound (`asofPos`, the
    * binlog offset a production replay names explicitly; the batch op
    * derives the same number from the log because an offline oracle
    * needs a closed form). Events beyond the bound are IGNORED, not
    * buffered: the processor is a plain last-write-wins fold over the
    * admitted prefix, so state stays one row image per key no matter
    * how far past the bound the feed runs. Update mode — the final
    * emission per key (max `n_seen`) minus op=D rows IS the snapshot,
    * proven ≡ the batch op in EventStreamSpec.
    *
    * 100 TB: the bound-filter runs before the shuffle (a pushed
    * predicate on the position column of a position-sorted feed), so
    * a replay-to-yesterday reads the prefix, and per-key state is
    * O(1); the StateStore shards by pk with the groupBy.
    */
  case class SnapshotRow(user_id: Long, last_position: Long, op: String,
      ts_us: Long, last_event_type: String, last_value: Double, n_seen: Long)

  class SnapshotAsOfProcessor(asofPos: Long)
      extends StatefulProcessor[Long, FoldEvent, SnapshotRow] {
    @transient private var winner: ValueState[UpsertState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      winner = getHandle.getValueState[UpsertState]("winner",
        Encoders.product[UpsertState], TTLConfig.NONE)

    override def handleInputRows(pk: Long, rows: Iterator[FoldEvent],
        timerValues: TimerValues): Iterator[SnapshotRow] = {
      val cur = arbitrate(
        if (winner.exists()) Some(winner.get()) else None, rows,
        asofPos, viewIsDdl = false)
      cur.foreach(winner.update)
      cur.iterator.map(c => SnapshotRow(pk, c.position, c.op, c.ts_us,
        c.event_type, c.value, c.n_seen))
    }
  }

  def cdcSnapshotAsOfStream(ds: Dataset[FoldEvent],
      asofPos: Long): Dataset[SnapshotRow] = {
    val spark = ds.sparkSession
    import spark.implicits._
    requireRocksDb(spark, ds.isStreaming)
    // drop beyond-bound events BEFORE the shuffle: on a position-
    // ordered feed this is the "read only the prefix" range scan
    ds.filter(_.event_id <= asofPos)
      .groupByKey(_.user_id)
      .transformWithState(new SnapshotAsOfProcessor(asofPos),
        TimeMode.None(), OutputMode.Update())
  }

  // ── op 62n streaming twin: live type-2 dimension maintenance ────
  /** [[graft.ops.EventOps]]' `cdc_build_scd2` on the live feed: the
    * warehouse's type-2 dimension maintained AS THE CHANGES ARRIVE
    * instead of rebuilt from the full log. Per-key state is exactly
    * ONE row — the open version (the UpsertEvolvingProcessor
    * discipline); each incoming change CLOSES it (emitting the
    * finished [valid_from, valid_to) interval exactly once, with the
    * closer's timestamp as the exclusive bound — the batch op's
    * lead()) and, unless it is a delete, opens the next version,
    * re-emitted with an open bound. A version whose open and close
    * land in different micro-batches closes from carried state —
    * the straddle EventStreamSpec plants.
    *
    * Update-mode assembly (the snapshot-asof twin's pattern): closed
    * intervals are append-only facts emitted once; open emissions for
    * a position are identical whenever re-sent, and a later closed
    * emission for the same (key, position) supersedes them — so the
    * SCD2 table is `prefer closed per (key, position)`, proven ≡ the
    * batch op row-for-row in EventStreamSpec.
    *
    * Same in-order-delivery precondition across micro-batches as the
    * other CDC twins (true of a position-ordered binlog feed);
    * within a batch the handler sorts its key's rows by (ts,
    * position), so intra-batch arrival order never matters — and
    * since r19 the CROSS-batch case is enforced, not just
    * documented: an event timestamped before the checkpointed open
    * version fails the batch with the key and both timestamps named
    * (ADVICE r18 — the silent alternative was an inverted interval
    * undetectable downstream). 100 TB:
    * state is O(1) per key, sharded by pk with the groupBy; emissions
    * are per-change, never per-state-scan.
    */
  case class Scd2Row(user_id: Long, position: Long, op: String,
      valid_from_us: Long, valid_to_us: Option[Long], value: Double)
  case class Scd2Open(position: Long, ts_us: Long, op: String,
      value: Double)

  class BuildScd2Processor
      extends StatefulProcessor[Long, FoldEvent, Scd2Row] {
    @transient private var open: ValueState[Scd2Open] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[Scd2Open]("open",
        Encoders.product[Scd2Open], TTLConfig.NONE)

    override def handleInputRows(pk: Long, rows: Iterator[FoldEvent],
        timerValues: TimerValues): Iterator[Scd2Row] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var cur = if (open.exists()) Some(open.get()) else None
      val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Row]
      sorted.foreach { e =>
        val op = e.event_type match {
          case "signup" => "I"; case "error" => "D"; case _ => "U"
        }
        // any change (deletes included) closes the open version
        cur.foreach { o =>
          // enforce the cross-batch in-order precondition (ADVICE
          // r18): the intra-batch sort cannot order an event against
          // the CHECKPOINTED open version, so a feed that delivers
          // ts < the open version's ts across a batch boundary would
          // silently emit an inverted [valid_from, valid_to)
          // interval (valid_to < valid_from) that nothing downstream
          // can detect. Fail fast with the key and both timestamps —
          // a mis-ordered feed is a broken capture pipeline, not a
          // case to paper over.
          if (e.ts_us < o.ts_us)
            throw new IllegalStateException(
              s"SCD2 in-order precondition violated for key $pk: " +
                s"event at ts_us=${e.ts_us} (position ${e.event_id}) " +
                s"arrived after open version at ts_us=${o.ts_us} " +
                s"(position ${o.position}) from an earlier micro-batch")
          out += Scd2Row(pk, o.position, o.op, o.ts_us, Some(e.ts_us),
            o.value)
        }
        cur = if (op == "D") None
          else Some(Scd2Open(e.event_id, e.ts_us, op, e.value))
      }
      cur match {
        case Some(o) =>
          open.update(o)
          out += Scd2Row(pk, o.position, o.op, o.ts_us, None, o.value)
        case None => open.clear()
      }
      out.iterator
    }
  }

  def buildScd2Stream(ds: Dataset[FoldEvent]): Dataset[Scd2Row] = {
    val spark = ds.sparkSession
    import spark.implicits._
    requireRocksDb(spark, ds.isStreaming)
    ds.groupByKey(_.user_id)
      .transformWithState(new BuildScd2Processor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Batch-side assembly of [[buildScd2Stream]]'s update-mode
    * emissions into the SCD2 table: closed supersedes open per
    * (key, position), is_current falls out of the open bound. */
  def assembleScd2(emissions: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "position")
      .orderBy(col("valid_to_us").desc_nulls_last)
    emissions.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .select(col("user_id"), col("position"), col("op"),
        col("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"), col("value"))
  }

  // ── op 62e: streaming delivery-gap audit (cdc_gap_audit's twin) ──
  /** Live form of the batch `cdc_gap_audit`'s two-level decomposition:
    * the consumer proves it missed nothing WHILE consuming, without a
    * global window.
    *
    *  - **Level 1 (streaming, here)**: positions key by their
    *    1024-wide block; per-block state is THREE numbers (last seen,
    *    block min, block max). An in-block jump emits the gap row
    *    immediately — the detection latency a replication monitor
    *    actually wants. A per-block `summary` row re-emits whenever
    *    the block's span grows (monotone, so later rows subsume
    *    earlier ones).
    *  - **Level 2 ([[assembleGapAudit]], batch)**: cross-block gaps
    *    fall out of one lag() over the final block summaries — a
    *    relation of positions/1024 rows, bounded metadata exactly as
    *    in the batch op.
    *
    * Same in-order-delivery precondition as [[fillForward]] (true of
    * a binlog feed); a duplicate or stale position is ignored by the
    * monotone `last` guard, so at-least-once delivery cannot emit a
    * phantom gap. EventStreamSpec proves level 1 + level 2 over a
    * two-batch replay ≡ the batch `cdc_gap_audit` row-for-row.
    */
  case class GapRow(b: Long, kind: String, gap_start: Long, gap_end: Long,
      mn: Long, mx: Long)
  case class BlockState(last: Long, mn: Long, mx: Long)

  class GapAuditProcessor
      extends StatefulProcessor[Long, Long, GapRow] {
    @transient private var block: ValueState[BlockState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      block = getHandle.getValueState[BlockState]("block",
        Encoders.product[BlockState], TTLConfig.NONE)

    override def handleInputRows(b: Long, rows: Iterator[Long],
        timerValues: TimerValues): Iterator[GapRow] = {
      var s = if (block.exists()) Some(block.get()) else None
      val out = Vector.newBuilder[GapRow]
      rows.toVector.sorted.foreach { p =>
        s match {
          case Some(st) if p <= st.last => () // dup/stale redelivery
          case Some(st) =>
            if (p - st.last > 1)
              out += GapRow(b, "gap", st.last + 1, p - 1, 0L, 0L)
            s = Some(BlockState(p, st.mn, p))
          case None => s = Some(BlockState(p, p, p))
        }
      }
      s.foreach { st =>
        block.update(st)
        out += GapRow(b, "summary", 0L, 0L, st.mn, st.mx)
      }
      out.result().iterator
    }
  }

  def gapAuditStream(positions: Dataset[Long],
      blockW: Long = 1024L): Dataset[GapRow] = {
    val spark = positions.sparkSession
    import spark.implicits._
    requireRocksDb(spark, positions.isStreaming)
    positions.groupByKey(_ / blockW)
      .transformWithState(new GapAuditProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  // ── op 54f streaming twin: live hourly volumes → trailing z ──────
  /** One live hourly-count row. `x` re-emits monotonically as the
    * hour's count grows across micro-batches; later rows subsume
    * earlier ones (the gap-audit summary discipline), so the
    * assembly's `max(x)` recovers the final count exactly. */
  case class HourlyRow(event_type: String, hour_id: Long, x: Long)

  /** Per-(type, hour) running count — ONE long of state per open
    * hour. The monitor reads the current micro-batch's re-emission
    * for live dashboards; the z assembly runs over the subsumed
    * final counts. At 100 TB the key space is |types|×|hours| —
    * the state store shards it by the groupBy, and a TTL (not
    * needed for the bounded replay here) would retire closed hours
    * in a production run. */
  class HourlyCountProcessor
      extends StatefulProcessor[(String, Long), (String, Long), HourlyRow] {
    @transient private var n: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: (String, Long),
        rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[HourlyRow] = {
      val cur = (if (n.exists()) n.get() else 0L) + rows.size
      n.update(cur)
      Iterator.single(HourlyRow(key._1, key._2, cur))
    }
  }

  /** Live hourly event volumes keyed (event_type, hour_id) —
    * level 1 of the streaming anomaly monitor. Update mode: each
    * micro-batch re-emits the grown counts for the hours it touched.
    */
  /** Streaming twin of the batch `stream_apdex` op: one event-time
    * windowed aggregation per day (the canonical streaming-agg shape
    * — conditional counts are map-side combinable, state is one row
    * per open day window), then the IDENTICAL integer-count → IEEE
    * finish the batch SQL runs, so twin ≡ batch is a row identity.
    * Day windows align to epoch days (window('1 day'), UTC session),
    * matching the batch epoch-day arithmetic. */
  def apdexDaily(events: DataFrame): DataFrame = {
    val v = round(col("value") * 100, 0).cast("long")
    events
      .filter(col("event_type") === "view")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("total"),
        sum(when(v <= 2500, 1L).otherwise(0L)).as("sat"),
        sum(when(v > 2500 && v <= 10000, 1L).otherwise(0L)).as("tol"))
      .select(
        expr("CAST(unix_micros(window.start) DIV 86400000000 AS BIGINT)")
          .as("eday"),
        col("total").as("n_samples"),
        col("sat").as("n_satisfied"),
        col("tol").as("n_tolerating"),
        (col("total") - col("sat") - col("tol")).as("n_frustrated"),
        expr("round((CAST(sat AS DOUBLE) + CAST(tol AS DOUBLE) / 2e0) / CAST(total AS DOUBLE), 6)")
          .as("apdex"))
  }

  def hourlyCountsStream(ds: Dataset[(String, Long)]): Dataset[HourlyRow] = {
    val spark = ds.sparkSession
    import spark.implicits._
    requireRocksDb(spark, ds.isStreaming)
    ds.groupByKey(identity)
      .transformWithState(new HourlyCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** The z finish SHARED by the batch `stream_anomaly_zscore` op and
    * the streaming assembly: trailing-24-observation integer moment
    * sums over the hourly relation + the one shared finish-expression
    * string both engines evaluate (see the op's Scaladoc in
    * [[graft.ops.EventOps]] — this sharing is what makes twin ≡
    * batch a row-for-row identity, not an approximation). */
  def anomalyZscoreFinish(hourly: DataFrame): DataFrame = {
    val zExpr =
      """CASE WHEN n_obs >= 12
               AND (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)*s/n_obs) > 0
              THEN (CAST(x AS DOUBLE) - CAST(s AS DOUBLE)/n_obs)
                   / sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)*s/n_obs)
                          /(n_obs-1))
         END"""
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour_id")
      .rowsBetween(-24, -1)
    hourly
      .withColumn("s", sum(col("x")).over(w))
      .withColumn("sq", sum(col("x") * col("x")).over(w))
      .withColumn("n_obs", count(lit(1)).over(w))
      .withColumn("z", expr(zExpr))
      .select(col("event_type"), col("hour_id"), col("x"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("z"), (abs(col("z")) > lit(3.0)).as("is_anomaly"))
      .orderBy("event_type", "hour_id")
  }

  /** Level 2 of the anomaly monitor, over the collected
    * [[hourlyCountsStream]] output: final count per (type, hour) =
    * max over the monotone re-emissions, then the identical z finish
    * the batch op runs — EventStreamSpec proves twin ≡ batch
    * row-for-row across a two-batch replay. */
  def assembleAnomalyZscore(rows: DataFrame): DataFrame =
    anomalyZscoreFinish(rows.groupBy("event_type", "hour_id")
      .agg(max(col("x")).as("x")))

  /** Level 2 of the audit, over the collected [[gapAuditStream]]
    * output: final block spans (min/max over the monotone summary
    * re-emissions) + one lag() across blocks for the cross-block
    * gaps, unioned with the streamed in-block gaps — the identical
    * two-level assembly the batch `cdc_gap_audit` runs. */
  def assembleGapAudit(rows: DataFrame): DataFrame = {
    val wB = org.apache.spark.sql.expressions.Window.orderBy("b")
    val inBlock = rows.filter(col("kind") === "gap")
      .select(col("gap_start"), col("gap_end"))
      // at-least-once replay across restarts may re-emit a gap row
      .distinct()
    val crossBlock = rows.filter(col("kind") === "summary")
      .groupBy("b").agg(min("mn").as("mn"), max("mx").as("mx"))
      .withColumn("prev_mx", lag("mx", 1).over(wB))
      .filter(col("prev_mx").isNotNull && col("mn") - col("prev_mx") > 1)
      .select((col("prev_mx") + 1).as("gap_start"),
        (col("mn") - 1).as("gap_end"))
    inBlock.unionByName(crossBlock)
      .select(col("gap_start"), col("gap_end"),
        (col("gap_end") - col("gap_start") + 1).as("n_missing"))
      .orderBy("gap_start")
  }

  // ── op 63: stream × static enrichment ───────────────────────────
  def enrichWithCustomer(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(broadcast(customer),
        events("user_id") === customer("c_custkey"), "inner")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_name"), col("c_mktsegment"))

  // ── op 64: stream-stream interval join ──────────────────────────
  /** Correlate clicks with purchases by the same user within 1h.
    * Under streaming both sides carry watermarks so join state is
    * bounded; in batch the same body is a plain interval join.
    */
  def clickToPurchase(events: DataFrame): DataFrame = {
    val clicks = joinSide(events, "click", "c")
    val buys = joinSide(events, "purchase", "b")
    clicks.join(buys,
        col("c_user") === col("b_user") &&
        col("b_ts") >= col("c_ts") &&
        col("b_ts") < col("c_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** One side of the stream-stream interval joins: events of `tpe`,
    * prefixed, watermarked when streaming (shared by the inner and
    * LEFT OUTER forms). */
  private def joinSide(events: DataFrame, tpe: String,
      pfx: String): DataFrame = {
    val base = events.filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${pfx}_user"), col("ts").as(s"${pfx}_ts"),
        col("event_id").as(s"${pfx}_id"))
    if (base.isStreaming) base.withWatermark(s"${pfx}_ts", "1 hour") else base
  }

  /** Op 63b streaming form — per-micro-batch DIMENSION REFRESH: the
    * stream enriches against a slowly-changing dimension that is
    * RE-READ (and re-broadcast) at every micro-batch, so each batch
    * joins the dimension AS OF its own processing time. This is the
    * production gap `stream_join_static` leaves open: a static
    * DataFrame join resolves the dimension ONCE at query start, and a
    * routing/labeling table updated mid-run is silently ignored until
    * restart — exactly wrong for a broadcast layer whose consumers'
    * subscription rules change while the feed runs. foreachBatch is
    * the supported idiom (the batch body is plain batch Spark, so the
    * fresh read costs one dimension scan per micro-batch — a dim
    * small enough to broadcast is small enough to re-read; cache it
    * externally if not). Left join: an event whose type has no dim
    * row yet survives with NULL enrichment (late-binding, the
    * join_null_safe argument), rather than vanishing on a window
    * where the dim lags the feed. EventStreamSpec pins the AS-OF
    * semantics: rows processed before a dim update carry the old
    * labels, rows after carry the new — per batchId.
    */
  def enrichRefreshedDim(events: DataFrame, dimPath: String,
      checkpointDir: String, sink: Sink): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val dim = batch.sparkSession.read
          .schema("event_type STRING, label STRING")
          .parquet(dimPath)
        sink.write(
          batch.toDF().join(broadcast(dim), Seq("event_type"), "left"),
          batchId)
        ()
      }
      .start()

  /** Op 64b shared body — stream-stream LEFT OUTER interval join at
    * the PAIR grain: every click with each purchase by the same user
    * inside the following hour, or one null-augmented row if none.
    * The outer side is what makes this a distinct streaming surface:
    * in append mode a null-augmented row can only emit once the
    * WATERMARK proves no matching purchase can still arrive (state
    * eviction at c_ts + 1h + delay), so "no conversion" is an
    * event-time fact, not a processing-time race — the semantics the
    * inner join form cannot express. Batch and stream run this same
    * body (EventStreamSpec pins append-mode ≡ batch under a
    * watermark-flush sentinel); the batch op aggregates on top
    * ([[clickToPurchaseOuter]]). At 100 TB both sides hash-partition
    * on user_id and per-key state is bounded by the 1 h interval +
    * watermark delay — the range condition is what lets Spark evict.
    */
  def clickPurchasePairs(events: DataFrame): DataFrame = {
    val clicks = joinSide(events, "click", "c")
    val buys = joinSide(events, "purchase", "b")
    clicks.join(buys,
        col("c_user") === col("b_user") &&
        col("b_ts") >= col("c_ts") &&
        col("b_ts") < col("c_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
        col("b_id").as("purchase_id"))
  }

  /** Op 64b batch aggregate: per-click conversion outcome over
    * [[clickPurchasePairs]] — count(purchase_id) skips the
    * null-augmented rows, so an unconverted click reports 0/false
    * instead of disappearing (the reason the outer form exists). */
  def clickToPurchaseOuter(events: DataFrame): DataFrame =
    clickPurchasePairs(events)
      .groupBy("user_id", "click_id")
      .agg(count(col("purchase_id")).as("n_purchases"))
      .withColumn("converted", col("n_purchases") > 0)

  // ── op 65: broadcast fan-out (one stream → N sinks) ─────────────
  /** meepo's core "broadcasting": each micro-batch is persisted once
    * and every [[Sink]] writes from the cached copy — one source scan
    * regardless of sink count. Delivery to each sink is at-least-once
    * (a crash mid-fan-out redelivers the batch on restart), and the
    * [[Sink]] contract makes that effectively-once: every impl is
    * idempotent per batchId (SinkContractSpec).
    */
  def fanOutTo(events: DataFrame, sinks: Seq[Sink],
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.persist()
        try sinks.foreach(_.write(batch.toDF(), batchId))
        finally batch.unpersist()
        ()
      }
      .start()

  /** Directory convenience: one [[ParquetDirSink]] per path. */
  def fanOut(events: DataFrame, sinkDirs: Seq[String],
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    fanOutTo(events, sinkDirs.map(new ParquetDirSink(_)), checkpointDir)

  // ── op 65b: routed fan-out (per-consumer subscription rules) ────
  /** A consumer subscription: one sink receives one SLICE of the feed
    * — meepo's per-consumer routing (consumers subscribe to specific
    * tables/databases/columns, not the whole firehose). `where` is
    * any Catalyst predicate; empty `columns` means the full row.
    */
  case class Route(sink: Sink, where: org.apache.spark.sql.Column,
      columns: Seq[String] = Nil)

  /** Fan out one change feed to N subscribed consumers: the
    * micro-batch is persisted ONCE, then every route applies its
    * filter + projection against the cached copy — one source scan
    * regardless of consumer count, and each sink ships only its
    * slice's bytes. Delivery inherits the [[Sink]] contract
    * (at-least-once per (sink, batchId); every bundled sink
    * idempotent), and a route whose predicate matches nothing still
    * writes the empty batch, so batchId bookkeeping stays dense.
    *
    * 100 TB note: the slice transforms run distributed on the cached
    * batch (Catalyst prunes columns per route); the driver only
    * sequences the writes, exactly like [[fanOutTo]].
    */
  def fanOutRouted(events: DataFrame, routes: Seq[Route],
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.persist()
        try routes.foreach { r =>
          val sliced = batch.toDF().filter(r.where)
          val projected =
            if (r.columns.isEmpty) sliced else sliced.select(r.columns.map(col): _*)
          r.sink.write(projected, batchId)
        } finally batch.unpersist()
        ()
      }
      .start()
}
