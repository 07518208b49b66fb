package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch↔stream equivalence and streaming-only semantics
  * (SURVEY.md §5.2.3): the same transform body must produce identical
  * results under `read` and `readStream`, late data must be dropped
  * past the watermark, duplicated delivery must dedup, a restart from
  * checkpoint must neither lose nor duplicate, and fan-out sinks must
  * all see the same batch.
  */
class EventStreamSpec extends SparkSpec {

  private def runToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  private def batchEvents: DataFrame = Tables.events(spark, sf001)
  private def streamEvents: DataFrame = EventStreams.readEventStream(spark, sf001)

  /** The raw long-ns rendering of the events table — the shape the
    * multi-batch stream fixtures below write to their input dirs
    * (`rawSchema` + `ts DIV 1000`). The driver parquet has shipped
    * `ts` as both timestamp[ns] and timestamp[us] across rounds;
    * re-encoding the NORMALIZED table to long nanos keeps these
    * fixtures stable under either source encoding. */
  private def rawNsEvents: DataFrame = Tables.events(spark, sf001)
    .withColumn("ts", unix_micros(col("ts")) * lit(1000L))

  test("tumbling window: stream (complete mode) equals batch") {
    val batch = EventStreams.tumbling(batchEvents)
      .orderBy("hour_start_us", "event_type").collect().toSeq
    val stream = runToMemory(EventStreams.tumbling(streamEvents), "t_tumbling", "complete")
      .orderBy("hour_start_us", "event_type").collect().toSeq
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("sessionized: stream (complete mode) equals batch") {
    val batch = EventStreams.sessionized(batchEvents)
      .orderBy("user_id", "session_start_us").collect().toSeq
    val stream = runToMemory(EventStreams.sessionized(streamEvents), "t_session", "complete")
      .orderBy("user_id", "session_start_us").collect().toSeq
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("stateful fold: streaming state machine converges to batch state") {
    val batch = EventStreams.statefulFold(EventStreams.toFoldEvents(batchEvents))
      .toDF().withColumn("balance", round(col("balance"), 6))
      .orderBy("user_id").collect().toSeq
    val streamed = runToMemory(
      EventStreams.statefulFold(EventStreams.toFoldEvents(streamEvents)).toDF(),
      "t_fold", "update")
    // update mode emits one row per key per micro-batch; final state =
    // last emission per key
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val finalState = streamed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .withColumn("balance", round(col("balance"), 6))
      .orderBy("user_id").collect().toSeq
    assert(finalState == batch)
    assert(batch.nonEmpty)
  }

  test("streaming LOCF (order-sensitive state) equals the batch window") {
    // the one ORDER-SENSITIVE stateful op: per-key sort inside the
    // processor + carried (ts, id, value) state must reproduce the
    // batch win_fill_forward window exactly, row for row
    val batch = SparkEntry.queries("win_fill_forward")(spark, sf001)
      .select("event_id", "reading", "reading_ffill")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSeq.sortBy(_._1)
    val streamed = runToMemory(
      EventStreams.fillForward(EventStreams.toLocfEvents(streamEvents)).toDF(),
      "t_locf", "append")
      .select("event_id", "reading", "reading_ffill")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSeq.sortBy(_._1)
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // the fill is real: at least one voided reading was carried
    assert(batch.exists(r => r._2.isEmpty && r._3.nonEmpty))
  }

  test("streaming LOCF: a late replayed batch cannot roll carried state backwards") {
    // the order guard the processor documents: state holds the NEWEST
    // good reading by (ts, id); a straggler batch carrying older rows
    // must neither advance fills with its stale value nor regress the
    // state that future batches read. MemoryStream gives exact batch
    // boundaries: batch 1 plants (ts=100, 5.0); batch 2 replays older
    // rows (ts=50 null, ts=60 3.0); batch 3 asks (ts=200, null) —
    // the fill must be 5.0, not the stale 3.0.
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.{LocfIn, fillForward}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[LocfIn]
    val q = fillForward(in.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("t_locf_ooo").start()
    try {
      in.addData(LocfIn(1L, 7L, 100L, Some(5.0)))
      q.processAllAvailable()
      in.addData(LocfIn(2L, 7L, 50L, None), LocfIn(3L, 7L, 60L, Some(3.0)))
      q.processAllAvailable()
      in.addData(LocfIn(4L, 7L, 200L, None))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_locf_ooo")
      .collect().map(r => r.getLong(0) ->
        Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    assert(got(1L) == Some(5.0))
    // the late null reads the carried (newer) state — state is
    // monotone by design; stale 3.0 never becomes the carried value
    assert(got(2L) == Some(5.0))
    assert(got(3L) == Some(3.0)) // its own reading passes through
    assert(got(4L) == Some(5.0), s"stale value leaked forward: $got")
  }

  test("streaming debounce (reset-on-keep) matches a reference fold over the corpus") {
    // the TRUE debounce is a running state machine (each decision
    // depends on the previous DECISION) — reference = a per-user Scala
    // fold over the totally-ordered event list; 48 h gap so the sparse
    // sf0.001 corpus actually drops events
    val gap = 48L * 3600 * 1000000
    val evs = EventStreams.toFoldEvents(batchEvents).collect().toSeq
    val expected = evs.groupBy(_.user_id).flatMap { case (_, xs) =>
      var last = Long.MinValue
      xs.sortBy(e => (e.ts_us, e.event_id)).map { e =>
        val keep = last == Long.MinValue || e.ts_us - last > gap
        if (keep) last = e.ts_us
        e.event_id -> keep
      }
    }
    val streamed = runToMemory(
      EventStreams.debounceStream(
        EventStreams.toFoldEvents(streamEvents), gap).toDF(),
      "t_debounce", "append")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(streamed == expected)
    assert(expected.values.exists(identity) && expected.exists(!_._2),
      "corpus produced no drops — gap too small to exercise debounce")
  }

  test("streaming debounce: reset-on-keep keeps what the lag filter cannot") {
    // planted sequence t = 0, 50, 80, 130 s with a 60 s gap: the batch
    // lag-vs-previous-RAW op drops 80 (only 30 s after raw 50); the
    // stateful form KEEPS 80 (>60 s after last KEPT 0) — the semantic
    // the batch op documents itself as approximating. Batch boundary
    // between 50 and 80 proves the kept-position state crosses
    // micro-batches.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.FoldEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[FoldEvent]
    val q = EventStreams.debounceStream(in.toDS(), 60000000L).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("t_debounce_plant").start()
    def ev(id: Long, tSec: Long) =
      FoldEvent(id, 7L, tSec * 1000000L, "click", 1.0)
    try {
      in.addData(ev(1, 0), ev(2, 50))
      q.processAllAvailable()
      in.addData(ev(3, 80), ev(4, 130))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("t_debounce_plant")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(kept == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
  }

  test("streaming Apdex twin ≡ the batch per-day op over the corpus") {
    // identical integer counts + the identical finish expression on
    // both paths ⇒ a row-for-row identity, not an approximation
    val expected = SparkEntry.queries("stream_apdex")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(expected.nonEmpty)
    val streamed = runToMemory(
      EventStreams.apdexDaily(streamEvents), "t_apdex", "complete")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(streamed == expected)
  }

  test("streaming Apdex: a day straddling a micro-batch boundary merges into one row") {
    // two batches contribute to the SAME day window — the merged
    // state must produce one row with the combined counts, i.e. the
    // window aggregation really is stateful across batches
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.FoldEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[FoldEvent]
    val events = in.toDS().toDF()
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
    val q = EventStreams.apdexDaily(events)
      .writeStream.outputMode("complete").format("memory")
      .queryName("t_apdex_plant").start()
    def ev(id: Long, tSec: Long, v: Double) =
      FoldEvent(id, 7L, tSec * 1000000L, "view", v)
    try {
      in.addData(ev(1, 1000, 10.0), ev(2, 2000, 50.0))
      q.processAllAvailable()
      in.addData(ev(3, 3000, 200.0), ev(4, 90000, 20.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_apdex_plant").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got == Set(
      (0L, 3L, 1L, 1L, 1L, 0.5),   // sat=10.00, tol=50.00, fru=200.00
      (1L, 1L, 1L, 0L, 0L, 1.0)),
      s"day-window state did not merge across batches: $got")
  }

  test("streaming CEP pattern twin ≡ the batch lead-chain op over the corpus") {
    val expected = SparkEntry.queries("stream_pattern_seq")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
        r.getAs[Long]("purchase_id"), r.getAs[Long]("span_us"))).toSet
    assert(expected.nonEmpty, "corpus has no view→click→purchase runs")
    val streamed = runToMemory(
      EventStreams.patternSeqStream(
        EventStreams.toFoldEvents(streamEvents)).toDF(),
      "t_cep", "append")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == expected)
  }

  test("streaming CEP pattern: a match straddling a micro-batch boundary fires") {
    // view and click arrive in batch 1, the purchase in batch 2 — the
    // two-event lookback must cross the boundary through state; a
    // second purchase right after must NOT re-match (the lookback
    // shifted past the view)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.FoldEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[FoldEvent]
    val q = EventStreams.patternSeqStream(in.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("t_cep_plant").start()
    def ev(id: Long, tSec: Long, tpe: String) =
      FoldEvent(id, 9L, tSec * 1000000L, tpe, 1.0)
    try {
      in.addData(ev(1, 0, "view"), ev(2, 10, "click"))
      q.processAllAvailable()
      in.addData(ev(3, 25, "purchase"), ev(4, 30, "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_cep_plant").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 3L, 25000000L)),
      s"expected exactly the straddling match: ${got.mkString(",")}")
  }

  test("streaming attribution twin ≡ the batch window op over the corpus") {
    val expected = SparkEntry.queries("stream_attribution")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getAs[String]("channel") ->
        ((r.getAs[Long]("n_conversions"), r.getAs[Double]("revenue")))).toMap
    assert(expected.nonEmpty)
    val streamed = runToMemory(
      EventStreams.attributionStream(
        EventStreams.toFoldEvents(streamEvents)).toDF(),
      "t_attr", "append")
      .collect()
      .map(r => (r.getAs[String]("channel"), r.getAs[Double]("value")))
      .groupBy(_._1)
      .map { case (ch, vs) =>
        // replay the dsum discipline (exact decimal accumulation) so
        // the comparison is order-independent like the batch op
        val rev = vs.map(v => BigDecimal(v._2)).sum
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        ch -> ((vs.size.toLong, rev))
      }
    assert(streamed == expected, s"streamed=$streamed expected=$expected")
  }

  test("streaming attribution: a touch in an earlier micro-batch still gets credit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.FoldEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[FoldEvent]
    val q = EventStreams.attributionStream(in.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("t_attr_plant").start()
    def ev(id: Long, tSec: Long, tpe: String, v: Double = 1.0) =
      FoldEvent(id, 9L, tSec * 1000000L, tpe, v)
    try {
      // batch 1: the touch; batch 2: purchase (cross-batch carry),
      // then an untouched purchase from another user → 'none'
      in.addData(ev(1, 0, "click"))
      q.processAllAvailable()
      in.addData(ev(2, 10, "purchase", 5.0),
        FoldEvent(3, 8L, 12 * 1000000L, "purchase", 2.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_attr_plant").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).sortBy(_._1)
    assert(got.toSeq == Seq((2L, "click", 5.0), (3L, "none", 2.0)),
      s"got ${got.mkString(",")}")
  }

  test("filter/route co-locates every key in exactly one partition (ordered delivery)") {
    val routed = EventStreams.filterRoute(batchEvents, nSinks = 4, nPartitions = 32)
    val byKey = routed
      .withColumn("pid", spark_partition_id())
      .groupBy("user_id").agg(countDistinct(col("pid")).as("n_parts"))
    // meepo's per-primary-key ordering guarantee rests on this: one
    // partition per key means one consumer sees a key's events in order
    assert(byKey.filter(col("n_parts") > 1).count() == 0)
    assert(routed.select("route").distinct().count() <= 4)
    // ...but the guarantee must NOT come from collapsing to one task
    // per route (VERDICT r1 #1): with nPartitions >> nSinks the keys
    // of the 4 routes spread over many partitions
    val nPids = routed.select(spark_partition_id().as("pid"))
      .distinct().count()
    assert(nPids > 4, s"route stage used only $nPids partitions")
  }

  test("transformWithState fold (RocksDB store) converges to batch state") {
    val batch = EventStreams.statefulFold(EventStreams.toFoldEvents(batchEvents))
      .toDF().withColumn("balance", round(col("balance"), 6))
      .orderBy("user_id").collect().toSeq
    val streamed = runToMemory(
      EventStreams.statefulFoldTws(EventStreams.toFoldEvents(streamEvents)).toDF(),
      "t_fold_tws", "update")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val finalState = streamed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .withColumn("balance", round(col("balance"), 6))
      .orderBy("user_id").collect().toSeq
    assert(finalState == batch)
  }

  test("cdc envelope: streaming before-images (StateStore) equal batch lag window") {
    // batch rendering: lag window per pk; streaming rendering: per-key
    // state via flatMapGroupsWithState. Same flattened record set.
    val batch = EventStreams.envelopeTxn(batchEvents)
      .select(col("position"), col("pk"), unix_micros(col("ts")).as("ts_us"),
        col("op"), col("txn_id"), col("txn_seq"),
        col("before.value").as("before_value"),
        col("after.value").as("after_value"), col("ddl_stmt"))
      .orderBy("position").collect().toSeq
    val streamed = runToMemory(
      EventStreams.cdcEnvelopeStream(EventStreams.toFoldEvents(streamEvents)).toDF(),
      "t_cdc_env", "append")
      .orderBy("position").collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // multi-batch: split the log BY TIME so arrival order equals log
    // order — the before-image chain must thread THROUGH the batch
    // boundary via the StateStore, not restart
    import spark.implicits._
    val dir = tmpDir("graft_cdc_multi")
    val ev = rawNsEvents
    val evs = EventStreams.toFoldEvents(batchEvents).collect()
    val mid = (evs.map(_.ts_us).min + evs.map(_.ts_us).max) / 2
    ev.filter(expr("ts DIV 1000") < mid).write.mode("overwrite").parquet(s"$dir/in")
    val raw = spark.readStream.schema(EventStreams.rawSchema).parquet(s"$dir/in")
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    val q = EventStreams.cdcEnvelopeStream(EventStreams.toFoldEvents(raw)).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("t_cdc_env2").start()
    q.processAllAvailable()
    ev.filter(expr("ts DIV 1000") >= mid).write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()
    val multi = spark.table("t_cdc_env2")
      .orderBy("position").collect().toSeq
    assert(multi == batch,
      "before-images did not thread through the micro-batch boundary")
    // the envelope carries all four op kinds, and images follow the
    // Debezium contract: I has no before, D has no after, DDL has
    // neither but carries a statement
    val byOp = batch.groupBy(_.getString(3))
    assert(byOp.keySet == Set("I", "U", "D", "DDL"))
    assert(byOp("I").forall(_.isNullAt(6)))
    assert(byOp("D").forall(_.isNullAt(7)))
    assert(byOp("DDL").forall(r => r.isNullAt(6) && r.isNullAt(7) && !r.isNullAt(8)))
    assert(byOp("U").exists(r => !r.isNullAt(6)))
  }

  test("cdc apply-upsert evolves schema on DDL: stream equals batch, pre-DDL backfills NULL") {
    import spark.implicits._
    // controlled log exercising BOTH branches: key 1 settles before
    // the DDL (new column backfills NULL), key 2 after it (carries
    // the value), key 3's final image is a delete (absent)
    val mini = Seq(
      (1L, 1L, 1000000L, "click", 1.5),
      (2L, 2L, 1000000L, "signup", 2.0),
      (3L, 3L, 1500000L, "signup", 0.5),
      (4L, 9L, 2000000L, "view", 0.0), // ← the ADD COLUMN DDL
      (5L, 2L, 3000000L, "purchase", 7.25),
      (6L, 3L, 4000000L, "error", 0.0))
      .toDF("event_id", "user_id", "ts_us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val evolved = EventStreams.cdcApplyUpsertEvolving(mini)
      .orderBy("user_id").collect().toSeq
    assert(evolved.map(_.getLong(0)) == Seq(1L, 2L))
    assert(evolved(0).isNullAt(6), "pre-DDL winner must backfill NULL")
    assert(evolved(1).getDouble(6) == 14.5, "post-DDL winner must carry the new column")

    // full-corpus batch ↔ stream equivalence; ddlPos plays the schema-
    // registry role for the streaming consumer
    val batch = EventStreams.cdcApplyUpsertEvolving(batchEvents)
      .orderBy("user_id").collect().toSeq
    val ddlPos = batchEvents.filter(col("event_type") === "view")
      .agg(min("event_id")).collect()(0).getLong(0)
    val streamed = runToMemory(
      EventStreams.cdcApplyUpsertEvolvingStream(
        EventStreams.toFoldEvents(streamEvents), ddlPos).toDF(),
      "t_evolve", "update")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_seen").desc)
    val finalState = streamed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .drop("rn", "n_seen")
      .orderBy("user_id").collect().toSeq
    assert(finalState == batch)
    assert(batch.nonEmpty)
  }

  test("ddl lifecycle: ADD then RENAME then DROP evolve the materialized schema in log order") {
    import spark.implicits._
    def log(nDdl: Int): DataFrame = {
      val rowEvents = Seq(
        (1L, 1L, 1000000L, "click", 1.5),
        (6L, 2L, 6000000L, "purchase", 7.25))
      // DDL positions interleave between the two row events
      val ddls = (0 until nDdl).map(i => (2L + i, 9L, (2000000L + i), "view", 0.0))
      (rowEvents ++ ddls).toDF("event_id", "user_id", "ts_us", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    }
    def schemaOf(nDdl: Int): Seq[String] =
      EventStreams.cdcApplyDdlLifecycle(log(nDdl)).columns.toSeq
    // 0 DDLs: the plain upsert schema, original names
    assert(schemaOf(0) == Seq("user_id", "last_position", "op", "ts_us",
      "last_event_type", "last_value"))
    // 1 DDL: ADD — new column appears, old names intact
    assert(schemaOf(1) == Seq("user_id", "last_position", "op", "ts_us",
      "last_event_type", "last_value", "last_value2"))
    // 2 DDLs: RENAME — value surfaces as amount, retroactively
    assert(schemaOf(2) == Seq("user_id", "last_position", "op", "ts_us",
      "last_event_type", "last_amount", "last_value2"))
    // 3 DDLs: DROP — event_type leaves the schema for ALL rows
    assert(schemaOf(3) == Seq("user_id", "last_position", "op", "ts_us",
      "last_amount", "last_value2"))
    // value semantics across the lifecycle: key 1 settled before the
    // ADD position (NULL backfill), key 2 after it (carries 2·value);
    // the RENAME is metadata-only so the numbers are unchanged
    val rows = EventStreams.cdcApplyDdlLifecycle(log(3))
      .orderBy("user_id").collect().toSeq
    assert(rows.map(_.getLong(0)) == Seq(1L, 2L))
    assert(rows(0).getDouble(4) == 1.5 && rows(0).isNullAt(5))
    assert(rows(1).getDouble(4) == 7.25 && rows(1).getDouble(5) == 14.5)
  }

  test("ddl registry folds an arbitrary-length DDL stream (6 DDLs, ADD/RENAME/DROP interleaved)") {
    import spark.implicits._
    import EventStreams.DdlAction
    // a year-long log's worth of schema churn in six statements,
    // touching base AND added columns, with a rename CHAIN
    // (value→amount→total) and a drop of an added column — the
    // registry is the log's DDL count, not a constant (VERDICT r9 #5)
    val actions: Int => DdlAction = {
      case 1 => DdlAction.Add("v2")
      case 2 => DdlAction.Rename("value", "amount")
      case 3 => DdlAction.Add("v3")
      case 4 => DdlAction.Drop("event_type")
      case 5 => DdlAction.Rename("amount", "total")
      case 6 => DdlAction.Drop("v2")
      case _ => DdlAction.NoOp
    }
    def log(nDdl: Int): DataFrame = {
      val rowEvents = Seq(
        (1L, 1L, 1000000L, "click", 1.5),
        (20L, 2L, 6000000L, "purchase", 7.25))
      val ddls = (0 until nDdl).map(i => (2L + i, 9L, (2000000L + i), "view", 0.0))
      (rowEvents ++ ddls).toDF("event_id", "user_id", "ts_us", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    }
    def schemaOf(nDdl: Int): Seq[String] =
      EventStreams.cdcApplyDdlLifecycle(log(nDdl), actions, Some(6)).columns.toSeq
    val prefix = Seq("user_id", "last_position", "op", "ts_us")
    // per-stage schemas: each DDL lands exactly one action, in order
    assert(schemaOf(0) == prefix ++ Seq("last_event_type", "last_value"))
    assert(schemaOf(1) == prefix ++ Seq("last_event_type", "last_value", "last_v2"))
    assert(schemaOf(2) == prefix ++ Seq("last_event_type", "last_amount", "last_v2"))
    assert(schemaOf(3) == prefix ++ Seq("last_event_type", "last_amount", "last_v2", "last_v3"))
    assert(schemaOf(4) == prefix ++ Seq("last_amount", "last_v2", "last_v3"))
    assert(schemaOf(5) == prefix ++ Seq("last_total", "last_v2", "last_v3"))
    assert(schemaOf(6) == prefix ++ Seq("last_total", "last_v3"))
    // value semantics at the full 6-DDL fold: v3 was the 3rd DDL
    // (position 4), so key 1's winner (position 1) backfills NULL and
    // key 2's (position 20) carries the derived stamp; the rename
    // chain is metadata-only — last_total is the original value field
    val rows = EventStreams.cdcApplyDdlLifecycle(log(6), actions, Some(6))
      .orderBy("user_id").collect().toSeq
    assert(rows.map(_.getLong(0)) == Seq(1L, 2L))
    assert(rows(0).getDouble(4) == 1.5 && rows(0).isNullAt(5))
    assert(rows(1).getDouble(4) == 7.25 && rows(1).getDouble(5) == 14.5)
    // actionBound = None folds the WHOLE stream (the consumer whose
    // program acts on every statement): same result when the bound
    // was exact, and extra all-NoOp tail positions change nothing
    val unbounded = EventStreams.cdcApplyDdlLifecycle(log(8), actions, None)
      .orderBy("user_id").collect().toSeq
    assert(unbounded == rows)
    // the bound must TRUNCATE the fold, not just the scan: bounding a
    // 6-DDL log at 2 actions yields the 2-action schema
    assert(EventStreams.cdcApplyDdlLifecycle(log(6), actions, Some(2))
      .columns.toSeq == prefix ++ Seq("last_event_type", "last_amount", "last_v2"))
  }

  test("cdc snapshot-asof: full-log bound ≡ apply-upsert; prefix bound ≡ upsert over the truncated log") {
    val ev = Tables.events(spark, sf001)
    // asof = max position (num = den): time travel to "now" is exactly
    // the plain materialization
    val full = EventStreams.cdcSnapshotAsOf(ev, num = 1, den = 1)
      .drop("asof_pos").orderBy("user_id").collect().toSeq
    val upsert = EventStreams.cdcApplyUpsert(ev)
      .orderBy("user_id").collect().toSeq
    assert(full == upsert)
    // the registered 3/5 bound: every winner's position is inside the
    // prefix, and the snapshot ≡ apply-upsert over the truncated log
    // (replaying less of the log IS the operator's semantics)
    val rows = EventStreams.cdcSnapshotAsOf(ev).orderBy("user_id").collect()
    val asof = rows.head.getLong(rows.head.fieldIndex("asof_pos"))
    assert(rows.forall(_.getLong(1) <= asof))
    val trunc = EventStreams.cdcApplyUpsert(ev.filter(col("event_id") <= asof))
      .orderBy("user_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSeq ==
      trunc.map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSeq)
    // and the bound actually truncates: a later event exists
    assert(ev.filter(col("event_id") > asof).count() > 0)
  }

  test("cdc snapshot-asof streaming twin: position-bounded replay equals the batch snapshot") {
    val ev = Tables.events(spark, sf001)
    // the same ⌊max·3/5⌋ bound the batch op derives from the log — a
    // production consumer passes the binlog offset explicitly
    val asof = ev.agg(max("event_id")).head().getLong(0) * 3 / 5
    val batch = EventStreams.cdcSnapshotAsOf(ev).drop("asof_pos")
      .orderBy("user_id").collect().toSeq
    val streamed = runToMemory(
      EventStreams.cdcSnapshotAsOfStream(
        EventStreams.toFoldEvents(streamEvents), asof).toDF(),
      "t_snap_asof", "update")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_seen").desc)
    val finalState = streamed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D").drop("rn", "n_seen")
      .orderBy("user_id").collect().toSeq
    assert(finalState == batch)
    assert(batch.nonEmpty)
    // the replay is genuinely bounded: the feed continues past asof
    assert(ev.filter(col("event_id") > asof).count() > 0)
  }

  test("streaming SCD2 twin: live type-2 maintenance equals batch cdc_build_scd2") {
    val batch = SparkEntry.queries("cdc_build_scd2")(spark, sf001)
      .collect().toSeq
    val streamed = runToMemory(
      EventStreams.buildScd2Stream(
        EventStreams.toFoldEvents(streamEvents)).toDF(),
      "t_scd2", "update")
    val got = EventStreams.assembleScd2(streamed)
      .orderBy("user_id", "valid_from_us", "position").collect().toSeq
    assert(got == batch)
    assert(batch.nonEmpty)
    // the corpus genuinely exercises both closed and current versions
    assert(batch.exists(!_.getBoolean(5)) && batch.exists(_.getBoolean(5)))
  }

  test("streaming SCD2: a version closes across a micro-batch boundary from carried state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.FoldEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[FoldEvent]
    val q = EventStreams.buildScd2Stream(in.toDS()).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("t_scd2_straddle").start()
    def ev(id: Long, tSec: Long, tpe: String, v: Double) =
      FoldEvent(id, 7L, tSec * 1000000L, tpe, v)
    try {
      // batch 1: the key's first version opens (signup) — and nothing
      // else, so its close can only come from carried state
      in.addData(ev(1, 0, "signup", 1.0))
      q.processAllAvailable()
      val afterOpen = spark.table("t_scd2_straddle").collect()
      assert(afterOpen.length == 1 && afterOpen.head.isNullAt(4),
        "batch 1 must emit exactly the open version")
      // batch 2: an update closes version 1 (timestamp carried across
      // the boundary), then a delete closes version 2 — no current row
      in.addData(ev(2, 10, "click", 2.0), ev(3, 20, "error", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val table = EventStreams.assembleScd2(spark.table("t_scd2_straddle"))
      .orderBy("valid_from_us")
      .collect().map(r => (r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4),
        r.getBoolean(5))).toSeq
    assert(table == Seq(
      (1L, "I", 0L, 10000000L, false),
      (2L, "U", 10000000L, 20000000L, false)),
      s"got $table")
  }

  test("streaming SCD2: a cross-batch out-of-order event FAILS the batch instead of emitting an inverted interval") {
    // ADVICE r18: the intra-batch sort cannot order an event against
    // the CHECKPOINTED open version — before the guard, an event
    // timestamped earlier than the open version silently produced
    // [valid_from, valid_to) with valid_to < valid_from, undetectable
    // downstream. Plant exactly that feed and require the query to
    // fail with the named precondition.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.FoldEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[FoldEvent]
    val q = EventStreams.buildScd2Stream(in.toDS()).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("t_scd2_misorder").start()
    def ev(id: Long, tSec: Long, tpe: String, v: Double) =
      FoldEvent(id, 9L, tSec * 1000000L, tpe, v)
    try {
      in.addData(ev(1, 100, "signup", 1.0))
      q.processAllAvailable()
      // batch 2 delivers ts 50 < the open version's ts 100
      in.addData(ev(2, 50, "click", 2.0))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(err).exists(c =>
        c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains("in-order precondition violated for key 9")),
        s"expected the SCD2 misorder guard, got: $err")
    } finally q.stop()
  }

  test("streaming gap audit: live in-block detection + block-summary assembly equals batch cdc_gap_audit") {
    import spark.implicits._
    val batch = SparkEntry.queries("cdc_gap_audit")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val dir = tmpDir("graft_gap_stream")
    // same planted holes as the batch op; split by POSITION so
    // per-block arrival order matches the binlog precondition
    val ids = rawNsEvents.filter(col("event_id") % 97 =!= 0)
    val mid = ids.agg(max("event_id")).head().getLong(0) / 2
    ids.filter(col("event_id") < mid).write.mode("overwrite").parquet(s"$dir/in")
    val raw = spark.readStream.schema(EventStreams.rawSchema).parquet(s"$dir/in")
    val q = EventStreams.gapAuditStream(raw.select("event_id").as[Long]).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("t_gap").start()
    q.processAllAvailable()
    ids.filter(col("event_id") >= mid).write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()
    val got = EventStreams.assembleGapAudit(spark.table("t_gap"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == batch)
    assert(batch.nonEmpty)
    // the audit crossed a micro-batch boundary with live state: at
    // least one planted hole sits in each half
    assert(batch.exists(_._1 < mid) && batch.exists(_._1 > mid))
  }

  test("streaming anomaly z-score: live hourly counts + trailing-window assembly equals batch") {
    import spark.implicits._
    val batch = SparkEntry.queries("stream_anomaly_zscore")(spark, sf001)
      .collect().toSeq
    val dir = tmpDir("graft_anom_stream")
    val ev = rawNsEvents
    val mid = ev.agg(max("event_id")).head().getLong(0) / 2
    // split by POSITION, not time: counting is order-independent and
    // the monotone re-emissions must survive an hour straddling the
    // micro-batch boundary — that is exactly what this proves
    ev.filter(col("event_id") < mid).write.mode("overwrite")
      .parquet(s"$dir/in")
    val raw = spark.readStream.schema(EventStreams.rawSchema)
      .parquet(s"$dir/in")
    val typed = raw.select(col("event_type"),
        expr("(ts DIV 1000) DIV 3600000000").as("hour_id"))
      .as[(String, Long)]
    val q = EventStreams.hourlyCountsStream(typed).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("t_anom").start()
    q.processAllAvailable()
    ev.filter(col("event_id") >= mid).write.mode("append")
      .parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()
    val got = EventStreams.assembleAnomalyZscore(spark.table("t_anom"))
      .collect().toSeq
    assert(got == batch)
    assert(batch.nonEmpty)
    // at least one hour's count really did grow across the boundary
    // (otherwise the monotone-subsumption path went untested)
    val perEmit = spark.table("t_anom")
      .groupBy("event_type", "hour_id").count()
    assert(perEmit.filter(col("count") > 1).count() > 0,
      "no hour re-emitted across micro-batches — split did not straddle")
  }

  test("session timers: event-time timers close idle sessions (TWS)") {
    import spark.implicits._
    import graft.streaming.StatefulProcessors
    val dir = tmpDir("graft_sess_timer")
    val ev = rawNsEvents
    ev.write.mode("overwrite").parquet(s"$dir/in")
    val raw = spark.readStream.schema(EventStreams.rawSchema).parquet(s"$dir/in")
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    val timed = raw.select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
      .as[StatefulProcessors.TimedEvent]
      .withWatermark("ts", "0 seconds")
    val q = StatefulProcessors.sessionsWithTimers(timed).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("t_sess_timer").start()
    q.processAllAvailable()
    // sentinel 2h past the data pushes the watermark beyond every
    // session's last_event + 30m gap → the TIMERS must close the tail
    // sessions in the no-data batch; no user sends further events
    val sentinel = Tables.events(spark, sf001)
      .agg(max(unix_micros(col("ts")))).head().getLong(0) + 2L * 3600 * 1000 * 1000
    Seq((9999999L, sentinel * 1000L, 10000000L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_sess_timer")
      .filter(col("user_id") =!= 10000000L)
      .withColumn("total_value", round(col("total_value"), 6))
      .orderBy("user_id", "session_start_us").collect().toSeq
    // every real user's every session was closed — by inline gap or by
    // timer — and the closed set equals the batch session_window result
    val batch = EventStreams.sessionized(batchEvents)
      .select(col("user_id"), col("session_start_us"), col("n_events"),
        col("total_value"))
      .orderBy("user_id", "session_start_us").collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("profile: MapState counters + bounded ListState across micro-batches (TWS)") {
    import spark.implicits._
    import graft.streaming.StatefulProcessors
    val dir = tmpDir("graft_profile")
    val evs = EventStreams.toFoldEvents(batchEvents).collect().toSeq
    // split by TIME so cross-batch arrival order equals log order and
    // the bounded error buffer's contents are deterministic
    val mid = (evs.map(_.ts_us).min + evs.map(_.ts_us).max) / 2
    val ev = rawNsEvents
    val tsUs = expr("ts DIV 1000")
    ev.filter(tsUs < mid).write.mode("overwrite").parquet(s"$dir/in")
    val raw = spark.readStream.schema(EventStreams.rawSchema).parquet(s"$dir/in")
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    val q = StatefulProcessors.userProfiles(EventStreams.toFoldEvents(raw)).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("t_profile").start()
    q.processAllAvailable()
    ev.filter(tsUs >= mid).write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()
    // final emission per user = the one with the largest n_total
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_total").desc)
    val streamed = spark.table("t_profile")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "n_total", "n_types", "top_type", "recent_error_ids")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getSeq[Long](4).toList)).toSet
    val expected = evs.groupBy(_.user_id).map { case (u, es) =>
      val sorted = es.sortBy(e => (e.ts_us, e.event_id))
      val counts = sorted.groupBy(_.event_type).view.mapValues(_.size.toLong).toMap
      val top = counts.toSeq.minBy { case (t, n) => (-n, t) }._1
      val errs = sorted.filter(_.event_type == "error").map(_.event_id).takeRight(3)
      (u, es.size.toLong, counts.size.toLong, top, errs.toList)
    }.toSet
    assert(streamed == expected)
    assert(expected.exists(_._5.size == 3), "no user exercised the list cap")
  }

  test("fold bootstraps from a batch snapshot, then resumes from the log (TWS)") {
    import spark.implicits._
    import graft.streaming.StatefulProcessors
    val dir = tmpDir("graft_bootstrap")
    val ev = rawNsEvents
    // snapshot = batch fold of the log's first half (the materialized
    // table a cdc_apply/fold job wrote yesterday)...
    val snapshot = EventStreams.statefulFold(EventStreams.toFoldEvents(
      batchEvents.filter(col("event_id") % 2 === 0)))
    // ...then the stream tails ONLY the second half
    ev.filter(col("event_id") % 2 === 1).write.mode("overwrite").parquet(s"$dir/in")
    val raw = spark.readStream.schema(EventStreams.rawSchema).parquet(s"$dir/in")
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    val got = runToMemory(
      StatefulProcessors.statefulFoldFrom(
        EventStreams.toFoldEvents(raw), snapshot).toDF(),
      "t_bootstrap", "update")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val streamed = got.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .withColumn("balance", round(col("balance"), 6))
      .orderBy("user_id").collect().toSeq
    // a key emitted by the stream must carry snapshot + tail combined —
    // equal to the batch fold over the FULL log for that key
    val streamedKeys = streamed.map(_.getLong(0)).toSet
    val batch = EventStreams.statefulFold(EventStreams.toFoldEvents(batchEvents))
      .toDF().withColumn("balance", round(col("balance"), 6))
      .orderBy("user_id").collect().toSeq
      .filter(r => streamedKeys.contains(r.getLong(0)))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // and the counts prove the bootstrap actually contributed: some key
    // must have more events than the tail alone could supply
    val tailCounts = EventStreams.toFoldEvents(
        batchEvents.filter(col("event_id") % 2 === 1))
      .collect().groupBy(_.user_id).view.mapValues(_.length).toMap
    assert(streamed.exists(r =>
      r.getLong(1) > tailCounts.getOrElse(r.getLong(0), 0).toLong))
  }

  test("dedup: at-least-once delivery (every event twice) folds to exactly-once") {
    val dir = tmpDir("graft_dup")
    val ev = rawNsEvents
    ev.union(ev).write.mode("overwrite").parquet(s"$dir/in")
    val raw = spark.readStream.schema(EventStreams.rawSchema).parquet(s"$dir/in")
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    val got = runToMemory(
      EventStreams.dedupByPosition(raw.select("event_id", "user_id", "event_type")),
      "t_dedup", "append")
    assert(got.count() == ev.count())
    assert(got.select("event_id").distinct().count() == ev.count())
  }

  test("dedup within watermark: duplicates in-horizon collapse, state stays bounded") {
    import spark.implicits._
    // dropDuplicatesWithinWatermark is the production form of op 60:
    // dedup state is EVICTED once the watermark passes an event's time
    // + delay, so state is bounded by the horizon instead of growing
    // with the full history (the SCALE.md claim, exercised here).
    val dir = tmpDir("graft_dedup_wm")
    val base = "2024-06-01"
    def mk(rows: Seq[(Long, String)]) =
      rows.toDF("event_id", "tss")
        .select(col("event_id"),
          unix_micros(to_timestamp(col("tss"))).multiply(1000L).as("ts"),
          lit(1L).as("user_id"), lit("click").as("event_type"),
          lit(1.0).as("value"), lit("{}").as("props"))
    // batch 1: event 1 twice (dup within the batch) + event 2
    mk(Seq((1L, s"$base 10:00:00"), (1L, s"$base 10:00:00"),
        (2L, s"$base 10:30:00")))
      .write.mode("overwrite").parquet(s"$dir/in")
    val raw = spark.readStream.schema(EventStreams.rawSchema).parquet(s"$dir/in")
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      .withWatermark("ts", "10 minutes")
    val q = raw.dropDuplicatesWithinWatermark(Seq("event_id"))
      .select("event_id", "ts")
      .writeStream.outputMode("append").format("memory")
      .queryName("t_dedup_wm").start()
    q.processAllAvailable()
    // batch 2: a redelivery of event 1 arriving WAY past the horizon —
    // its dedup state was evicted, so the duplicate is emitted again;
    // that is the documented contract (dedup guaranteed only within
    // the watermark delay), proving state does not persist forever
    mk(Seq((3L, s"$base 13:00:00"))).write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    mk(Seq((1L, s"$base 12:55:00"))).write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("t_dedup_wm").select("event_id")
      .collect().map(_.getLong(0)).toSeq
    // in-horizon duplicate collapsed: event 1 appeared once in batch 1
    assert(ids.count(_ == 1L) == 2,
      s"expected the in-batch dup collapsed AND the post-eviction redelivery emitted: $ids")
    assert(ids.count(_ == 2L) == 1 && ids.count(_ == 3L) == 1, ids.toString)
  }

  test("watermark: rows later than the threshold are dropped from closed windows") {
    import spark.implicits._
    val dir = tmpDir("graft_late")
    val base = "2024-06-01"
    def mk(rows: Seq[(Long, String, Long, String, Double, String)]) =
      rows.toDF("event_id", "tss", "user_id", "event_type", "value", "props")
        .select(col("event_id"),
          unix_micros(to_timestamp(col("tss"))).multiply(1000L).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
    // batch 1: two rows in [10:00,11:00) + one at 12:00 → watermark 11:50
    mk(Seq((1L, s"$base 10:00:00", 1L, "click", 1.0, "{}"),
        (2L, s"$base 10:05:00", 1L, "click", 1.0, "{}"),
        (3L, s"$base 12:00:00", 1L, "click", 1.0, "{}")))
      .write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(EventStreams.rawSchema).parquet(s"$dir/in")
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    val agg = EventStreams.watermarkedTumbling(stream)
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("t_late").start()
    q.processAllAvailable()
    // batch 2: a late row at 10:10, far below the 11:50 watermark
    mk(Seq((4L, s"$base 10:10:00", 1L, "click", 99.0, "{}")))
      .write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    // batch 3: advance watermark far enough to close everything
    mk(Seq((5L, s"$base 15:00:00", 1L, "click", 1.0, "{}")))
      .write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()
    val out = spark.table("t_late")
      .select("hour_start_us", "n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toMap2
    val h10 = unixMicrosOf(s"$base 10:00:00")
    // the closed 10:00 window counts 2 events — the late row (id 4,
    // value 99) was dropped, not merged and not re-emitted
    assert(out(h10) == (2L, 2.0))
  }

  implicit private class MapOps(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[Long, (Long, Double)] =
      rows.map { case (k, a, b) => k -> (a, b) }.toMap
  }
  private def unixMicrosOf(s: String): Long =
    java.time.LocalDateTime.parse(s.replace(" ", "T"))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L

  test("stream-stream LEFT OUTER interval join: append stream equals batch after watermark flush") {
    import spark.implicits._
    val dir = tmpDir("graft_sj_outer")
    // batch 1: the real corpus, re-encoded to the raw long-ns shape
    rawNsEvents.write.mode("overwrite").parquet(s"$dir/in")
    val maxUs = Tables.events(spark, sf001)
      .agg(max(unix_micros(col("ts")))).head.getLong(0)
    val stream = spark.readStream.schema(EventStreams.rawSchema)
      .option("maxFilesPerTrigger", "8").parquet(s"$dir/in")
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    val q = EventStreams.clickPurchasePairs(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_sj_outer").start()
    q.processAllAvailable()
    // batch 2: watermark-flush sentinels far past the corpus (one per
    // SIDE — each side's watermark tracks only rows passing its own
    // type filter), user −1 so they join nothing real and are
    // excluded from the compare. Without the flush, every click in
    // the trailing hour of the corpus would sit unemitted: append
    // mode may not declare "no purchase arrived" until the watermark
    // proves the window closed — which is the semantics under test.
    Seq((9000001L, maxUs + 864000000000L, -1L, "click", 0.0, "{}"),
        (9000002L, maxUs + 864000000000L, -1L, "purchase", 0.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), (col("us") * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_sj_outer").filter(col("user_id") >= 0)
      .select("user_id", "click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    val want = EventStreams.clickPurchasePairs(batchEvents)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    assert(got == want,
      s"stream ${got.size} rows vs batch ${want.size}")
    assert(want.exists(_._3 == -1L),
      "fixture must exercise null-augmented (unconverted) clicks")
    assert(want.exists(_._3 >= 0L),
      "fixture must exercise matched pairs")
  }

  test("dim refresh: each micro-batch joins the dimension AS OF its own batch") {
    import spark.implicits._
    val dir = tmpDir("graft_dim_refresh")
    def mkEvents(ids: Seq[Long]) = ids.toDF("event_id")
      .select(col("event_id"), (col("event_id") * 1000000L).as("ts"),
        lit(1L).as("user_id"), lit("click").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
    def mkDim(label: String) = Seq(("click", label))
      .toDF("event_type", "label")
    // generation 1: dim labels clicks "v1"
    mkDim("v1").write.mode("overwrite").parquet(s"$dir/dim")
    mkEvents(Seq(1L, 2L)).write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(EventStreams.rawSchema)
      .parquet(s"$dir/in")
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    val sink = new graft.streaming.MemorySink("dim_refresh_test")
    val q = EventStreams.enrichRefreshedDim(stream, s"$dir/dim",
      s"$dir/ckpt", sink)
    q.processAllAvailable()
    // the dimension changes WHILE the query runs — generation 2
    mkDim("v2").write.mode("overwrite").parquet(s"$dir/dim")
    mkEvents(Seq(3L)).write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()
    val byEvent = sink.batches.values.flatten
      .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("label"))
      .toMap
    // batch-1 rows were enriched against v1; batch-2 rows against v2
    // — the static-join form would have pinned v1 forever
    assert(byEvent(1L) == "v1" && byEvent(2L) == "v1",
      s"pre-update rows must carry the old labels: $byEvent")
    assert(byEvent(3L) == "v2",
      s"post-update rows must see the refreshed dimension: $byEvent")
  }

  test("checkpoint replay: restart neither loses nor duplicates") {
    val dir = tmpDir("graft_replay")
    val ev = rawNsEvents
    val half1 = ev.filter(col("event_id") % 2 === 0)
    val half2 = ev.filter(col("event_id") % 2 === 1)
    half1.write.mode("overwrite").parquet(s"$dir/in")
    def startQuery() = spark.readStream
      .schema(EventStreams.rawSchema).parquet(s"$dir/in")
      .select("event_id", "user_id")
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .start()
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    half2.write.mode("append").parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // third run with no new data must emit nothing new
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == ev.count())
    assert(out.select("event_id").distinct().count() == ev.count())
  }

  test("stateful fold resumes from checkpointed state across a restart") {
    val dir = tmpDir("graft_fold_replay")
    val ev = rawNsEvents
    ev.filter(col("event_id") % 2 === 0).write.mode("overwrite").parquet(s"$dir/in")
    def startQuery() = {
      val src = spark.readStream.schema(EventStreams.rawSchema).parquet(s"$dir/in")
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      EventStreams.statefulFold(EventStreams.toFoldEvents(src)).toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(s"$dir/out/batch_$id"); ()
        }.start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    ev.filter(col("event_id") % 2 === 1).write.mode("append").parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // final state per key across all emitted batches == batch fold of
    // the full log: the second run must have RESUMED counts/sums, not
    // restarted them
    val emitted = spark.read.parquet(s"$dir/out/batch_*")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val finalState = emitted.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .withColumn("balance", round(col("balance"), 6))
      .orderBy("user_id").collect().toSeq
    val batch = EventStreams.statefulFold(EventStreams.toFoldEvents(batchEvents))
      .toDF().withColumn("balance", round(col("balance"), 6))
      .orderBy("user_id").collect().toSeq
    assert(finalState == batch)
  }

  test("SCD2 maintenance resumes from checkpointed open versions across a restart") {
    val dir = tmpDir("graft_scd2_replay")
    val ev = rawNsEvents
    // TIME split (order-sensitive per key, same as the attribution
    // resume test): versions open before the restart must close from
    // CHECKPOINTED state after it
    val b = ev.agg(min("ts"), max("ts")).head()
    val midNs = (b.getLong(0) + b.getLong(1)) / 2
    ev.filter(col("ts") < midNs).write.mode("overwrite").parquet(s"$dir/in")
    def startQuery() = {
      val src = spark.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/in")
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      EventStreams.buildScd2Stream(EventStreams.toFoldEvents(src)).toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(s"$dir/out/batch_$id"); ()
        }.start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    ev.filter(col("ts") >= midNs).write.mode("append").parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val got = EventStreams.assembleScd2(spark.read.parquet(s"$dir/out/batch_*"))
      .orderBy("user_id", "valid_from_us", "position").collect().toSeq
    val batch = SparkEntry.queries("cdc_build_scd2")(spark, sf001)
      .collect().toSeq
    assert(got == batch)
    assert(batch.nonEmpty)
    // a closed interval genuinely straddles the restart: opened
    // before midUs, closed at-or-after it — possible only via the
    // checkpointed open-version state
    val midUs = midNs / 1000
    assert(batch.exists(r => !r.isNullAt(4) &&
      r.getLong(3) < midUs && r.getLong(4) >= midUs),
      "fixture gave no cross-restart close — split drifted")
  }

  test("CEP pattern resumes from checkpointed lookback state across a restart") {
    val dir = tmpDir("graft_cep_replay")
    // the corpus alone does not guarantee a run straddling the exact
    // midpoint, so PLANT one on an out-of-corpus user: view + click
    // pre-restart, purchase post-restart — it can only fire from
    // checkpointed lookback state
    val plantUid = 1000000007L
    val b0 = rawNsEvents.agg(min("ts"), max("ts"), max("event_id")).head()
    val midNs = (b0.getLong(0) + b0.getLong(1)) / 2
    val idBase = b0.getLong(2) + 1
    import spark.implicits._
    val planted = Seq(
      (idBase, midNs - 2000000000L, plantUid, "view", 1.0, "{}"),
      (idBase + 1, midNs - 1000000000L, plantUid, "click", 1.0, "{}"),
      (idBase + 2, midNs + 1000000000L, plantUid, "purchase", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val ev = rawNsEvents.unionByName(planted)
    ev.filter(col("ts") < midNs).write.mode("overwrite").parquet(s"$dir/in")
    def startQuery() = {
      val src = spark.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/in")
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      EventStreams.patternSeqStream(EventStreams.toFoldEvents(src)).toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    ev.filter(col("ts") >= midNs).write.mode("append").parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(s"$dir/out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exactly the batch op's corpus matches + the planted straddle,
    // each fired once (the planted one only exists if the restart
    // resumed the two-event lookback from the checkpoint)
    val expected = SparkEntry.queries("stream_pattern_seq")(spark, sf001)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
        r.getAs[Long]("purchase_id"), r.getAs[Long]("span_us"))).toSet
    val plantedMatch = (plantUid, idBase, idBase + 2, 3000000L)
    assert(got.toSet == expected + plantedMatch)
    assert(got.length == expected.size + 1,
      "a restart double-fired a match")
    assert(expected.nonEmpty)
  }

  test("debounce resumes from checkpointed kept-position state across a restart") {
    val dir = tmpDir("graft_debounce_replay")
    val gap = 48L * 3600 * 1000000
    val ev = rawNsEvents
    val b = ev.agg(min("ts"), max("ts")).head()
    val midNs = (b.getLong(0) + b.getLong(1)) / 2
    ev.filter(col("ts") < midNs).write.mode("overwrite").parquet(s"$dir/in")
    def startQuery() = {
      val src = spark.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/in")
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      EventStreams.debounceStream(EventStreams.toFoldEvents(src), gap).toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    ev.filter(col("ts") >= midNs).write.mode("append").parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(s"$dir/out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // reference = the same per-user decision fold over the full log
    val evs = EventStreams.toFoldEvents(batchEvents).collect().toSeq
    val expected = evs.groupBy(_.user_id).flatMap { case (_, xs) =>
      var last = Long.MinValue
      xs.sortBy(e => (e.ts_us, e.event_id)).map { e =>
        val keep = last == Long.MinValue || e.ts_us - last > gap
        if (keep) last = e.ts_us
        e.event_id -> keep
      }
    }
    assert(got == expected)
    // the restart boundary mattered: some post-restart decision's
    // kept-position was set pre-restart (a drop whose anchor keep
    // happened before midUs) — only checkpointed state can know it
    val midUs = midNs / 1000
    val crossing = evs.groupBy(_.user_id).exists { case (_, xs) =>
      var lastUs = Long.MinValue
      xs.sortBy(e => (e.ts_us, e.event_id)).exists { e =>
        val keep = lastUs == Long.MinValue || e.ts_us - lastUs > gap
        val crossed = !keep && e.ts_us >= midUs && lastUs < midUs
        if (keep) lastUs = e.ts_us
        crossed
      }
    }
    assert(crossing, "fixture gave no cross-restart drop — split drifted")
  }

  test("attribution resumes from checkpointed touch state: no loss, no double credit across a restart") {
    val dir = tmpDir("graft_attr_replay")
    val ev = rawNsEvents
    // TIME split, not position: attribution is order-sensitive per
    // user, and the restart boundary must respect the feed's
    // in-order delivery guarantee
    val b = ev.agg(min("ts"), max("ts")).head()
    val midNs = (b.getLong(0) + b.getLong(1)) / 2
    ev.filter(col("ts") < midNs).write.mode("overwrite").parquet(s"$dir/in")
    def startQuery() = {
      val src = spark.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/in")
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      EventStreams.attributionStream(EventStreams.toFoldEvents(src)).toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    ev.filter(col("ts") >= midNs).write.mode("append").parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // a third restart with no new input must credit nothing new
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    val got = spark.read.parquet(s"$dir/out")
    // no double credit: every purchase attributed exactly once
    assert(got.count() == got.select("event_id").distinct().count())
    // no loss + correct carry: per-purchase reference from one batch
    // window over the FULL log (strictly-before last touch)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ref = batchEvents
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      .withColumn("carry", last(
        when(col("event_type").isin("click", "view"), col("event_type")),
        ignoreNulls = true).over(w))
      .withColumn("touch_us", last(
        when(col("event_type").isin("click", "view"), col("ts_us")),
        ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
    val expSet = ref
      .select(col("event_id"), col("user_id"),
        coalesce(col("carry"), lit("none")).as("channel"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    val gotSet = got.select("event_id", "user_id", "channel", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(gotSet == expSet)
    assert(expSet.nonEmpty)
    // the restart boundary was genuinely crossed with carried state:
    // some post-restart purchase's crediting touch arrived pre-restart
    val midUs = midNs / 1000
    assert(ref.filter(col("ts_us") >= midUs && col("touch_us") < midUs)
      .count() > 0, "fixture gave no cross-restart credit — split drifted")
  }

  // ── r19: crash-resume parity for the REMAINING stateful processors
  // (VERDICT r18 "next round" #3). Template = the fold/SCD2/CEP/
  // debounce/attribution restart specs above: split the input, run to
  // a checkpoint, STOP the query, append the rest, restart from the
  // same checkpoint, prove the total output ≡ the batch op, and plant
  // an assertion that the restart boundary was genuinely crossed with
  // carried state (not vacuously green on a lucky split).

  test("cdc envelope resumes from checkpointed before-image state across a restart") {
    val dir = tmpDir("graft_cdcenv_replay")
    val ev = rawNsEvents
    // TIME split: the before-image chain is order-sensitive per pk
    val b = ev.agg(min("ts"), max("ts")).head()
    val midNs = (b.getLong(0) + b.getLong(1)) / 2
    ev.filter(col("ts") < midNs).write.mode("overwrite").parquet(s"$dir/in")
    def startQuery() = {
      val src = spark.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/in")
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      EventStreams.cdcEnvelopeStream(EventStreams.toFoldEvents(src)).toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    ev.filter(col("ts") >= midNs).write.mode("append").parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val cols = Seq("position", "pk", "ts_us", "op", "txn_id", "txn_seq",
      "before_value", "after_value", "ddl_stmt")
    val got = spark.read.parquet(s"$dir/out")
      .select(cols.map(col): _*).orderBy("position").collect().toSeq
    val batch = EventStreams.envelopeTxn(batchEvents)
      .select(col("position"), col("pk"), unix_micros(col("ts")).as("ts_us"),
        col("op"), col("txn_id"), col("txn_seq"),
        col("before.value").as("before_value"),
        col("after.value").as("after_value"), col("ddl_stmt"))
      .orderBy("position").collect().toSeq
    assert(got == batch)
    assert(batch.nonEmpty)
    // carried across the restart: some record emitted at-or-after mid
    // carries a BEFORE image whose source event arrived before mid —
    // possible only via the checkpointed last-image state
    val midUs = midNs / 1000
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pk").orderBy("position")
    val crossing = spark.read.parquet(s"$dir/out")
      .withColumn("prev_ts", lag("ts_us", 1).over(w))
      .filter(col("ts_us") >= midUs && col("prev_ts") < midUs &&
        col("before_value").isNotNull)
    assert(crossing.count() > 0,
      "fixture gave no cross-restart before-image — split drifted")
  }

  test("LOCF resumes from checkpointed newest-good-reading state across a restart") {
    val dir = tmpDir("graft_locf_replay")
    val ev = rawNsEvents
    val b = ev.agg(min("ts"), max("ts")).head()
    val midNs = (b.getLong(0) + b.getLong(1)) / 2
    ev.filter(col("ts") < midNs).write.mode("overwrite").parquet(s"$dir/in")
    def startQuery() = {
      val src = spark.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/in")
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      EventStreams.fillForward(EventStreams.toLocfEvents(src)).toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    ev.filter(col("ts") >= midNs).write.mode("append").parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(s"$dir/out")
      .select("event_id", "reading", "reading_ffill")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSeq.sortBy(_._1)
    val batch = SparkEntry.queries("win_fill_forward")(spark, sf001)
      .select("event_id", "reading", "reading_ffill")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSeq.sortBy(_._1)
    assert(got == batch)
    assert(batch.nonEmpty)
    // a post-restart void was filled by a PRE-restart reading — the
    // fill source can only live in the checkpointed state
    val midUs = midNs / 1000
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
    val crossing = spark.read.parquet(s"$dir/out")
      .withColumn("src_ts", last(
        when(col("reading").isNotNull, col("ts_us")),
        ignoreNulls = true).over(w))
      .filter(col("reading").isNull && col("reading_ffill").isNotNull &&
        col("ts_us") >= midUs && col("src_ts") < midUs)
    assert(crossing.count() > 0,
      "fixture gave no cross-restart fill — split drifted")
  }

  test("upsert-evolve resumes from checkpointed per-key images across a restart") {
    val dir = tmpDir("graft_upsert_replay")
    val ev = rawNsEvents
    val b = ev.agg(min("ts"), max("ts")).head()
    val midNs = (b.getLong(0) + b.getLong(1)) / 2
    val ddlPos = batchEvents.filter(col("event_type") === "view")
      .agg(min("event_id")).head().getLong(0)
    ev.filter(col("ts") < midNs).write.mode("overwrite").parquet(s"$dir/in")
    def startQuery() = {
      val src = spark.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/in")
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      EventStreams.cdcApplyUpsertEvolvingStream(
          EventStreams.toFoldEvents(src), ddlPos).toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(s"$dir/out/batch_$id"); ()
        }.start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    ev.filter(col("ts") >= midNs).write.mode("append").parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val emitted = spark.read.parquet(s"$dir/out/batch_*")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_seen").desc)
    val finalState = emitted.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .drop("rn", "n_seen")
      .orderBy("user_id").collect().toSeq
    val batch = EventStreams.cdcApplyUpsertEvolving(batchEvents)
      .orderBy("user_id").collect().toSeq
    assert(finalState == batch)
    assert(batch.nonEmpty)
    // the per-key n_seen counters RESUMED (a restart that reset state
    // would leave max n_seen short of the full per-key event count).
    // 'view' rows are the DDL channel here — arbitrate(viewIsDdl =
    // true) never counts them
    val seen = emitted.groupBy("user_id").agg(max("n_seen").as("mx"))
    val full = batchEvents.filter(col("event_type") =!= "view")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(seen.join(full, "user_id")
      .filter(col("mx") =!= col("n")).count() == 0,
      "some key's n_seen did not resume across the restart")
    val midUs = midNs / 1000
    assert(batchEvents.filter(unix_micros(col("ts")) >= midUs).count() > 0 &&
      batchEvents.filter(unix_micros(col("ts")) < midUs).count() > 0,
      "split drifted — one side empty")
  }

  test("snapshot-asof resumes its position-bounded replay across a restart") {
    val dir = tmpDir("graft_snap_replay")
    val ev = rawNsEvents
    val asof = Tables.events(spark, sf001)
      .agg(max("event_id")).head().getLong(0) * 3 / 5
    val b = ev.agg(min("ts"), max("ts")).head()
    val midNs = (b.getLong(0) + b.getLong(1)) / 2
    ev.filter(col("ts") < midNs).write.mode("overwrite").parquet(s"$dir/in")
    def startQuery() = {
      val src = spark.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/in")
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      EventStreams.cdcSnapshotAsOfStream(
          EventStreams.toFoldEvents(src), asof).toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(s"$dir/out/batch_$id"); ()
        }.start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    ev.filter(col("ts") >= midNs).write.mode("append").parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val emitted = spark.read.parquet(s"$dir/out/batch_*")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_seen").desc)
    val finalState = emitted.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D").drop("rn", "n_seen")
      .orderBy("user_id").collect().toSeq
    val batch = EventStreams.cdcSnapshotAsOf(Tables.events(spark, sf001))
      .drop("asof_pos").orderBy("user_id").collect().toSeq
    assert(finalState == batch)
    assert(batch.nonEmpty)
    // counters resumed: per key, max n_seen == that key's in-bound
    // event count over the WHOLE log
    val seen = emitted.groupBy("user_id").agg(max("n_seen").as("mx"))
    val full = batchEvents.filter(col("event_id") <= asof)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(seen.join(full, "user_id")
      .filter(col("mx") =!= col("n")).count() == 0,
      "some key's replay did not resume across the restart")
    // the bounded replay genuinely straddled the restart
    val midUs = midNs / 1000
    assert(batchEvents.filter(col("event_id") <= asof)
      .filter(unix_micros(col("ts")) >= midUs).count() > 0,
      "no in-bound events after the restart — split drifted")
  }

  test("gap audit resumes from checkpointed last-position state across a restart") {
    val dir = tmpDir("graft_gap_replay")
    val batch = SparkEntry.queries("cdc_gap_audit")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // same planted holes as the batch op (positions ≡ 0 mod 97
    // removed); split AT one of the holes, chosen block-INTERIOR for
    // blockW = 1024 so detecting it needs the checkpointed in-block
    // last-position, not the cross-block summary lag
    val ids = rawNsEvents.filter(col("event_id") % 97 =!= 0)
    val maxId = ids.agg(max("event_id")).head().getLong(0)
    val mid = (maxId / 2 / 97 * 97 to maxId by 97)
      .find(m => (m - 1) / 1024 == (m + 1) / 1024)
      .getOrElse(fail("no block-interior hole found"))
    ids.filter(col("event_id") < mid).write.mode("overwrite")
      .parquet(s"$dir/in")
    def startQuery() = {
      val raw = spark.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/in")
      EventStreams.gapAuditStream(raw.select("event_id").as[Long](
          org.apache.spark.sql.Encoders.scalaLong)).toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    ids.filter(col("event_id") >= mid).write.mode("append")
      .parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val got = EventStreams.assembleGapAudit(spark.read.parquet(s"$dir/out"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == batch)
    assert(batch.nonEmpty)
    // the hole AT the restart boundary was detected — its left
    // neighbor arrived pre-restart, its right neighbor post-restart,
    // so only the checkpointed last-position could see the jump
    assert(got.exists(g => g._1 <= mid && mid <= g._2),
      s"the planted cross-restart hole at $mid was not audited")
  }

  test("hourly counts resume from checkpointed per-hour state across a restart") {
    val dir = tmpDir("graft_anom_replay")
    val batch = SparkEntry.queries("stream_anomaly_zscore")(spark, sf001)
      .collect().toSeq
    val ev = rawNsEvents
    val mid = ev.agg(max("event_id")).head().getLong(0) / 2
    ev.filter(col("event_id") < mid).write.mode("overwrite")
      .parquet(s"$dir/in")
    def startQuery() = {
      val raw = spark.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/in")
      val typed = raw.select(col("event_type"),
          expr("(ts DIV 1000) DIV 3600000000").as("hour_id"))
        .as[(String, Long)](org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong))
      EventStreams.hourlyCountsStream(typed).toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(s"$dir/out/batch_$id"); ()
        }.start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    val run1Batches = new java.io.File(s"$dir/out").list().toSet
    ev.filter(col("event_id") >= mid).write.mode("append")
      .parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val emitted = spark.read.parquet(s"$dir/out/batch_*")
    val got = EventStreams.assembleAnomalyZscore(emitted).collect().toSeq
    assert(got == batch)
    assert(batch.nonEmpty)
    // some hour's count GREW across the restart: emitted in both a
    // run-1 and a run-2 batch with a larger count the second time —
    // a reset counter could never exceed its run-1 value with only
    // the post-restart events of that hour... but ≡-batch above
    // already pins the totals; here pin the boundary was crossed
    val run2Batches = new java.io.File(s"$dir/out").list().toSet -- run1Batches
    assert(run2Batches.nonEmpty, "restart produced no new batches")
    val r1 = spark.read.parquet(run1Batches.map(b => s"$dir/out/$b").toSeq: _*)
      .groupBy("event_type", "hour_id").agg(max("x").as("x1"))
    val r2 = spark.read.parquet(run2Batches.map(b => s"$dir/out/$b").toSeq: _*)
      .groupBy("event_type", "hour_id").agg(max("x").as("x2"))
    assert(r1.join(r2, Seq("event_type", "hour_id"))
      .filter(col("x2") > col("x1")).count() > 0,
      "no hour's count grew across the restart — split drifted")
  }

  test("session timers resume from checkpointed sessions AND timers across a restart") {
    import graft.streaming.StatefulProcessors
    val dir = tmpDir("graft_sess_replay")
    val ev = rawNsEvents
    val b = ev.agg(min("ts"), max("ts")).head()
    val midNs = (b.getLong(0) + b.getLong(1)) / 2
    ev.filter(col("ts") < midNs).write.mode("overwrite").parquet(s"$dir/in")
    def startQuery() = {
      val raw = spark.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/in")
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      val timed = raw.select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
        .as[StatefulProcessors.TimedEvent](
          org.apache.spark.sql.Encoders.product[StatefulProcessors.TimedEvent])
        .withWatermark("ts", "0 seconds")
      StatefulProcessors.sessionsWithTimers(timed).toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    val afterRun1 = spark.read.parquet(s"$dir/out")
      .collect().map(_.toString).toSet
    // run 2: the rest of the log, then a sentinel 2 h past the data so
    // the RESTORED timers close every tail session in a no-data batch
    ev.filter(col("ts") >= midNs).write.mode("append").parquet(s"$dir/in")
    val sentinel = Tables.events(spark, sf001)
      .agg(max(unix_micros(col("ts")))).head().getLong(0) +
      2L * 3600 * 1000 * 1000
    locally { import spark.implicits._
      Seq((9999999L, sentinel * 1000L, 10000000L, "click", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(s"$dir/in") }
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .filter(col("user_id") =!= 10000000L)
      .withColumn("total_value", round(col("total_value"), 6))
      .orderBy("user_id", "session_start_us").collect().toSeq
    val batch = EventStreams.sessionized(batchEvents)
      .select(col("user_id"), col("session_start_us"), col("n_events"),
        col("total_value"))
      .orderBy("user_id", "session_start_us").collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // a session OPENED before the restart closed after it — emitted by
    // run 2 with a pre-restart start, possible only from checkpointed
    // session state (and, for the tail sessions, restored timers)
    val midUs = midNs / 1000
    val run2New = spark.read.parquet(s"$dir/out")
      .filter(col("user_id") =!= 10000000L)
      .collect().filter(r => !afterRun1.contains(r.toString))
    assert(run2New.exists(_.getLong(1) < midUs),
      "no session straddled the restart — split drifted")
  }

  test("profile resumes MapState counters and the bounded error buffer across a restart") {
    import graft.streaming.StatefulProcessors
    val dir = tmpDir("graft_profile_replay")
    val evs = EventStreams.toFoldEvents(batchEvents).collect().toSeq
    val mid = (evs.map(_.ts_us).min + evs.map(_.ts_us).max) / 2
    val ev = rawNsEvents
    ev.filter(expr("ts DIV 1000") < mid).write.mode("overwrite")
      .parquet(s"$dir/in")
    def startQuery() = {
      val raw = spark.readStream.schema(EventStreams.rawSchema)
        .parquet(s"$dir/in")
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      StatefulProcessors.userProfiles(EventStreams.toFoldEvents(raw)).toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(s"$dir/out/batch_$id"); ()
        }.start()
    }
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    ev.filter(expr("ts DIV 1000") >= mid).write.mode("append")
      .parquet(s"$dir/in")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_total").desc)
    val streamed = spark.read.parquet(s"$dir/out/batch_*")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "n_total", "n_types", "top_type", "recent_error_ids")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getSeq[Long](4).toList)).toSet
    val expected = evs.groupBy(_.user_id).map { case (u, es) =>
      val sorted = es.sortBy(e => (e.ts_us, e.event_id))
      val counts = sorted.groupBy(_.event_type).view.mapValues(_.size.toLong).toMap
      val top = counts.toSeq.minBy { case (t, n) => (-n, t) }._1
      val errs = sorted.filter(_.event_type == "error").map(_.event_id).takeRight(3)
      (u, es.size.toLong, counts.size.toLong, top, errs.toList)
    }.toSet
    assert(streamed == expected)
    // the bounded buffer genuinely straddled the restart: some user's
    // final error window holds ids from BOTH sides of the split —
    // only possible if the ListState was restored, since a reset
    // buffer could hold post-restart ids alone
    val errTs = evs.filter(_.event_type == "error")
      .map(e => e.event_id -> e.ts_us).toMap
    assert(expected.exists { case (_, _, _, _, errIds) =>
      errIds.exists(id => errTs(id) < mid) &&
        errIds.exists(id => errTs(id) >= mid)
    }, "no error buffer straddled the restart — split drifted")
  }

  test("rate source: synthetic load generator drives the same transforms") {
    val rate = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
      .select(col("value").as("event_id"), col("timestamp").as("ts"),
        (col("value") % 7).as("user_id"),
        when(col("value") % 3 === 0, "click").otherwise("view").as("event_type"),
        (col("value") % 100).cast("double").as("value"),
        lit("{}").as("props"))
    val q = EventStreams.tumbling(rate.withWatermark("ts", "1 second"))
      .writeStream.outputMode("update").format("memory")
      .queryName("t_rate").start()
    try {
      Thread.sleep(2500)
      q.processAllAvailable()
    } finally q.stop()
    // rows flowed through the shared windowed-agg body from the
    // synthetic source
    assert(spark.table("t_rate").count() > 0)
  }

  test("fan-out: every sink receives the identical batch exactly once") {
    val dir = tmpDir("graft_fanout")
    val sinks = Seq(s"$dir/sinkA", s"$dir/sinkB", s"$dir/sinkC")
    val q = EventStreams.fanOut(
      streamEvents.select("event_id", "user_id", "event_type"),
      sinks, s"$dir/ckpt")
    q.processAllAvailable()
    q.stop()
    val n = Tables.events(spark, sf001).count()
    val contents = sinks.map { s =>
      val df = spark.read.parquet(s"$s/batch_0")
      (df.count(), df.orderBy("event_id").collect().toSeq)
    }
    assert(contents.forall(_._1 == n))
    assert(contents.distinct.size == 1)
  }

  test("avro wire: envelope → bytes → envelope is the identity; nulls survive") {
    import graft.ops.AvroWire
    val flat = AvroWire.flatEnvelope(Tables.events(spark, sf001))
    val src = flat.collect().sortBy(_.position)
    // the corpus exercises every null shape: I rows (null before),
    // D rows (null after), DDL rows (null both + non-null ddl_stmt)
    assert(src.exists(_.before_value.isEmpty))
    assert(src.exists(_.after_value.isEmpty))
    assert(src.exists(_.ddl_stmt.nonEmpty))
    val wire = AvroWire.toAvroBytes(flat)
    val sizes = wire.select(length(col("wire"))).collect().map(_.getInt(0))
    // sanity: real varint-encoded data, not empty and not bloated
    // (9 fields, zigzag longs + 3 union bytes: tens of bytes per row)
    assert(sizes.forall(s => s > 10 && s < 200), s"wire sizes off: ${sizes.take(5).mkString(",")}")
    val back = AvroWire.fromAvroBytes(wire).collect().sortBy(_.position)
    assert(back.toSeq == src.toSeq, "avro round-trip not the identity")
  }
}
