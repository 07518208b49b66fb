package graft

import graft.streaming.{EventStreams, JdbcUpsertSink, MemorySink, ParquetDirSink, Sink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Sink delivery contract (SURVEY §2.9 ops 5-7 / VERDICT r3 #7):
  * foreachBatch delivers each micro-batch AT LEAST once per sink, so
  * every implementation must be idempotent per batchId. The same
  * checks run against every bundled sink — a new sink joins the
  * `sinksUnderTest` list and inherits the contract.
  */
class SinkContractSpec extends SparkSpec {

  private def batchOf(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"row_$i")).toDF("id", "payload")
  }

  private def sinksUnderTest(dir: String): Seq[(Sink, () => Map[Long, Long])] = {
    val pq = new ParquetDirSink(s"$dir/pq")
    val mem = new MemorySink("mem")
    def pqState(): Map[Long, Long] = {
      val root = new java.io.File(s"$dir/pq")
      Option(root.listFiles()).getOrElse(Array.empty).toSeq
        .filter(_.getName.startsWith("batch_"))
        .map { f =>
          f.getName.stripPrefix("batch_").toLong ->
            spark.read.parquet(f.getPath).count()
        }.toMap
    }
    def memState(): Map[Long, Long] =
      mem.batches.map { case (k, v) => k -> v.size.toLong }.toMap
    // keep Derby's log out of the repo cwd
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    val jdbc = new JdbcUpsertSink(s"jdbc:derby:$dir/db;create=true", "T_EVENTS",
      pk = Seq("id"))
    Seq(pq -> (() => pqState()), mem -> (() => memState()),
      jdbc -> (() => jdbc.appliedBatches))
  }

  test("contract: redelivery of the same batchId leaves state unchanged") {
    val dir = tmpDir("graft_sink_contract")
    for ((sink, state) <- sinksUnderTest(dir)) {
      val b0 = batchOf(100)
      sink.write(b0, 0L)
      val once = state()
      // engine redelivers batch 0 after a simulated crash
      sink.write(b0, 0L)
      assert(state() == once, s"${sink.name}: redelivery changed state")
      assert(once == Map(0L -> 100L), s"${sink.name}: wrong first state")
      // a NEW batchId is new data, not a duplicate
      sink.write(batchOf(7), 1L)
      assert(state() == Map(0L -> 100L, 1L -> 7L),
        s"${sink.name}: batch 1 not appended")
      // triple-delivery of the newest batch — still stable
      sink.write(batchOf(7), 1L)
      sink.write(batchOf(7), 1L)
      assert(state() == Map(0L -> 100L, 1L -> 7L),
        s"${sink.name}: repeated redelivery changed state")
    }
  }

  test("r21: concurrent commitStaged of one batch — exactly one wins, " +
      "none throws (the ADVICE r20 read-repair race)") {
    import graft.streaming.ParquetStagedSink
    val dir = tmpDir("graft_sink_race")
    val sink = new ParquetStagedSink(s"$dir/p")
    (0L to 3L).foreach { b =>
      sink.stage(batchOf(10), b)
      // two "read-repair" callers race the same staged batch: before
      // the r21 fix both could pass the exists() check and the
      // loser's ATOMIC_MOVE threw NoSuchFileException after the batch
      // had committed
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (1 to 2).map(_ => new Thread(() =>
        try sink.commitStaged(b)
        catch { case t: Throwable => errs.add(t); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(errs.isEmpty, s"racing commit threw: ${errs.peek()}")
    }
    assert(sink.visibleBatches == Seq(0L, 1L, 2L, 3L))
  }

  test("jdbc upsert: merge semantics, replayed old batch cannot regress rows") {
    import spark.implicits._
    val dir = tmpDir("graft_sink_jdbc")
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    val url = s"jdbc:derby:$dir/db;create=true"
    val sink = new JdbcUpsertSink(url, "T_UP", pk = Seq("id"))
    def target(): Map[Long, String] = {
      val p = new java.util.Properties()
      p.put("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      spark.read.jdbc(url, "T_UP", p).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val a = Seq((1L, "a"), (2L, "a")).toDF("id", "payload")
    val b = Seq((2L, "b"), (3L, "c")).toDF("id", "payload")
    sink.write(a, 0L)
    assert(target() == Map(1L -> "a", 2L -> "a"))
    sink.write(b, 1L)
    assert(target() == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // crash-redelivery of the OLD batch 0 after batch 1 was applied:
    // the batchId replay check must skip it — 2 stays "b"
    sink.write(a, 0L)
    assert(target() == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // a batch with duplicate pk rows reduces to ONE deterministic
    // final image per key (greatest non-pk tuple)
    val dup = Seq((4L, "x"), (4L, "z"), (4L, "y")).toDF("id", "payload")
    sink.write(dup, 2L)
    assert(target()(4L) == "z")
  }

  test("routed fan-out: each subscriber receives exactly its filtered/projected slice") {
    val dir = tmpDir("graft_sink_routed")
    Tables.configure(spark)
    val clicks = new MemorySink("clicks")
    val purchases = new MemorySink("purchases")
    val routes = Seq(
      EventStreams.Route(clicks, col("event_type") === "click",
        columns = Seq("event_id", "user_id")),
      EventStreams.Route(purchases, col("event_type") === "purchase"))
    val stream = EventStreams.readEventStream(spark, sf001)
      .select("event_id", "user_id", "event_type", "value")
    val q = EventStreams.fanOutRouted(stream, routes, s"$dir/ckpt")
    q.processAllAvailable()
    q.stop()
    val ev = Tables.events(spark, sf001)
    // clicks subscriber: filtered AND column-pruned
    val wantClicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id").orderBy("event_id").collect().toSeq
    val gotClicks = clicks.batches.values.flatten.toSeq.sortBy(_.getLong(0))
    assert(gotClicks == wantClicks)
    assert(gotClicks.nonEmpty && gotClicks.head.length == 2)
    // purchases subscriber: full-width rows of its slice only
    val wantBuys = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id").collect().toSeq
    val gotBuys = purchases.batches.values.flatten.toSeq.sortBy(_.getLong(0))
    assert(gotBuys == wantBuys)
    assert(gotBuys.forall(_.getString(2) == "purchase"))
  }

  test("fan-out through the trait: heterogeneous sinks see identical batches") {
    val dir = tmpDir("graft_sink_fanout")
    Tables.configure(spark)
    val mem = new MemorySink("mem")
    val sinks: Seq[Sink] = Seq(new ParquetDirSink(s"$dir/pq"), mem)
    val stream = EventStreams.readEventStream(spark, sf001)
      .select("event_id", "user_id", "event_type")
    val q = EventStreams.fanOutTo(stream, sinks, s"$dir/ckpt")
    q.processAllAvailable()
    q.stop()
    val n = Tables.events(spark, sf001).count()
    val pqRows = spark.read.parquet(s"$dir/pq/batch_0")
      .orderBy("event_id").collect().toSeq
    val memRows = mem.batches(0L)
      .sortBy(_.getLong(0)).toSeq
    assert(pqRows.size.toLong == n)
    assert(pqRows == memRows)
  }

  test("avro wire publisher: decode∘publish ≡ the batch; idempotent per batchId") {
    import graft.ops.AvroWire
    import graft.streaming.AvroWireSink
    val dir = tmpDir("graft_wiresink")
    val sink = new AvroWireSink(s"$dir/wire")
    val env = AvroWire.flatEnvelope(Tables.events(spark, sf001))
    val src = env.collect().sortBy(_.position).toSeq
    sink.write(env.toDF(), 0L)
    sink.write(env.toDF(), 0L) // redelivery: overwrite, not append
    val published = spark.read.parquet(s"$dir/wire/batch_0")
    assert(published.count() == src.size)
    // a consumer decodes the published wire log back to the envelope
    val decoded = AvroWire.fromAvroBytes(published)
      .collect().sortBy(_.position).toSeq
    assert(decoded == src, "published wire bytes did not decode to the batch")
    // and the evolved consumer reads the SAME published log
    val v2 = AvroWire.fromAvroBytesEvolved(published)
      .collect().sortBy(_.position).toSeq
    assert(v2.size == src.size && v2.forall(_.source == "binlog"))
  }

  test("2pc fan-out: crash between stage and decision leaves NO sink " +
      "showing the batch; redelivery commits everywhere") {
    import graft.streaming.{ParquetStagedSink, TwoPhaseFanOut}
    val dir = tmpDir("graft_2pc_abort")
    val a = new ParquetStagedSink(s"$dir/a")
    val b = new ParquetStagedSink(s"$dir/b")
    val coord = new TwoPhaseFanOut(s"$dir/log", Seq(a, b))
    val batch = batchOf(50)
    // PLANTED CRASH: phase 1 completes on both sinks, the process
    // dies before the decision marker lands
    coord.stageAll(batch, 0L)
    assert(!coord.committed(0L))
    assert(a.visibleBatches.isEmpty && b.visibleBatches.isEmpty,
      "staged data leaked into a committed view")
    assert(coord.readCommitted(spark, a, 0L).isEmpty)
    assert(coord.readCommitted(spark, b, 0L).isEmpty)
    // restart: presumed abort discards staging...
    val coord2 = new TwoPhaseFanOut(s"$dir/log", Seq(a, b))
    coord2.recover(Seq(0L))
    assert(a.visibleBatches.isEmpty && b.visibleBatches.isEmpty)
    // ...and the stream redelivers batch 0, which now commits whole
    coord2.fanOut(batch, 0L)
    assert(a.visibleBatches == Seq(0L) && b.visibleBatches == Seq(0L))
    assert(coord2.readCommitted(spark, a, 0L).get.count() == 50L)
    assert(coord2.readCommitted(spark, b, 0L).get.count() == 50L)
  }

  test("2pc fan-out: crash after decision mid-commit — a coordinated " +
      "reader NEVER sees a partial cross-sink batch; recovery converges") {
    import graft.streaming.{ParquetStagedSink, TwoPhaseFanOut}
    val dir = tmpDir("graft_2pc_forward")
    val a = new ParquetStagedSink(s"$dir/a")
    val b = new ParquetStagedSink(s"$dir/b")
    val coord = new TwoPhaseFanOut(s"$dir/log", Seq(a, b))
    val batch = batchOf(40)
    // PLANTED CRASH: decision recorded, sink A rolled forward, the
    // process dies before sink B's flip
    coord.stageAll(batch, 0L)
    coord.decide(0L)
    a.commitStaged(0L)
    assert(a.visibleBatches == Seq(0L) && b.visibleBatches.isEmpty,
      "test precondition: direct views diverge at the crash point")
    // the atomicity contract: BOTH coordinated reads return the whole
    // batch (read repair rolls B forward on first touch)
    assert(coord.readCommitted(spark, a, 0L).get.count() == 40L)
    assert(coord.readCommitted(spark, b, 0L).get.count() == 40L)
    assert(b.visibleBatches == Seq(0L), "read repair did not roll B forward")
    // a fresh coordinator's recovery is a no-op on the converged state
    val coord2 = new TwoPhaseFanOut(s"$dir/log", Seq(a, b))
    coord2.recover(Seq(0L))
    assert(a.visibleBatches == Seq(0L) && b.visibleBatches == Seq(0L))
    // and full-protocol redelivery of the decided batch stays stable
    coord2.fanOut(batch, 0L)
    assert(spark.read.parquet(s"$dir/a/committed/batch_0").count() == 40L)
    assert(spark.read.parquet(s"$dir/b/committed/batch_0").count() == 40L)
  }

  test("2pc fan-out: streaming attach delivers every micro-batch " +
      "atomically across sinks; fanOut is redelivery-idempotent") {
    import graft.streaming.{ParquetStagedSink, TwoPhaseFanOut}
    val dir = tmpDir("graft_2pc_stream")
    val a = new ParquetStagedSink(s"$dir/a")
    val b = new ParquetStagedSink(s"$dir/b")
    val coord = new TwoPhaseFanOut(s"$dir/log", Seq(a, b))
    val src = EventStreams.readEventStream(spark, sf001)
      .select(col("event_id").as("id"), col("event_type").as("payload"))
    val q = coord.attach(src, s"$dir/ckpt")
    q.processAllAvailable(); q.stop()
    val n = Tables.events(spark, sf001).count()
    assert(a.visibleBatches == b.visibleBatches && a.visibleBatches.nonEmpty)
    val aRows = a.visibleBatches.map(bid =>
      coord.readCommitted(spark, a, bid).get.count()).sum
    val bRows = b.visibleBatches.map(bid =>
      coord.readCommitted(spark, b, bid).get.count()).sum
    assert(aRows == n && bRows == n)
    // redelivery of an already-decided batch through the full round
    coord.fanOut(batchOf(1), a.visibleBatches.head)
    assert(coord.readCommitted(spark, a, a.visibleBatches.head).get.count() +
      coord.readCommitted(spark, b, b.visibleBatches.head).get.count() ==
      2 * spark.read.parquet(s"$dir/a/committed/batch_${a.visibleBatches.head}")
        .count(), "redelivered decided batch was re-staged")
  }
}
