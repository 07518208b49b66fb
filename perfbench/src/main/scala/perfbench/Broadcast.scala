package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.{EventStreams, ParquetDirSink, ParquetStagedSink, Sink,
  StagedSink, TwoPhaseFanOut}

/** One change-feed event, in the columns of the `events` table. */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

final case class Span(kind: String, sink: String, batchId: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Driver-side span log the sink wrappers append to. While `probe` is
  * set the wrappers also record each batch's partition count. */
final class Spans extends Serializable {
  @volatile var probe = false
  private val q = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val partitions = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  def sawPartitions(batch: org.apache.spark.sql.DataFrame): Unit =
    if (probe) { partitions.add(batch.rdd.getNumPartitions); () }
  def time[A](kind: String, sink: String, batchId: Long)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally q.add(Span(kind, sink, batchId, t0, System.nanoTime()))
  }
  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; q.asScala.toSeq }
}

/** Times `write` of any sink. */
final class TimedSink(inner: Sink, spans: Spans) extends Sink {
  override def name: String = inner.name
  override def write(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
    spans.sawPartitions(batch)
    spans.time("write", name, batchId)(inner.write(batch, batchId))
  }
}

/** Times both phases of a staged sink. */
final class TimedStagedSink(inner: StagedSink, spans: Spans) extends StagedSink {
  override def name: String = inner.name
  override def stage(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
    spans.sawPartitions(batch)
    spans.time("stage", name, batchId)(inner.stage(batch, batchId))
  }
  override def commitStaged(batchId: Long): Unit =
    spans.time("commit", name, batchId)(inner.commitStaged(batchId))
  override def abortStaged(batchId: Long): Unit = inner.abortStaged(batchId)
  override def visibleBatches: Seq[Long] = inner.visibleBatches
}

/** Times the commit decision and the whole per-batch protocol; the
  * end of `fanOut` is when every sink shows the batch. */
final class TimedTwoPhaseFanOut(logDir: String, sinks: Seq[StagedSink], spans: Spans)
    extends TwoPhaseFanOut(logDir, sinks) {
  override def decide(batchId: Long): Unit =
    spans.time("decide", "log", batchId)(super.decide(batchId))
  override def fanOut(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
    spans.time("fanout", "2pc", batchId)(super.fanOut(batch, batchId))
}

/** What one pipeline run measured. `lags` holds one entry per event
  * offered in the measured part of the open-loop phase (source offsets
  * `warmChunks + 1` to `openChunks`). */
final case class StreamOutcome(kind: String, lags: Array[Double], backlog: Int,
    drainS: Double, lateMs: Array[Double], backlogMax: Long, primeS: Double,
    progress: Seq[StreamingQueryProgress], spans: Seq[Span], offered: Long,
    warmChunks: Int, openChunks: Int, partitions: Set[Int], failures: Seq[String]) {
  /** Progress of the batches that carried measured open-loop offers. */
  def openProgress: Seq[StreamingQueryProgress] =
    progress.filter { p =>
      p.numInputRows > 0 && p.sources.nonEmpty && p.sources(0).endOffset != null && {
        val e = p.sources(0).endOffset.trim.toLong
        val s = Option(p.sources(0).startOffset).map(_.trim.toLong).getOrElse(-1L)
        e > warmChunks && s < openChunks
      }
    }
}

/** The write path of a workload: one generator offers a position-offset
  * replay of `feed` on a fixed schedule into a 4-partition in-memory
  * source, through either the routed fan-out or the two-phase fan-out,
  * then the pipeline drains a fixed backlog in a closed loop.
  *
  * The source has a fixed partition count: the default in-memory
  * stream adds one partition per `addData`, so tasks per sink write
  * would grow with the number of offers in a batch and lag would drift
  * within a run. */
class Broadcast(spark: SparkSession, feed: Array[Ev], start: Int, workDir: String,
    rate: Int, tickMs: Int = 10) {
  require(feed.nonEmpty, "empty event feed")
  private val perTick = rate * tickMs / 1000
  require(perTick > 0, s"rate $rate is below one event per ${tickMs}ms tick")

  /** Event `k` of the replay: a base row, renumbered to position `k`. */
  def ev(k: Long): Ev = feed(((start + k) % feed.length).toInt).copy(event_id = k)

  private def opOf(e: Ev): String = e.event_type match {
    case "signup" => "I"
    case "error" => "D"
    case _ => "U"
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete(); ()
  }

  /** Start `kind`'s pipeline writing under `dir`. Returns the source,
    * the query, and the span kind and sink whose end marks a batch
    * visible to every subscriber. */
  private def start(kind: String, dir: String, spans: Spans) = {
    import spark.implicits._
    val ms = MemoryStream[Ev](spark, 4)
    val env = EventStreams.envelope(ms.toDF())
    val (query, visKind, visSink) = kind match {
      case "routed" =>
        // StreamSoak's four consumers: the I and D slices, a projected
        // U slice and the full archive, which is written last
        val sinks = (0 until 4).map(i => new TimedSink(new ParquetDirSink(s"$dir/sink$i"), spans))
        val q = EventStreams.fanOutRouted(env, Seq(
          EventStreams.Route(sinks(0), col("op") === "I"),
          EventStreams.Route(sinks(1), col("op") === "D"),
          EventStreams.Route(sinks(2), col("op") === "U", Seq("position", "pk", "ts")),
          EventStreams.Route(sinks(3), lit(true))), s"$dir/ckpt")
        (q, "write", sinks(3).name)
      case "twopc" =>
        val sinks = (0 until 2).map(i =>
          new TimedStagedSink(new ParquetStagedSink(s"$dir/sink$i"), spans))
        (new TimedTwoPhaseFanOut(s"$dir/log", sinks, spans).attach(env, s"$dir/ckpt"),
          "fanout", "2pc")
    }
    (ms, query, visKind, visSink)
  }

  private def chunk(i: Int) = (0 until perTick).map(j => ev(i.toLong * perTick + j))

  /** Start the pipeline, process one offer and stop it: set-up that
    * warms the pipeline's code in this JVM, whose first pipeline run is
    * about twice as slow as later ones. Returns the seconds it took. */
  def warm(kind: String, tag: String): Double = {
    val dir = s"$workDir/$tag-$kind"
    rm(new java.io.File(dir))
    val t0 = System.nanoTime()
    val (ms, query, _, _) = start(kind, dir, new Spans)
    try {
      ms.addData(chunk(0))
      query.processAllAvailable()
    } finally query.stop()
    (System.nanoTime() - t0) / 1e9
  }

  /** Run one pipeline: one priming offer, processed before anything
    * is timed (it absorbs the query start and the first trigger); then
    * `warmS + openS` seconds of scheduled offers, of which only the last
    * `openS` are measured (the first trigger after the idle priming
    * batch carries one offer, and trigger times keep falling for a few
    * seconds as the pipeline's code warms); then a backlog of `backlog`
    * events offered at once. */
  def run(kind: String, tag: String, warmS: Double, openS: Double, backlog: Int,
      verify: Boolean): StreamOutcome = {
    val dir = s"$workDir/$tag-$kind"
    rm(new java.io.File(dir))
    val spans = new Spans
    val (ms, query, visKind, visSink) = start(kind, dir, spans)
    // offer i (0 = the priming offer) has source offset i and holds
    // events [i * perTick, (i + 1) * perTick)
    val nWarm = (warmS * 1000 / tickMs).toInt
    val nOpen = math.max(1, (openS * 1000 / tickMs).toInt)
    val nChunks = nWarm + nOpen
    val tickNs = tickMs * 1000000L
    val offerEnd = new Array[Long](nChunks + 1)
    val lateMs = new Array[Double](nOpen)
    var drainS = 0.0
    var primeS = 0.0
    var t0 = 0L
    try {
      spans.probe = true
      val p0 = System.nanoTime()
      ms.addData(chunk(0))
      query.processAllAvailable()
      primeS = (System.nanoTime() - p0) / 1e9
      spans.probe = false
      t0 = System.nanoTime() + 5 * tickNs
      var i = 1
      while (i <= nChunks) {
        val due = t0 + i * tickNs
        var now = System.nanoTime()
        while (now < due) {
          java.util.concurrent.locks.LockSupport.parkNanos(due - now)
          now = System.nanoTime()
        }
        if (i > nWarm) lateMs(i - nWarm - 1) = (now - due) / 1e6
        ms.addData(chunk(i))
        offerEnd(i) = System.nanoTime()
        i += 1
      }
      query.processAllAvailable()
      if (backlog > 0) {
        val first = (nChunks + 1L) * perTick
        val rows = (0 until backlog).map(j => ev(first + j))
        ms.addData(rows)
        val d0 = System.nanoTime()
        query.processAllAvailable()
        drainS = (System.nanoTime() - d0) / 1e9
      }
    } finally query.stop()
    val allSpans = spans.all
    val vis = allSpans.filter(s => s.kind == visKind && s.sink == visSink)
      .map(s => s.batchId -> s.endNs).toMap
    val progress = query.recentProgress.toSeq
    val failures = Seq.newBuilder[String]

    // batch b covers the offsets after its start offset up to its end
    // offset; a measured event's lag runs from when it was due
    def off(s: String): Long = if (s == null) -1L else s.trim.toLong
    val lags = new Array[Double](nOpen * perTick)
    val chunkBatch = Array.fill(nChunks + 1)(-1L)
    var backlogMax = 0L
    var visibleSoFar = 0L
    progress.filter(p => p.numInputRows > 0 && p.sources.nonEmpty)
      .sortBy(_.batchId).foreach { p =>
        val s = p.sources(0)
        val lo = math.max(off(s.startOffset) + 1, 1L)
        val hi = math.min(off(s.endOffset), nChunks.toLong)
        if (off(s.endOffset) == 0) chunkBatch(0) = p.batchId
        if (lo <= hi) {
          vis.get(p.batchId) match {
            case None => failures += s"$kind batch ${p.batchId} has no visibility record"
            case Some(v) =>
              val offeredBefore = offerEnd.count(e => e > 0 && e <= v).toLong * perTick
              backlogMax = math.max(backlogMax, offeredBefore - visibleSoFar)
              var ii = lo
              while (ii <= hi) {
                val i = ii.toInt
                chunkBatch(i) = p.batchId
                var j = 0
                while (i > nWarm && j < perTick) {
                  val k = (i - 1) * perTick + j
                  lags(k - nWarm * perTick) = (v - (t0 + (k + 1) * 1000000000L / rate)) / 1e9
                  j += 1
                }
                ii += 1
              }
              visibleSoFar += (hi - lo + 1) * perTick
          }
        }
      }
    val lost = chunkBatch.count(_ < 0)
    if (lost > 0) failures += s"$kind: $lost offers never reached a visible batch"

    val offered = (nChunks + 1L) * perTick + backlog
    if (verify) failures ++= check(kind, dir, offered)
    StreamOutcome(kind, lags, backlog, drainS, lateMs, backlogMax, primeS, progress,
      allSpans, offered, nWarm, nChunks, { import scala.jdk.CollectionConverters._
        spans.partitions.asScala.toSet }, failures.result())
  }

  /** Exactly-once visibility. Every offered position is visible once in
    * every sink that subscribes to it; the I, D and U slices partition
    * the archive; each visible 2PC batch has its decision marker and
    * no staging is left over. */
  private def check(kind: String, dir: String, offered: Long): Seq[String] = {
    val bad = Seq.newBuilder[String]
    // expected (count, sum, sum of squares) of positions per op
    val exp = scala.collection.mutable.Map[String, (Long, BigInt, BigInt)]()
      .withDefaultValue((0L, BigInt(0), BigInt(0)))
    var k = 0L
    while (k < offered) {
      val o = opOf(ev(k))
      val (n, s, q) = exp(o)
      exp(o) = (n + 1, s + k, q + BigInt(k) * k)
      k += 1
    }
    val all = exp.values.foldLeft((0L, BigInt(0), BigInt(0))) {
      case ((n, s, q), (n2, s2, q2)) => (n + n2, s + s2, q + q2)
    }
    def stats(path: String): (Long, Long, BigInt, BigInt) = {
      val df = spark.read.parquet(path)
      val r = df.agg(count(lit(1)), countDistinct(col("position")),
        sum(col("position").cast("decimal(38,0)")),
        sum((col("position").cast("decimal(38,0)") * col("position"))
          .cast("decimal(38,0)"))).head()
      def big(i: Int) = if (r.isNullAt(i)) BigInt(0) else BigInt(r.getDecimal(i).toBigInteger)
      (r.getLong(0), r.getLong(1), big(2), big(3))
    }
    def expect(what: String, path: String, want: (Long, BigInt, BigInt)): Unit = {
      val (n, distinct, s, q) = stats(path)
      if (n != want._1 || distinct != n || s != want._2 || q != want._3)
        bad += s"$kind $what: $n rows, $distinct distinct positions; want ${want._1} exactly once"
    }
    kind match {
      case "routed" =>
        expect("I slice", s"$dir/sink0/batch_*", exp("I"))
        expect("D slice", s"$dir/sink1/batch_*", exp("D"))
        expect("U slice", s"$dir/sink2/batch_*", exp("U"))
        expect("archive", s"$dir/sink3/batch_*", all)
        Seq("I" -> 0, "D" -> 1).foreach { case (o, i) =>
          val stray = spark.read.parquet(s"$dir/sink$i/batch_*").filter(col("op") =!= o).count()
          if (stray > 0) bad += s"$kind $o slice holds $stray rows of another op"
        }
      case "twopc" =>
        val logD = new java.io.File(s"$dir/log")
        val decided = Option(logD.listFiles()).toSeq.flatten.map(_.getName)
          .collect { case n if n.startsWith("commit_") => n.drop(7).toLong }.toSet
        (0 until 2).foreach { i =>
          val sink = new ParquetStagedSink(s"$dir/sink$i")
          val visible = sink.visibleBatches.toSet
          if (!visible.subsetOf(decided))
            bad += s"$kind sink$i shows undecided batches ${(visible -- decided).mkString(",")}"
          if (visible != decided)
            bad += s"$kind sink$i misses decided batches ${(decided -- visible).mkString(",")}"
          val staging = Option(new java.io.File(s"$dir/sink$i/staging").listFiles())
            .toSeq.flatten.filter(_.getName.startsWith("batch_"))
          if (staging.nonEmpty) bad += s"$kind sink$i left ${staging.size} staged batches"
          expect(s"sink$i", s"$dir/sink$i/committed/batch_*", all)
        }
    }
    bad.result()
  }
}
