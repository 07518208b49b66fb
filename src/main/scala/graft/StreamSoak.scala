package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming-path throughput soak: drives the real `readStream →
  * transformWithState / foreachBatch fan-out` micro-batch machinery
  * over the [[Soak]]-scaled event corpora and reports events/sec,
  * micro-batch latency, and state-store size at each volume.
  *
  * Pipelines (the meepo surface, heaviest first):
  *  - `fanout_routed`   — envelope → 4 subscribed consumers
  *    (op-sliced ParquetDirSinks) through [[EventStreams.fanOutRouted]]:
  *    the broadcast core; persist-once, N sink writes per batch.
  *  - `cdc_envelope`    — [[EventStreams.cdcEnvelopeStream]]: per-key
  *    ValueState carrying before-images (the binlog-consumer shape).
  *  - `session_timer`   — [[graft.streaming.StatefulProcessors
  *    .sessionsWithTimers]]: event-time timers + per-key session state.
  *  - `scd2`            — [[EventStreams.buildScd2Stream]]: per-key
  *    open-version state, update-mode emissions. Runs SINGLE-trigger:
  *    the processor fail-fasts on cross-batch per-key ts misorder (its
  *    documented precondition — a real feed delivers per-key in order,
  *    the scaled corpus' file split does not), so its number is
  *    whole-corpus throughput; the cross-batch path is covered by the
  *    planted crash-resume specs.
  *
  * Method notes:
  *  - multi-trigger pipelines read with maxFilesPerTrigger=8 (the
  *    scaled corpora are 32-file directories → 4 micro-batches; the
  *    1× base is a single file → 1 batch), so per-batch latency and
  *    cross-batch state carry are really exercised;
  *  - wall time spans query start → processAllAvailable, so each
  *    figure carries one query-startup cost (~1 s) — disclosed rather
  *    than subtracted; events/sec at the top scale is the honest
  *    steady-state figure;
  *  - state rows come from the last progress' stateOperators totals
  *    (RocksDB); watermark for the timer pipeline is 1 hour — the
  *    production-ish point where timers actually fire batch-over-batch.
  *
  * Output: one JSON report (SPARK_GRAFT_SOAK_OUT, default
  * SOAK_STREAM_LOCAL.json) with per-pipeline events/sec, batch
  * latency, state rows, and wall-clock α exponents between scale
  * points — committed captures live in soak/ and are indexed in
  * SCALE.md like every batch soak.
  */
object StreamSoak {
  import graft.streaming.{EventStreams, StatefulProcessors, ParquetDirSink}

  private case class RunStats(events: Long, wallS: Double, nBatches: Int,
      meanBatchMs: Double, maxBatchMs: Double, stateRows: Long,
      outRows: Long)

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "/tmp/graft_soak"
    val scales = if (args.length > 2) args(2).split(",").map(_.toInt).toSeq
      else Seq(1, 8, 64)
    val pipelines = if (args.length > 3) args(3).split(",").toSeq
      else Seq("fanout_routed", "fanout_2pc", "cdc_envelope",
        "session_timer", "scd2")
    Harness.session { spark =>
      // one state store provider for every transformWithState pipeline
      // (and its checkpoint) of the soak session
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import spark.implicits._

      scales.foreach(k => Soak.ensureScaled(spark, base, work, k))

      val scratch = s"$work/stream_soak"
      def freshDir(tag: String): String = {
        val p = s"$scratch/$tag"
        Memo.deleteTree(p)
        new java.io.File(p).mkdirs()
        p
      }

      /** Bounded stream over a soak corpus dir — readEventStream's
        * schema-probe + ts-normalization, plus a files-per-trigger cap
        * so the run spans several micro-batches. */
      def eventStream(dir: String, maxFiles: Option[Int]): DataFrame = {
        Tables.configure(spark)
        val fileSchema = spark.read.parquet(s"$dir/events.parquet").schema
        val rd = spark.readStream.schema(fileSchema)
        val capped = maxFiles.fold(rd)(n => rd.option("maxFilesPerTrigger", n))
        Tables.normalizeEventTs(capped.parquet(s"$dir/events.parque[t]"))
      }

      def run(tag: String, nEvents: Long,
          build: String => StreamingQuery): RunStats = {
        val ckpt = freshDir(s"${tag}_ckpt")
        val t0 = System.nanoTime()
        val q = build(ckpt)
        try q.processAllAvailable() finally q.stop()
        val wall = (System.nanoTime() - t0) / 1e9
        val prog = q.recentProgress.filter(_.numInputRows > 0)
        val batchMs = prog.map(_.durationMs.get("triggerExecution").toDouble)
        val stateRows = q.lastProgress match {
          case null => 0L
          case lp => lp.stateOperators.map(_.numRowsTotal).sum
        }
        val outRows = prog.map(_.sink.numOutputRows).filter(_ >= 0).sum
        RunStats(nEvents, wall, prog.length,
          if (batchMs.isEmpty) 0.0 else batchMs.sum / batchMs.length,
          if (batchMs.isEmpty) 0.0 else batchMs.max, stateRows, outRows)
      }

      val results = scala.collection.mutable.LinkedHashMap[
        (String, Int), RunStats]()

      scales.foreach { k =>
        val dir = Soak.dirFor(base, work, k)
        val nEvents = spark.read.parquet(s"$dir/events.parquet").count()

        pipelines.foreach { p =>
          val stats = p match {
            case "fanout_routed" =>
              // 4 subscribed consumers over the envelope feed: the I/D
              // slices, a projected U slice, and a full-feed archive —
              // the meepo routing surface; each batch persists once and
              // writes 4 sinks from the cached copy
              val sinkDirs = (0 until 4).map(i => freshDir(s"fan_${k}_$i"))
              run("fanout", nEvents, ckpt => {
                val env = EventStreams.envelope(eventStream(dir, Some(8)))
                EventStreams.fanOutRouted(env, Seq(
                  EventStreams.Route(new ParquetDirSink(sinkDirs(0)),
                    col("op") === "I"),
                  EventStreams.Route(new ParquetDirSink(sinkDirs(1)),
                    col("op") === "D"),
                  EventStreams.Route(new ParquetDirSink(sinkDirs(2)),
                    col("op") === "U", Seq("position", "pk", "ts")),
                  EventStreams.Route(new ParquetDirSink(sinkDirs(3)),
                    lit(true))), ckpt)
              })
            case "fanout_2pc" =>
              // the cross-sink ATOMIC fan-out over the same envelope
              // feed: 2 staged parquet sinks + the decision log — its
              // delta vs fanout_routed is the measured price of
              // cross-sink atomicity (stage dir + rename + marker per
              // batch per sink)
              val roots = (0 until 2).map(i => freshDir(s"fan2pc_${k}_$i"))
              val log2pc = freshDir(s"fan2pc_${k}_log")
              run("fan2pc", nEvents, ckpt => {
                val env = EventStreams.envelope(eventStream(dir, Some(8)))
                new graft.streaming.TwoPhaseFanOut(log2pc,
                  roots.map(new graft.streaming.ParquetStagedSink(_)))
                  .attach(env, ckpt)
              })
            case "cdc_envelope" =>
              run("cdcenv", nEvents, ckpt =>
                EventStreams.cdcEnvelopeStream(
                  EventStreams.toFoldEvents(eventStream(dir, Some(8))))
                  .toDF().writeStream.outputMode("append")
                  .option("checkpointLocation", ckpt)
                  .format("noop").start())
            case "session_timer" =>
              run("sess", nEvents, ckpt => {
                val timed = eventStream(dir, Some(8))
                  .select(col("event_id"), col("user_id"), col("ts"),
                    col("event_type"), col("value"))
                  .as[StatefulProcessors.TimedEvent]
                  .withWatermark("ts", "1 hour")
                StatefulProcessors.sessionsWithTimers(timed)
                  .toDF().writeStream.outputMode("append")
                  .option("checkpointLocation", ckpt)
                  .format("noop").start()
              })
            case "scd2" =>
              // single trigger: per-key cross-batch ts order is the
              // processor's documented precondition (see scaladoc above)
              run("scd2", nEvents, ckpt =>
                EventStreams.buildScd2Stream(
                  EventStreams.toFoldEvents(eventStream(dir, None)))
                  .toDF().writeStream.outputMode("update")
                  .option("checkpointLocation", ckpt)
                  .format("noop").start())
            case other =>
              throw new IllegalArgumentException(s"unknown pipeline $other")
          }
          results((p, k)) = stats
          println(f"[stream-soak] $p%-14s x$k%-3d ${stats.events}%9d ev " +
            f"${stats.wallS}%7.2fs ${stats.events / stats.wallS}%10.0f ev/s " +
            f"batches=${stats.nBatches}%2d mean=${stats.meanBatchMs}%7.0fms " +
            f"max=${stats.maxBatchMs}%7.0fms state=${stats.stateRows}%8d " +
            f"out=${stats.outRows}%9d")
        }
      }

      val report = ListMap("scales" -> scales, "pipelines" -> ListMap(pipelines.map { p =>
        val pts = scales.map(k => k -> results((p, k)))
        def each(f: RunStats => Any) = pts.map(x => f(x._2))
        p -> ListMap(
          "events" -> each(_.events),
          "wall_s" -> each(s => Harness.round(s.wallS, 2)),
          "events_per_s" -> each(s => Harness.round(s.events / s.wallS, 0)),
          "n_batches" -> each(_.nBatches),
          "mean_batch_ms" -> each(s => Harness.round(s.meanBatchMs, 0)),
          "max_batch_ms" -> each(s => Harness.round(s.maxBatchMs, 0)),
          "state_rows" -> each(_.stateRows),
          "out_rows" -> each(_.outRows),
          "alpha_wall" -> Soak.alphas(pts.map(x => x._1 -> x._2.wallS)))
      }: _*))
      val out = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "SOAK_STREAM_LOCAL.json")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Harness.json(report))
      println(s"[stream-soak] report -> $out")
      true
    }
  }
}
