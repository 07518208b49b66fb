package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark harness. run.py builds it, launches it once per run
  * and turns the result file it writes into the benchmark's last line.
  *
  * Every workload has a batch half (a closed loop running a query set
  * to full results) and a broadcast half (one fan-out pipeline fed by
  * an open-loop generator), so that each run reports every end-to-end
  * metric:
  *  - `registry`: a fixed sample of the registry on the small corpus.
  *    Queries take tenths of a second, so per-job scheduling, DataFrame
  *    construction and planning dominate. The routed fan-out gets 5k
  *    events/s.
  *  - `soak_x8`: two of `graft.Soak`'s queries on its 8x corpus of
  *    the same data, where scans, shuffles and kernels dominate. The
  *    two-phase fan-out gets 10k events/s.
  * Each rate keeps its pipeline at or below a sixth of its drain rate:
  * nearer half, a slower moment of the host makes batches and triggers
  * grow together, and lag spreads far more between runs.
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 0, seconds: Double = 10,
      trace: Boolean = false, data: String = "", work: String = "", out: String = "",
      queries: Option[Seq[String]] = None, plant: Option[String] = None,
      rankPasses: Int = 0)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case Nil => acc
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, acc.copy(data = v))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--out" :: v :: t => parse(t, acc.copy(out = v))
    case "--queries" :: v :: t => parse(t, acc.copy(queries = Some(v.split(",").toSeq)))
    case "--plant" :: v :: t => parse(t, acc.copy(plant = Some(v)))
    case "--rank" :: v :: t => parse(t, acc.copy(rankPasses = v.toInt))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  /** The `registry` workload's queries: one from each of the five
    * largest OpModules (EventOps, LlmOps, Aggs, Joins, Windows) and one
    * from Functions, each half a second or less on the small corpus.
    * `fn_json` is among the leaders of the full-result ranking on the
    * large corpus, `agg_hash_group` (TPC-H Q1) moves most between
    * `count()` and the full result, and `llm_dedup_jaccard` builds a
    * session memo, so set-up and cache size are exercised. A run is too
    * short for the whole registry (about 160 s a pass on this corpus). */
  val RegistrySample: Seq[String] = Seq(
    "stream_envelope", "llm_dedup_jaccard", "agg_hash_group", "join_semi", "win_ntile",
    "fn_json")

  /** The `soak_x8` workload's queries: `graft.Soak`'s shingle-posting
    * and fact-table-join families, the two that move the most data. */
  val SoakSample: Seq[String] = Seq(
    "llm_dedup_jaccard", "join_star_multiway")

  /** Queries that write fixtures under a fixed system temp path, outside
    * the run directory; no workload runs them. */
  val WritesOutside: Set[String] = Set(
    "scan_partitioned", "scan_schema_evolution", "scan_csv", "scan_json", "scan_text",
    "scan_csv_malformed", "scan_xml", "scan_dsv2", "scan_dsv2_roundtrip", "scan_orc",
    "scan_jdbc", "scan_binaryfile", "scan_avro", "join_bucketed", "layout_compact",
    "cdc_binlog_roundtrip")

  final case class Workload(data: String, keys: Seq[String], pipeline: String, rate: Int,
      backlog: Int)

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.data.nonEmpty && a.work.nonEmpty, "--data and --work are required")
    val spark = session(a.work)
    try {
      if (a.rankPasses > 0) Rank.run(spark, a)
      else {
        val result = new Run(spark, a).execute()
        java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), Json(result))
      }
    } finally spark.stop()
  }
}

/** What one timed stretch of a run measured, in one mode (traced or
  * untraced): its query passes and its pipeline runs. */
final case class Measured(passes: Seq[Seq[QueryRun]], cacheRdds: Int, cacheMb: Double,
    streams: Seq[StreamOutcome]) {
  def lags: Array[Double] = streams.flatMap(_.lags).toArray
  def lagQuantile(q: Double): Double = Stats.quantileInPlace(lags, q)
  def drainEps: Double = streams.map(_.backlog).sum / streams.map(_.drainS).sum
}

/** One benchmark run of one workload. */
class Run(spark: SparkSession, a: Main.Args) {
  import Main._
  private val rng = new scala.util.Random(a.seed)
  private val cpus = spark.sparkContext.defaultParallelism
  private val reps = 3
  private val minPasses = 3
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var failed = 0L
  private val notes = mutable.LinkedHashMap[String, Any]()

  private def log(s: String): Unit = System.err.println(f"[perfbench] ${(System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%6.1fs $s")

  private def workload(): Workload = a.workload match {
    case "registry" =>
      Workload(a.data, a.queries.getOrElse(RegistrySample), "routed", 5000, 100000)
    case "soak_x8" =>
      val t0 = System.nanoTime()
      val dir = Registry.soakCorpus(spark, a.data, s"${a.work}/soak", 8)
      notes("soak_corpus_s") = (System.nanoTime() - t0) / 1e9
      Workload(dir, a.queries.getOrElse(SoakSample), "twopc", 10000, 60000)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def storage(): (Int, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  private def recordRuns(rs: Seq[QueryRun]): Unit = rs.foreach { r =>
    attempted += 1
    if (r.error.nonEmpty) { failed += 1; failures += s"${r.key}: ${r.error.get}" }
  }

  private def recordStream(o: StreamOutcome): Unit = {
    attempted += o.offered
    failed += o.failures.size
    failures ++= o.failures
  }

  /** The feed the broadcast half replays: the data's events, in
    * position order. */
  private def feed(data: String): Array[Ev] = {
    import spark.implicits._
    graft.Tables.events(spark, data)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("event_id").as[Ev].collect()
  }

  /** The timed work. Untraced, every pass and one pipeline run are
    * untraced. Traced, untraced and traced stretches alternate in the
    * order U T T U, so both modes get the same warm-up: query passes
    * (the listener is attached only for traced passes), then four
    * pipeline runs with half the unmeasured and measured open-loop time
    * and half the backlog each.
    * Returns the untraced and, when traced, the traced measurements. */
  private def measure(s: SparkSession, sweep: QuerySweep, bc: Broadcast, w: Workload,
      trace: Option[(BatchTrace, StreamTrace)]): (Measured, Option[Measured]) = {
    val batchS = a.seconds * 0.4
    val warmS = a.seconds * 0.15
    val openS = a.seconds * 0.5
    def tracedAt(i: Int) = trace.nonEmpty && (i % 4 == 1 || i % 4 == 2)
    val minN = if (trace.isEmpty) minPasses else 4
    val passes = mutable.ArrayBuffer[(Boolean, Seq[QueryRun])]()
    val t0 = System.nanoTime()
    while (passes.size < minN || (System.nanoTime() - t0) / 1e9 < batchS ||
        (trace.nonEmpty && passes.size % 4 != 0)) {
      val traced = tracedAt(passes.size)
      val order = rng.shuffle(sweep.keys)
      passes += traced -> (trace match {
        case Some((bt, _)) if traced =>
          bt.attach()
          try sweep.pass(s, order, traced = true) finally {
            if (!bt.settle())
              System.err.println("[perfbench] trace incomplete: some executions were not reported")
            bt.detach()
          }
        case _ => sweep.pass(s, order)
      })
    }
    val (nRdd, mb) = storage()
    log(f"${passes.size} passes in ${(System.nanoTime() - t0) / 1e9}%.2fs")
    val streams = trace match {
      case None => Seq(false -> bc.run(w.pipeline, "run", warmS, openS, w.backlog, verify = true))
      case Some((_, st)) => (0 until 4).map { i =>
        val traced = tracedAt(i)
        if (traced) spark.streams.addListener(st)
        try traced -> bc.run(w.pipeline, s"run$i", warmS / 2, openS / 2, w.backlog / 2,
          verify = !traced)
        finally if (traced) spark.streams.removeListener(st)
      }
    }
    log(f"${w.pipeline} done at ${(System.nanoTime() - t0) / 1e9}%.2fs")
    def of(traced: Boolean) = Measured(passes.collect { case (`traced`, p) => p }.toSeq,
      nRdd, mb, streams.collect { case (`traced`, o) => o })
    (of(false), trace.map(_ => of(true)))
  }

  private def perQuery(passes: Seq[Seq[QueryRun]]): Map[String, Seq[Double]] =
    passes.flatten.filter(_.error.isEmpty).groupBy(_.key).map { case (k, v) => k -> v.map(_.totalS) }

  private def endToEnd(m: Measured, setup: Seq[Double]): Map[String, Metric] = {
    val pq = perQuery(m.passes)
    val med = pq.values.map(Stats.median).toSeq
    val n = m.passes.map(_.size).sum.toLong
    Map(
      "sweep_s" -> Metric(med.sum, "s", n),
      "query_geomean_s" -> Metric(Stats.geomean(med), "s", n),
      "setup_s" -> Metric(Stats.median(setup), "s", setup.size),
      "cache_mb" -> Metric(m.cacheMb, "MB", m.cacheRdds),
      "lag_p50_s" -> Metric(m.lagQuantile(0.5), "s", m.lags.length),
      "drain_eps" -> Metric(m.drainEps, "1/s", m.streams.map(_.backlog.toLong).sum))
  }

  def execute(): Map[String, Any] = {
    log("session up")
    val w = workload()
    Registry.guard(w.keys)
    val sweep = new QuerySweep(w.data, w.keys)
    val start = rng.nextInt(1 << 20)
    val events = feed(w.data)
    val bc = new Broadcast(spark, events, start % events.length, s"${a.work}/stream", w.rate)
    log(s"${a.workload}: ${w.keys.size} queries on ${w.data}, feed of ${events.length} " +
      s"events from offset ${start % events.length} at ${w.rate}/s")

    // Set-up, repeated: each repetition drops every cached relation,
    // starts a fresh session, runs every query once to its full result
    // there (DataFrame construction, session-memo builds, first
    // execution and its code generation), and starts, primes and stops
    // the pipeline. The timed work uses the last session.
    var s = spark
    val setup = mutable.ArrayBuffer[Double]()
    var coldRuns: Seq[QueryRun] = Nil
    var memoBuilds = 0
    for (r <- 0 until reps) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      s = spark.newSession()
      coldRuns = sweep.pass(s, rng.shuffle(w.keys))
      val t1 = System.nanoTime()
      bc.warm(w.pipeline, s"warm$r")
      setup += (System.nanoTime() - t0) / 1e9
      memoBuilds = storage()._1
      recordRuns(coldRuns)
      log(f"set-up $r: ${setup.last}%.2fs (queries ${(t1 - t0) / 1e9}%.2fs)")
    }

    val trace = if (a.trace) Some((new BatchTrace(s), new StreamTrace)) else None
    val (m, traced) = measure(s, sweep, bc, w, trace)
    (m.passes ++ traced.toSeq.flatMap(_.passes)).foreach(recordRuns)
    (m.streams ++ traced.toSeq.flatMap(_.streams)).foreach(recordStream)
    val e2e = endToEnd(m, setup.toSeq)

    // output check, outside the timed work
    val checkDir = s"${a.work}/check"
    val (badQ, oracles) = sweep.check(s, checkDir, a.plant)
    attempted += w.keys.size
    failed += badQ.size
    failures ++= badQ.map(k => s"$k: result differs between repetitions")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
      Json(oracles))

    log("output check done")
    val pq = perQuery(m.passes)
    val queries = pq.map { case (k, v) =>
      k -> Map("median_s" -> Stats.median(v), "max_s" -> v.max, "min_s" -> v.min,
        "n" -> v.size, "module" -> Registry.moduleOf(k))
    }
    val layers = (trace, traced) match {
      case (Some((bt, st)), Some(t)) =>
        new Layers(s, m, t, e2e, endToEnd(t, setup.toSeq), coldRuns, memoBuilds, cpus, bt, st)
          .compute()
      case _ => Map.empty[String, Metric]
    }

    val first = m.streams.head
    notes("setup_reps_s") = setup.toSeq
    notes("setup_build_s") = coldRuns.map(r => r.key -> r.buildS).toMap
    // the tail is reported, but a few slow triggers set it, so it
    // spreads too much between runs to be bounded (README, Noise)
    notes("lag_p99_s") = m.lagQuantile(0.99)
    notes("prime_s") = first.primeS
    notes("first_timed_batch") = first.openProgress.map(_.batchId).min
    notes("open_batches") = first.openProgress.map(p =>
      Seq(p.numInputRows.toDouble, p.durationMs.getOrDefault("triggerExecution", 0L).toDouble))
    notes("source_partitions") = first.partitions.toSeq.sorted
    notes("passes") = m.passes.size
    notes("feed_start") = start % events.length
    Map(
      "workload" -> a.workload,
      "metrics" -> e2e.map { case (k, v) => k -> v.json },
      "layers" -> layers.map { case (k, v) => k -> v.json },
      "queries" -> queries,
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.take(50).toSeq,
      "data" -> w.data,
      "check_dir" -> checkDir,
      "oracle_keys" -> oracles.keys.toSeq.sorted,
      "notes" -> notes)
  }
}
