package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.FoldEvent
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property-based checks (SURVEY §5.2.4) against tiny generated event
  * logs: the distributed operators must agree with naive in-memory
  * reference implementations for arbitrary inputs, not just the
  * testdata corpus.
  */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSession.spark

  private val genEvent: Gen[FoldEvent] = for {
    id <- Gen.choose(1L, 500L)
    user <- Gen.choose(1L, 5L)
    ts <- Gen.choose(1L, 1000L)
    tpe <- Gen.oneOf("signup", "click", "view", "purchase", "error")
    v <- Gen.choose(-100, 100).map(_ / 4.0)
  } yield FoldEvent(id, user, ts * 1000000L, tpe, v)

  /** unique event_ids (the position key) */
  private val genLog: Gen[List[FoldEvent]] =
    Gen.listOfN(40, genEvent).map(_.groupBy(_.event_id).map(_._2.head).toList)

  private def toEventsDf(log: List[FoldEvent]) = {
    val s = spark
    import s.implicits._
    log.toDF()
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
  }

  property("cdc_apply_upsert == in-memory last-write-wins fold") =
    Prop.forAll(genLog) { log =>
      val got = EventStreams.cdcApplyUpsert(toEventsDf(log))
        .select("user_id", "last_position").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = log.groupBy(_.user_id).flatMap { case (u, evs) =>
        val last = evs.maxBy(e => (e.ts_us, e.event_id))
        if (last.event_type == "error") None // op=D → key removed
        else Some((u, last.event_id))
      }.toSet
      got == expected
    }

  property("stateful fold == naive per-key fold") =
    Prop.forAll(genLog) { log =>
      val s = spark
      import s.implicits._
      val got = EventStreams.statefulFold(log.toDS())
        .collect().map(f => (f.user_id, f.n_events,
          math.round(f.balance * 1e6), f.last_seen_us)).toSet
      val expected = log.groupBy(_.user_id).map { case (u, evs) =>
        (u, evs.size.toLong,
          math.round(evs.map(_.value).sum * 1e6),
          evs.map(_.ts_us).max)
      }.toSet
      got == expected
    }

  property("dedup by position is idempotent and keeps one row per id") =
    Prop.forAll(genLog) { log =>
      val df = toEventsDf(log)
      val doubled = df.union(df)
      val once = EventStreams.dedupByPosition(doubled)
      val twice = EventStreams.dedupByPosition(once)
      once.count() == log.size && twice.count() == log.size
    }

  property("native as-of join == in-memory latest-at-or-before reference") =
    Prop.forAll(genLog, genLog) { (le, re) =>
      val s = spark
      import s.implicits._
      // left: events keyed by user with a time; right: "orders" derived
      // from an independent log (key, time, position, payload)
      val left = le.map(e => (e.event_id, e.user_id, e.ts_us))
        .toDF("l_id", "l_key", "l_t")
      val right = re.map(e => (e.user_id, e.ts_us, e.event_id, e.value))
        .toDF("r_key", "r_t", "r_pos", "r_val")
      val got = graft.plans.AsOfJoin
        .asof(left, right, "l_key", "r_key", "l_t", "r_t", "r_pos")
        .select("l_id", "r_pos").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      val byKey = re.groupBy(_.user_id)
      val expected = le.map { l =>
        val m = byKey.getOrElse(l.user_id, Nil)
          .filter(_.ts_us <= l.ts_us)
          .sortBy(e => (e.ts_us, e.event_id))
          .lastOption.map(_.event_id)
        l.event_id -> m
      }.toMap
      got == expected
    }

  property("exceptAll multiplicity: |A\\B|(u) == max(0, a_u - b_u)") =
    Prop.forAll(genLog, genLog) { (la, lb) =>
      val s = spark
      import s.implicits._
      val a = la.map(_.user_id).toDF("user_id")
      val b = lb.map(_.user_id).toDF("user_id")
      val got = a.exceptAll(b).groupBy("user_id").count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val ca = la.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
      val cb = lb.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
      val expected = ca.flatMap { case (u, n) =>
        val d = n - cb.getOrElse(u, 0L)
        if (d > 0) Some(u -> d) else None
      }
      got == expected
    }

  property("jdbc upsert sink: redelivered batch sequences converge to the in-order fold") = {
    // arbitrary 3-batch sequences delivered with crash-redeliveries
    // interleaved (0,1,0,2,1): the replay-marker skip + pk-deduped
    // MERGE must land exactly the state of applying each batch ONCE
    // in first-delivery order, with the greatest value winning per
    // (batch, pk) — the Sink contract under at-least-once delivery
    val genBatch = Gen.listOfN(6, for {
      k <- Gen.choose(1L, 4L)
      v <- Gen.choose(0, 50)
    } yield (k, v))
    Prop.forAll(Gen.listOfN(3, genBatch)) { batches =>
      val s = spark
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_jdbc_prop").toString
      try {
        System.setProperty("derby.stream.error.file", s"$dir/derby.log")
        val url = s"jdbc:derby:$dir/db;create=true"
        val sink = new graft.streaming.JdbcUpsertSink(url, "T_PROP", Seq("id"))
        List(0, 1, 0, 2, 1).foreach(i => sink.write(batches(i).toDF("id", "v"), i.toLong))
        val p = new java.util.Properties()
        p.put("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        val got = spark.read.jdbc(url, "T_PROP", p).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        val want = batches.foldLeft(Map.empty[Long, Int]) { (m, b) =>
          m ++ b.groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).max }
        }
        got == want
      } finally {
        // shut the embedded database down before its files go; Derby
        // reports a clean shutdown as an SQLException
        try java.sql.DriverManager.getConnection(s"jdbc:derby:$dir/db;shutdown=true").close()
        catch { case _: java.sql.SQLException => () }
        Memo.deleteTree(dir)
      }
    }
  }

  property("2pc fan-out: arbitrary crash/redeliver interleavings never " +
      "yield a torn cross-sink view and converge to all-committed") = {
    // each step of a random schedule either crashes the round at a
    // protocol point (after staging / after the decision / mid
    // roll-forward) or completes it; after EVERY step the atomicity
    // invariant must hold for a coordinator-consulting reader —
    // committed(b) false ⇒ NO sink's committed view has b, true ⇒
    // readCommitted returns the WHOLE batch at EVERY sink — and a
    // final clean redelivery converges both direct views.
    import graft.streaming.{ParquetStagedSink, TwoPhaseFanOut}
    val genStep = Gen.oneOf("crash_staged", "crash_decided", "crash_mid",
      "complete", "recover_redeliver")
    Prop.forAll(Gen.listOfN(5, genStep)) { steps =>
      val s = spark
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_2pc_prop").toString
      try {
        val a = new ParquetStagedSink(s"$dir/a")
        val b = new ParquetStagedSink(s"$dir/b")
        val coord = new TwoPhaseFanOut(s"$dir/log", Seq(a, b))
        val batch = Seq((1L, "x"), (2L, "y")).toDF("id", "payload")
        val bid = 0L
        def invariant(): Boolean =
          if (!coord.committed(bid))
            a.visibleBatches.isEmpty && b.visibleBatches.isEmpty
          else
            coord.readCommitted(s, a, bid).exists(_.count() == 2L) &&
              coord.readCommitted(s, b, bid).exists(_.count() == 2L)
        val ok = steps.forall { step =>
          step match {
            case "crash_staged" => if (!coord.committed(bid)) coord.stageAll(batch, bid)
            case "crash_decided" =>
              if (!coord.committed(bid)) { coord.stageAll(batch, bid); coord.decide(bid) }
            case "crash_mid" =>
              if (!coord.committed(bid)) { coord.stageAll(batch, bid); coord.decide(bid) }
              a.commitStaged(bid)
            case "complete" => coord.fanOut(batch, bid)
            case "recover_redeliver" =>
              coord.recover(Seq(bid)); coord.fanOut(batch, bid)
          }
          invariant()
        }
        // final clean redelivery: both DIRECT views converge whole
        coord.fanOut(batch, bid)
        ok && a.visibleBatches == Seq(bid) && b.visibleBatches == Seq(bid) &&
          s.read.parquet(s"$dir/a/committed/batch_0").count() == 2L &&
          s.read.parquet(s"$dir/b/committed/batch_0").count() == 2L
      } finally Memo.deleteTree(dir)
    }
  }

  property("hitsFixedWithHandle == in-memory DECIMAL recursion (oracle arithmetic) on arbitrary graphs") = {
    // the r19 rewrite's risk surface: the Spark chain (per-round
    // persisted frames, co-partitioned joins, literal-max normalizer)
    // must compute EXACTLY the oracle SQL's arithmetic — DECIMAL(38,10)
    // sums, round(x/max, 10) re-quantized per round, round(·, 6)
    // finish — for any graph, not just the trade fixture the hash
    // gate sees. The reference mirrors each Spark step mechanically:
    // exact java BigDecimal sums at scale 10; the double round via
    // BigDecimal.valueOf (Double.toString semantics — what Spark's
    // round(double, n) and double→decimal cast both use).
    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(0, 30)
      es <- Gen.listOfN(n,
        Gen.zip(Gen.choose(1L, 8L), Gen.choose(101L, 106L)))
    } yield es.distinct
    def hubVal(q: Double): java.math.BigDecimal = {
      val r = java.math.BigDecimal.valueOf(q)
        .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue
      java.math.BigDecimal.valueOf(r)
        .setScale(10, java.math.RoundingMode.HALF_UP)
    }
    def reference(edges: List[(Long, Long)], rounds: Int): Map[Long, Double] = {
      if (edges.isEmpty) return Map.empty
      val one = java.math.BigDecimal.ONE.setScale(10)
      var hub: Map[Long, java.math.BigDecimal] =
        edges.map(_._1).distinct.map(_ -> one).toMap
      def sumBy(pairs: List[(Long, java.math.BigDecimal)]) =
        pairs.groupBy(_._1).view.mapValues(
          _.map(_._2).reduce(_ add _)).toMap
      var k = 1
      var auth: Map[Long, Double] = Map.empty
      while (k <= rounds) {
        val a = sumBy(edges.flatMap { case (c, s2) =>
          hub.get(c).map(h => s2 -> h) })
        if (k < rounds) {
          val raw = sumBy(edges.flatMap { case (c, s2) =>
            a.get(s2).map(x => c -> x) })
          val mx = raw.values.max.doubleValue
          hub = raw.view.mapValues(x => hubVal(x.doubleValue / mx)).toMap
        } else {
          val mx = a.values.max.doubleValue
          auth = a.view.mapValues(x =>
            java.math.BigDecimal.valueOf(x.doubleValue / mx)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue).toMap
        }
        k += 1
      }
      auth
    }
    // rounds spans [1, 5]: 5 is the shipped op's production depth —
    // at ≤30 edges the extra rounds are cheap, and stopping at 3
    // would leave the arbitrary-graph arithmetic pin short of the
    // depth the hash gate exercises only on the trade fixture
    Prop.forAll(genEdges, Gen.choose(1, 5)) { (edges, rounds) =>
      val s = spark
      import s.implicits._
      val df = edges.toDF("src", "dst")
      val (out, handles) = ops.GraphOps.hitsFixedWithHandle(df, rounds)
      val got = out.collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      handles.foreach(_.unpersist(blocking = false))
      got == reference(edges, rounds)
    }
  }

  property("window_hashes: (h1,h2) pair equality == w-token window equality") = {
    // the llm_dedup_substring posting key (VectorExprs.WindowHashes):
    // equality of the two-lane 128-bit rolling hash must coincide
    // with equality of the underlying w-token window — ACROSS all
    // window pairs of two documents, including the rolling
    // recurrence's subtract-high-term path (every position past 0).
    // Tiny alphabet + a dropped-prefix twin force genuine equal
    // windows at every offset; any lane-combine bug (the affine-FNV
    // collapse the kernel's comment warns about) shows up as a
    // false positive here, a rolling-update bug as a false negative.
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String
    def wins(ts: List[String], w: Int): Vector[(Long, Long)] = {
      val arr = new GenericArrayData(
        ts.map(t => UTF8String.fromString(t): Any).toArray)
      val out = graft.functions.VectorKernels.windowHashes(arr, w)
      (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 2); (r.getLong(0), r.getLong(1))
      }.toVector
    }
    val genToks = for {
      n <- Gen.choose(0, 24)
      ts <- Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "ba", "aa", "x"))
    } yield ts
    val genCase = Gen.zip(genToks, genToks, Gen.choose(0, 8), Gen.choose(1, 5))
    def holds(ta: List[String], tOther: List[String], k: Int, w: Int): Boolean = {
      // twin shares every window of ta past position k (run overlap)
      val tb = ta.drop(k) ++ tOther
      val (ha, hb) = (wins(ta, w), wins(tb, w))
      val (sa, sb) = (ta.sliding(w).filter(_.size == w).toVector,
        tb.sliding(w).filter(_.size == w).toVector)
      val shapeOk = ha.size == math.max(0, ta.size - w + 1) &&
        hb.size == math.max(0, tb.size - w + 1) &&
        ha.size == sa.size && hb.size == sb.size
      val crossOk = (0 until ha.size).forall(i => (0 until hb.size)
        .forall(j => (ha(i) == hb(j)) == (sa(i) == sb(j))))
      val selfOk = (0 until ha.size).forall(i => (0 until ha.size)
        .forall(j => (ha(i) == ha(j)) == (sa(i) == sa(j))))
      shapeOk && crossOk && selfOk
    }
    // pure-JVM kernel, so unlike the Spark-job properties above the
    // global 8-sample budget is nowhere near enough — batch 200
    // cases per sample (1600 total, ~10⁵ window pairs)
    Prop.forAllNoShrink(Gen.listOfN(200, genCase)) { cases =>
      cases.forall { case (ta, tOther, k, w) => holds(ta, tOther, k, w) }
    }
  }
}
