package graft

/** Plan-shape regression guards: the properties that make these
  * operators scale are plan properties (pushdown reaching the scan,
  * dims broadcast, partial aggregation, whole-stage codegen) — assert
  * them so a refactor can't silently trade a broadcast for a shuffle
  * or push a filter off the reader.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf01)
    // collect() executes THIS QueryExecution, finalizing its adaptive
    // plan so codegen spans are visible (count() would plan separately)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("lineage: alias, window, generate and union edges resolve to leaf tables") {
    import graft.plans.Lineage
    import org.apache.spark.sql.functions._
    // union resolves POSITIONALLY through both branches
    val names = Tables.customer(spark, sf001).select(col("c_name").as("name"))
      .unionByName(Tables.supplier(spark, sf001).select(col("s_name").as("name")))
    assert(Lineage.lineage(names).toSet ==
      Set(("name", "customer", "c_name"), ("name", "supplier", "s_name")))
    // generator outputs descend from the generator's references
    val toks = Tables.documents(spark, sf001)
      .select(posexplode(split(col("text"), " ")))
    assert(Lineage.lineage(toks).toSet ==
      Set(("pos", "documents", "text"), ("col", "documents", "text")))
    // window expressions pull in partition AND order keys; pass-through
    // attributes keep their own edge
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_orderdate")
    val ranked = Tables.orders(spark, sf001)
      .select(col("o_orderkey"), rank().over(w).as("r"))
    assert(Lineage.lineage(ranked).toSet ==
      Set(("o_orderkey", "orders", "o_orderkey"),
        ("r", "orders", "o_custkey"), ("r", "orders", "o_orderdate")))
    // reference-free aggregates get RELATION-level lineage (count(1)
    // derives from the rows), while a literal alias stays empty —
    // the per-column constant-folding canary
    val counted = Tables.orders(spark, sf001)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .withColumn("k", lit(1))
    val edges = Lineage.lineage(counted)
    assert(edges.filter(_._1 == "n").nonEmpty &&
      edges.filter(_._1 == "n").forall(_._2 == "orders"))
    assert(edges.filter(_._1 == "k").isEmpty, "literal alias gained lineage")
  }

  test("lineage: EVERY registered query resolves to non-empty leaf " +
      "coordinates (the registry-wide governance artifact, LINEAGE.tsv)") {
    // the whole surface: an all-empty lineage would mean an output
    // accidentally constant-folded to literals, or a plan shape the
    // walker cannot see through — both worth failing loudly. Built at
    // the smallest SF (plans are analyzed, not executed; only memo/
    // fixture builds run).
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val edges = graft.plans.Lineage.lineage(fn(spark, sf001))
        if (edges.isEmpty) Some(name) else None
    }
    assert(empty.isEmpty,
      s"queries with EMPTY lineage: ${empty.mkString(", ")}")
  }

  test("scan_partitioned: the predicate prunes hive partitions at the scan, not as a data filter") {
    val p = planOf("scan_partitioned")
    val partLine = "PartitionFilters: \\[[^\\]]*event_type[^\\]]*purchase[^\\]]*\\]".r
    assert(partLine.findFirstIn(p).isDefined,
      s"event_type=purchase not in PartitionFilters:\n$p")
    // and NOT doubled into the pushed data filters — pruning means the
    // other partitions' files are never listed, let alone read
    assert(!p.contains("PushedFilters: [IsNotNull(event_type)"),
      s"partition predicate leaked into data filters:\n$p")
  }

  test("scan_pushdown: filter and projection reach the parquet reader") {
    val p = planOf("scan_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_shipdate), " +
      "GreaterThan(l_quantity,45.0)") || p.contains("GreaterThan(l_quantity,45.0)"),
      s"quantity filter not pushed:\n$p")
    assert(p.contains("LessThan(l_shipdate"), s"shipdate filter not pushed:\n$p")
    // pruned read schema: only the three needed columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double"), s"projection not pruned:\n$p")
  }

  test("scan_dsv2: the custom connector receives the pushed filter and the pruned schema") {
    val df = SparkEntry.queries("scan_dsv2")(spark, sf001)
    // AQE wraps the physical plan — collect inside its current plan
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }
    val fixture = scans.collectFirst {
      case s: graft.sources.FixtureScan => s }
    assert(fixture.isDefined, s"no FixtureScan in:\n${df.queryExecution}")
    val s = fixture.get
    // the regionkey predicate crossed the DSv2 boundary…
    assert(s.pushedForTest.exists {
      case org.apache.spark.sql.sources.LessThanOrEqual("n_regionkey", v) =>
        v.asInstanceOf[Number].longValue == 2L
      case _ => false
    }, s"filter not pushed: ${s.pushedForTest}")
    // …and the filter-only column was pruned from the read schema
    assert(s.readSchema.fieldNames.toSeq == Seq("n_nationkey", "n_name"),
      s"projection not pruned: ${s.readSchema.fieldNames.toSeq}")
    // end-to-end: pushed + pruned read equals the plain CSV read
    val expect = SparkEntry.queries("scan_csv")(spark, sf001)
      .filter(org.apache.spark.sql.functions.col("n_regionkey") <= 2)
      .select("n_nationkey", "n_name")
      .collect().toSeq
    assert(df.collect().toSeq == expect)
  }

  test("join_inner_bhj: dimension is broadcast, fact side never shuffles") {
    val p = planOf("join_inner_bhj")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("join_inner_smj: large-large join is sort-merge as pinned") {
    val p = planOf("join_inner_smj")
    assert(p.contains("SortMergeJoin"), p)
  }

  test("join_inner_shj: shuffled hash join pinned — no sort on either side") {
    val p = planOf("join_inner_shj")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("join_bucketed: co-located buckets join with no exchange on the keys") {
    val p = planOf("join_bucketed")
    assert(p.contains("SortMergeJoin"), p)
    val joinPart = p.split("SortMergeJoin")(1)
    assert(!joinPart.contains("Exchange hashpartitioning(o_custkey") &&
      !joinPart.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed join still shuffles a side:\n$p")
  }

  test("Memo.clear tears down fixture dirs + catalog tables; next use heals by rewriting") {
    val s = spark.newSession()
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    try {
      val df = SparkEntry.queries("join_bucketed")(s, sf001)
      // the fixture dir: the temp-dir child holding the tables' files
      val dirs = df.inputFiles.map(f => java.nio.file.Paths.get(new java.net.URI(f)))
        .filter(_.startsWith(tmp)).map(p => tmp.resolve(tmp.relativize(p).getName(0)).toFile)
        .toSet
      assert(dirs.size == 1 && dirs.head.isDirectory, dirs)
      def tables = s.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith(dirs.head.getName)).toSeq
      assert(tables.size == 2, tables)
      val rows = df.collect().toSeq
      Memo.clear(s)
      assert(!dirs.head.exists(), s"fixture dir survived Memo.clear: ${dirs.head}")
      assert(tables.isEmpty, tables)
      // the next call writes a fresh fixture
      assert(SparkEntry.queries("join_bucketed")(s, sf001).collect().toSeq == rows)
    } finally Memo.clear(s)
  }

  test("agg_hash_group: partial (map-side) + final hash aggregation") {
    val p = planOf("agg_hash_group")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("function batteries run inside whole-stage codegen") {
    for (q <- Seq("fn_string", "fn_math", "project_expr")) {
      val p = planOf(q)
      // codegen'd operators print as *(n) in the finalized plan
      assert(p.contains("*("), s"$q fell out of codegen:\n$p")
    }
  }

  test("limit_topk plans TakeOrderedAndProject (bounded heap, no global sort)") {
    val p = planOf("limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("seeded-hash expression participates in codegen (no UDF wrapper)") {
    val p = planOf("udf_expr_hash")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("r4 operators: no cross product in jaccard; partial agg in txn groups") {
    // prefix-filtered set-similarity must reach candidates through an
    // equi-join on prefix shingles — never an all-pairs product
    val pj = planOf("llm_dedup_jaccard")
    assert(!pj.contains("CartesianProduct") && !pj.contains("BroadcastNestedLoopJoin"),
      s"jaccard plans a cross product:\n$pj")
    // per-txn counters partial-aggregate map-side before the txn_id
    // shuffle — the property that makes txnGroups one narrow exchange
    val pt = planOf("cdc_txn_groups")
    assert("HashAggregate".r.findAllIn(pt).size >= 2,
      s"expected partial+final HashAggregate:\n$pt")
    // r5: language-ID scoring ships the bounded profile as plan
    // literals — ONE shuffle-free codegen pass over the corpus: no
    // join of any kind, no explode (Generate), intersect-size argmax
    val pl = planOf("llm_lang_id")
    assert(!pl.contains("Join"), s"lang_id scoring should be join-free:\n$pl")
    assert(!pl.contains("Generate"), s"lang_id scoring should not explode:\n$pl")
    assert(pl.contains("array_intersect"), s"expected literal-profile intersects:\n$pl")
  }

  test("simsearch plans: no cross product, no full-corpus window (VERDICT r3 #3)") {
    // the r2 scale-killers were (a) an all-pairs product and (b) a
    // row_number window ranking the ENTIRE corpus per probe. Pin their
    // absence: centroid assignment is a kernel argmax (windowless), and
    // every remaining window is partitioned by probe id — i.e. it ranks
    // a per-probe CANDIDATE set reached through equi-joins, whose size
    // the bucket bound controls, never the corpus itself.
    for (q <- Seq("llm_simsearch", "llm_simsearch_ivf", "llm_simsearch_lsh",
        "llm_simsearch_ivfpq")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a cross product:\n$p")
      val specs = "windowspecdefinition\\(([^,]*)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(specs.nonEmpty, s"$q: expected per-probe ranking windows:\n$p")
      assert(specs.forall(_.startsWith("p_id")),
        s"$q has a window not partitioned by probe id (full-corpus rank?): $specs\n$p")
    }
  }

  test("r7 operators: profile is one Expand agg; layout/dedup plans stay narrow") {
    // table_profile: k exact count-distincts plan as ONE Expand (not k
    // scans/joins), partial+final aggregation
    val pp = planOf("table_profile")
    assert("Expand".r.findAllIn(pp).size >= 1, s"expected Expand NDV plan:\n$pp")
    assert(!pp.contains("Join"), s"profile must be one pass, no self-joins:\n$pp")
    // layout_zorder / table_histogram: the extent side is BROADCAST
    // back — no sort-merge join of the corpus against a 1-row agg
    for (q <- Seq("layout_zorder", "table_histogram")) {
      val p = planOf(q)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q extent should broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q shuffles the corpus for the extent:\n$p")
    }
    // incremental dedup: cross-set prefix join is an equi-join —
    // never a cartesian product — and the confirm joins are equi too
    val pi = planOf("llm_dedup_incremental")
    assert(!pi.contains("CartesianProduct") && !pi.contains("BroadcastNestedLoopJoin"),
      s"incremental dedup plans a product:\n$pi")
    // funnel: single scan shape — exactly one window (dedup winner),
    // no join anywhere
    val pf = planOf("llm_corpus_funnel")
    assert(!pf.contains("Join"), s"funnel must not join:\n$pf")
    assert("windowspecdefinition".r.findAllIn(pf).size >= 1, pf)
  }

  test("r8: dedup self-joins reuse ONE signature stage (ReusedExchange pinned)") {
    // the signature materialization point (repartition(doc_id) after
    // the text kernel) is what keeps every self-join branch from
    // recomputing scan→kernel — r8's 2-3× wins on jaccard/simhash/
    // near ride on this plan property, so pin it: the FINAL adaptive
    // plan must share the signature relation across branches as a
    // ReusedExchange of the doc_id repartition — except jaccard, whose
    // shingle base is a session memo (r22) that every branch scans as
    // one InMemoryRelation
    for (q <- Seq("llm_dedup_jaccard", "llm_dedup_simhash", "llm_dedup_near")) {
      val p = planOf(q)
      val shared = p.contains("ReusedExchange") ||
        (q == "llm_dedup_jaccard" && p.contains("InMemoryRelation"))
      assert(shared, s"$q no longer shares the signature stage across branches:\n$p")
      assert(p.contains("REPARTITION_BY_COL"),
        s"$q lost the signature materialization point:\n$p")
    }
  }

  test("r10 reshape/extrema/moments: map-side combine and narrow plans pinned") {
    // pivot lowers to TWO stacked aggregates, both partial-aggregated:
    // the scan collapses to group cardinality before either shuffle
    val pv = planOf("agg_pivot")
    assert(pv.contains("partial_sum"), s"pivot lost first-level combine:\n$pv")
    assert(pv.contains("partial_pivotfirst"),
      s"pivot reshape no longer map-side combined:\n$pv")
    // unpivot is a pure narrow Expand over the scan — the ONLY
    // exchange allowed is the output-ordering range partition
    val up = planOf("agg_unpivot")
    assert(up.contains("Expand"), s"unpivot should plan as Expand:\n$up")
    assert(!up.contains("hashpartitioning"),
      s"unpivot reshape must not shuffle:\n$up")
    // arg-extrema: partial max_by/min_by means the shuffle carries one
    // (ord, payload) pair per group per partition, not raw rows
    val mm = planOf("agg_minmax_by")
    assert(mm.contains("partial_max_by") && mm.contains("partial_min_by"),
      s"minmax_by lost map-side combine:\n$mm")
    // moment sums: partial decimal sums map-side; six numbers per
    // group per partition cross the one hash shuffle
    val sm = planOf("agg_stats_moments")
    assert(sm.contains("partial_sum"), s"moments lost map-side combine:\n$sm")
    // count only the FINAL adaptive plan (toString appends the initial
    // plan as a second rendering of the same exchanges)
    val smFinal = sm.split("== Initial Plan ==")(0)
    assert("hashpartitioning".r.findAllIn(smFinal).size == 1,
      s"moments should have exactly one hash shuffle:\n$sm")
  }

  test("r10 interval/gap-fill/bitwise: equi-rewritten overlap, one-scan spine, narrow scalars") {
    // the grid rewrite's whole point: the overlap join must plan as an
    // EQUI join on the cell key (BHJ here, SMJ at scale), never the
    // nested-loop fallback a pure theta join degenerates to
    val io = planOf("join_interval_overlap")
    assert(io.contains("Generate explode(sequence"),
      s"interval grid explode missing:\n$io")
    assert(!io.contains("NestedLoop") && !io.contains("Cartesian"),
      s"interval overlap degenerated to a non-equi join:\n$io")
    assert(io.contains("partial_count"),
      s"overlap aggregate lost map-side combine:\n$io")
    // gap fill: the lead()-based formulation reads raw events ONCE
    // (the join formulation plans the daily aggregate twice) and never
    // joins — the window runs over the collapsed daily relation
    val gf = planOf("win_gap_fill")
    val gfFinal = gf.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(gfFinal).size == 1,
      s"gap fill re-scans raw events:\n$gf")
    assert(!gf.contains("Join"), s"gap fill should be join-free:\n$gf")
    assert(gf.contains("partial_count"),
      s"daily rollup lost map-side combine:\n$gf")
    // bitwise battery: pure scalar projection — the only exchange is
    // the output-ordering range partition
    val bw = planOf("fn_bitwise")
    assert(!bw.contains("hashpartitioning"),
      s"scalar battery must not hash-shuffle:\n$bw")
  }

  test("late-r10 additions: fused LM window, one-scan checksum, LOCF, mode limit") {
    // bigram LM: the continuation total rides a whole-partition window
    // over the SAME aggregated relation — one raw scan, no second
    // corpus aggregate joined back
    val lm = planOf("llm_bigram_lm")
    val lmFinal = lm.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(lmFinal).size == 1,
      s"bigram LM re-scans the corpus:\n$lm")
    assert(!lm.contains("Join"), s"bigram LM should be join-free:\n$lm")
    assert(lm.contains("Window"), s"df-fusion window missing:\n$lm")
    // table checksum: one scan, partial+final aggregate, nothing else
    val tc = planOf("table_checksum")
    val tcFinal = tc.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(tcFinal).size == 1, tc)
    assert("HashAggregate".r.findAllIn(tcFinal).size >= 2,
      s"checksum lost map-side partials:\n$tc")
    assert(!tc.contains("Join"), tc)
    // forward fill: join-free single window over one scan
    val ff = planOf("win_fill_forward")
    assert(!ff.contains("Join"), s"LOCF should be join-free:\n$ff")
    assert(ff.contains("Window"), ff)
    // mode: rank-filter pushes into WindowGroupLimit (map-side top-1
    // truncation before the window shuffle)
    val am = planOf("agg_mode")
    assert(am.contains("WindowGroupLimit"),
      s"mode rank filter did not push into WindowGroupLimit:\n$am")
    // domain cap: the per-source top-K rank filter must also push
    // into WindowGroupLimit (map tasks pre-truncate to K rows per
    // key before the shuffle — the exchange carries K·|domains|)
    val dc = planOf("llm_domain_cap")
    assert(dc.contains("WindowGroupLimit"),
      s"domain cap rank filter did not push into WindowGroupLimit:\n$dc")
    // version compaction: last-K-per-pk rank filter truncates
    // map-side the same way (the exchange carries K·|keys|, never
    // the changelog)
    val cv = planOf("cdc_compact_versions")
    assert(cv.contains("WindowGroupLimit"),
      s"compact_versions rank filter did not push into WindowGroupLimit:\n$cv")
    // LWW conflict merge: winner-per-key rank filter truncates
    // map-side the same way (1 row/key crosses the pk shuffle)
    val lw = planOf("cdc_conflict_lww")
    assert(lw.contains("WindowGroupLimit"),
      s"conflict_lww rank filter did not push into WindowGroupLimit:\n$lw")
    // keyness: the per-source top-5 also truncates map-side
    val kn = planOf("llm_keyness_chi2")
    assert(kn.contains("WindowGroupLimit"),
      s"keyness rank filter did not push into WindowGroupLimit:\n$kn")
    // co-occurrence lift: dims ride broadcasts, never a cartesian of
    // data relations (the 1-row corpus-size extent is the only BNLJ)
    val cl = planOf("llm_cooccur_lift")
    assert(!cl.contains("CartesianProduct"), cl)
    assert(cl.contains("BroadcastHashJoin"), cl)
    // bm25: ONE term explosion — tf is the only consumer that
    // explodes tokens; dl (indexed doc length) and the corpus stats
    // derive per-row from the cached tokenizedDocs leaf
    // (size(array_remove(toks,''))), so there is no second explode
    // and no (doc,term) re-aggregate. The corpus tokenize itself
    // lives in the session memo (InMemoryTableScan in every branch,
    // FileScan+regex paid once per session, not per query).
    val bm = planOf("llm_bm25")
    val bmFinal = bm.split("== Initial Plan ==")(0)
    assert("Generate explode".r.findAllIn(bmFinal).size == 1,
      s"bm25 explodes the corpus more than once:\n$bm")
    assert(bmFinal.contains("InMemoryTableScan"),
      s"bm25 is not reading the tokenizedDocs memo:\n$bm")
  }

  test("r14b additions: ORC pushdown, triangle-join reuse, bucketed nearest, narrow analytics") {
    // scan_orc: the predicate reaches the ORC reader (stripe-level
    // min/max skipping), and the scan really is the ORC format
    val orc = planOf("scan_orc")
    assert(orc.contains("Scan orc"), s"not an ORC scan:\n$orc")
    assert(orc.contains("PushedFilters") &&
      orc.contains("EqualTo(event_type,view)"),
      s"event_type filter not pushed to the ORC reader:\n$orc")
    // triangle count: the three edge-list references must not become
    // three pair aggregations over the fact table — the support-
    // filtered edge list is memoized (InMemoryTableScan in every
    // branch), and nothing degenerates to a cartesian
    val tri = planOf("graph_triangle_count")
    val triFinal = tri.split("== Initial Plan ==")(0)
    assert(!tri.contains("CartesianProduct"), tri)
    // (the InMemoryTableScan nodes print their cached relation's
    // ORIGINAL plan inline — FileScan lines inside that description
    // are not executed scans, so only the memo's presence is pinned)
    assert(triFinal.contains("InMemoryTableScan"),
      s"edge list rebuilt per triangle-join reference:\n$tri")
    // nearest join: explode-bucketed candidates (Generate), hash
    // equi-join (never a nested loop on the |Δ| predicate), and the
    // rn=1 filter truncating map-side via WindowGroupLimit
    val nn = planOf("join_asof_nearest")
    assert(!nn.contains("CartesianProduct") &&
      !nn.contains("BroadcastNestedLoopJoin"),
      s"nearest join fell back to a non-equi loop:\n$nn")
    assert(nn.contains("Generate explode"), nn)
    assert(nn.contains("WindowGroupLimit"),
      s"rn=1 did not push into WindowGroupLimit:\n$nn")
    // retention cohort / anomaly zscore: partial aggregation collapses
    // the log before any shuffle; the zscore plan is join-free
    val az = planOf("stream_anomaly_zscore")
    val azFinal = az.split("== Initial Plan ==")(0)
    assert(!az.contains("Join"), s"zscore should be join-free:\n$az")
    assert("HashAggregate".r.findAllIn(azFinal).size >= 2,
      s"hourly aggregate lost map-side partials:\n$az")
    assert(az.contains("Window"), az)
  }

  test("r14 late additions: quota truncates map-side, winnow stays per-doc, skew report is one pass") {
    // quota limit: the rn<=2 filter must push into WindowGroupLimit so
    // the exchange carries <=2 rows per (user, day), not the raw log
    val ql = planOf("stream_quota_limit")
    assert(ql.contains("WindowGroupLimit"),
      s"quota rn<=2 did not push into WindowGroupLimit:\n$ql")
    // winnowing fingerprints: per-document work ONLY — no join of any
    // kind (a cross-doc join would make the fingerprint pass O(n²)),
    // and since the r14-late kernel rewrite the whole hash→sliding-min
    // →distinct chain is ONE graft_winnow_fps call per row: no
    // explode (Generate), no Window, no exchange before the
    // presentation sort (the explode+window form measured superlinear
    // at the x64 soak point — SCALE.md r14-late)
    val wn = planOf("llm_fingerprint_winnow")
    assert(!wn.contains("Join"), s"winnowing must not join docs:\n$wn")
    assert(wn.contains("graft_winnow_fps"), wn)
    assert(!wn.contains("Generate") && !wn.contains("Window"),
      s"winnowing regressed to the exploded per-position form:\n$wn")
    assert(!wn.contains("Exchange hashpartitioning"),
      s"winnowing must not shuffle before the presentation sort:\n$wn")
    // winnow PAIRS: candidates must come from the fingerprint
    // equi-join (the bucketed-postings shape), never an all-pairs
    // product
    val wp = planOf("llm_winnow_pairs")
    assert(wp.contains("graft_winnow_fps"), wp)
    assert(!wp.contains("CartesianProduct") &&
      !wp.contains("BroadcastNestedLoopJoin"),
      s"winnow pairing plans a cross product:\n$wp")
    // skew report: the unpivot (Expand) collapses through ONE
    // map-combined aggregate before the tiny per-column window — the
    // scan must not be repeated per column
    val sk = planOf("table_skew_report")
    val skFinal = sk.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(skFinal).size <= 1,
      s"skew report re-scans per column:\n$sk")
    assert(skFinal.contains("Expand"), sk)
    assert("HashAggregate".r.findAllIn(skFinal).size >= 2,
      s"value counts lost map-side partials:\n$sk")
    // gaps-and-islands: the distinct, the window and both aggregates
    // all run off ONE user_id hash exchange (the final orderBy's range
    // exchange is the oracle's total-order cost, not the operator's)
    val gi = planOf("win_gaps_islands")
    val giFinal = gi.split("== Initial Plan ==")(0)
    val nHashEx = "Exchange hashpartitioning".r.findAllIn(giFinal).size
    assert(nHashEx <= 1,
      s"gaps-islands should reuse one user_id hash shuffle:\n$gi")
  }

  test("r14c additions: BFS joins stay equi, interp is join-free, rolling corr collapses first") {
    // BFS reachability: every level is an equi-join of the frontier
    // against the memoized edge list — an all-pairs product anywhere
    // would square a level
    val rb = planOf("graph_reachability")
    assert(!rb.contains("CartesianProduct") &&
      !rb.contains("BroadcastNestedLoopJoin"),
      s"BFS level joins must stay equi-joins:\n$rb")
    // linear interpolation: the lead()+sequence form — each gap fills
    // from its ONE preceding row, so there must be NO join (the
    // textbook spine-LEFT-JOIN rewrite scans the aggregate twice)
    val ip = planOf("win_interp_linear")
    assert(!ip.contains("Join"),
      s"interp regressed to the spine-join form:\n$ip")
    // rolling correlation: the raw log must collapse to the daily
    // relation BEFORE the window (partial + final aggregate), and the
    // whole op reads the events scan once
    val rc = planOf("win_rolling_corr")
    val rcFinal = rc.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(rcFinal).size <= 1,
      s"rolling corr re-scans events:\n$rc")
    assert("HashAggregate".r.findAllIn(rcFinal).size >= 2,
      s"daily collapse lost map-side partials:\n$rc")
    // stream-stream outer join batch form: user_id equi-join with the
    // hour range as residual — no cross product
    val so = planOf("stream_join_outer")
    assert(!so.contains("CartesianProduct") &&
      !so.contains("BroadcastNestedLoopJoin"),
      s"outer interval join plans a product:\n$so")
  }

  test("tolerance-join rule: rewrites the keyless tolerance join to an equi-join; bare session plans the product") {
    // with the rule: the registered query (written naively as
    // abs(a-b) <= tol, NO key) must plan an equi-join off the
    // generated bucket column — no nested-loop product anywhere
    val tp = planOf("join_tolerance_rule")
    assert(!tp.contains("BroadcastNestedLoopJoin") &&
      !tp.contains("CartesianProduct"),
      s"rule did not fire — tolerance join planned a product:\n$tp")
    assert(tp.contains("Generate"),
      s"bucket explode missing from the rewritten plan:\n$tp")
    // negative control: the SAME shape on a session WITHOUT the rule
    // must plan the nested-loop product (proves the rewrite is the
    // rule's doing, not something Spark does on its own)
    val bare = spark.newSession()
    import org.apache.spark.sql.functions.{abs => fAbs, col, lit}
    val l = bare.range(100).select(col("id").as("lid"),
      (col("id") * 1000L).as("lt"))
    val r = bare.range(100).select(col("id").as("rid"),
      (col("id") * 999L).as("rt"))
    val naive = l.join(r, fAbs(col("lt") - col("rt")) <= lit(500L))
    naive.collect()
    val naivePlan = naive.queryExecution.executedPlan.toString
    assert(naivePlan.contains("BroadcastNestedLoopJoin") ||
      naivePlan.contains("CartesianProduct"),
      s"control: expected a product plan on the bare session:\n$naivePlan")
    // and the rule on that same bare session fixes it, with results
    // IDENTICAL to the naive plan's
    val want = naive.collect().map(r0 => (r0.getLong(0), r0.getLong(2)))
      .sorted.toSeq
    graft.plans.ToleranceJoinRule.register(bare)
    val fixed = l.join(r, fAbs(col("lt") - col("rt")) <= lit(500L))
    fixed.collect()
    val fixedPlan = fixed.queryExecution.executedPlan.toString
    assert(!fixedPlan.contains("BroadcastNestedLoopJoin") &&
      !fixedPlan.contains("CartesianProduct"),
      s"rule did not fire on the bare session after register:\n$fixedPlan")
    val got = fixed.collect().map(r0 => (r0.getLong(0), r0.getLong(2)))
      .sorted.toSeq
    assert(got == want, "rewritten join changed the result set")
    assert(want.nonEmpty, "control fixture must produce matches")
  }

  test("llm_quality_gopher plans as a pure map: no join, no aggregate, no hash exchange") {
    // the rule battery must stay a single codegen projection over the
    // scan — the 100 TB claim is that this is a map, and a silent
    // regression into a join/agg would invalidate it
    val p = planOf("llm_quality_gopher")
    assert(!p.contains("Join"), s"gopher quality planned a join:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"gopher quality planned an aggregate:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"gopher quality planned a hash exchange (only the presentation " +
        s"range sort is allowed):\n$p")
  }

  test("scan_jdbc is a genuinely partitioned read") {
    // the JDBC scan must carry the range-sliced parallelism — an
    // unpartitioned read (1 connection pulling everything) is the
    // classic silent JDBC bottleneck
    val df = SparkEntry.queries("scan_jdbc")(spark, sf01)
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("JDBCRelation"),
      s"expected a JDBCRelation leaf:\n$scan")
    assert(scan.contains("numPartitions=4"),
      s"JDBC scan lost its partitioning:\n$scan")
  }

  test("tolerance-join rule: second operating point (price self-join, extra residual conjunct) also rewrites") {
    // join_tolerance_price: non-time key, tol 10, SELF-join with a
    // key_a < key_b conjunct that must ride the residual — the rule
    // has to fire here too, and the extra conjunct must not be lost
    // (the hash gate proves values; this pins the plan shape)
    val tp = planOf("join_tolerance_price")
    assert(!tp.contains("BroadcastNestedLoopJoin") &&
      !tp.contains("CartesianProduct"),
      s"rule did not fire at the second operating point:\n$tp")
    assert(tp.contains("Generate"),
      s"bucket explode missing at the second operating point:\n$tp")
  }

  test("spatial grid join: cell equi-join, never a distance cross product") {
    // join_spatial_grid IS the tolerance-bucket trick in 2-D: the
    // oracle runs the naive distance join (hash gate proves values);
    // this pins that the ENGINE side runs the 3x3-replicated cell
    // equi-join — a nested-loop/cartesian here means the rewrite
    // silently degenerated and would cross-product at scale
    val sg = planOf("join_spatial_grid")
    assert(!sg.contains("CartesianProduct") &&
      !sg.contains("BroadcastNestedLoopJoin"),
      s"spatial grid join degenerated to a product:\n$sg")
    assert(sg.contains("Generate"),
      s"3x3 neighborhood replication (explode) missing:\n$sg")
  }

  test("join_tolerance_asof: both custom-planner tiers in ONE plan — rule bucket join + native as-of exec") {
    // VERDICT r16 #8: the Rule[LogicalPlan] tier (ToleranceJoinRule's
    // 3-bucket Generate + bucket equi-join) and the strategy/SparkPlan
    // tier (AsOfJoinExec) must compose in a single query plan, with
    // no nested-loop product anywhere (the naive tolerance stage
    // would otherwise plan one)
    val ta = planOf("join_tolerance_asof")
    assert(ta.contains("AsOfJoin"),
      s"native as-of exec missing from the composed plan:\n$ta")
    assert(ta.contains("Generate"),
      s"tolerance bucket explode missing (rule did not fire):\n$ta")
    assert(!ta.contains("CartesianProduct") &&
      !ta.contains("BroadcastNestedLoopJoin"),
      s"composed plan degenerated to a product:\n$ta")
  }

  test("graph_reachability: stage floor pinned — sized BFS exchanges only, bounded count") {
    // VERDICT r16 #4: the ~1.2-1.5 s local[32] floor is ~10 dependent
    // micro-stages of LATENCY (4 sequential BFS levels), not data
    // volume — folding levels would need the 2-hop closure the op
    // deliberately avoids. Pin the shape instead so load-inflated
    // captures stop reading as regressions: every BFS shuffle is the
    // explicit frontier-sized repartition (REPARTITION_BY_NUM — the
    // per-level distinct RIDES it, so EnsureRequirements inserts no
    // second exchange on node), and the total shuffle-exchange count
    // in the final adaptive plan stays at the r15-trimmed bound
    // (4 levels + edge side + final min-hop + 2 in the cached edge
    // derivation). BASELINE.md records the floor.
    val rb = planOf("graph_reachability")
    val rbFinal = rb.split("== Initial Plan ==")(0)
    assert(!rbFinal.contains("Exchange hashpartitioning(node"),
      s"per-level distinct stopped riding the sized repartition:\n$rb")
    val nShuffle = "Exchange (hashpartitioning|SinglePartition|RoundRobinPartitioning)".r
      .findAllIn(rbFinal).size
    assert(nShuffle <= 8,
      s"BFS shuffle-exchange count grew past the pinned bound ($nShuffle > 8):\n$rb")
    // ≥ 3, not 4: AQE's exchange reuse collapses one level's
    // identical repartition subplan into a ReusedExchange
    assert("REPARTITION_BY_NUM".r.findAllIn(rbFinal).size >= 3,
      s"frontier-sized repartitions missing (sizing law disengaged?):\n$rb")
  }

  test("peak concurrency: the sweep's running sum partitions by (day, hour) — never a whole-day window") {
    // the two-level cumsum discipline (llm_token_budget) applied to a
    // sweep-line: if a refactor collapses the within-hour running sum
    // back to a per-day (or global) ordered window, one task sorts a
    // whole day of a 100 TB stream. Pin the windowspec's partition
    // keys: the ordered running sum must carry BOTH d and h.
    val pc = planOf("stream_peak_concurrency")
    assert(
      """windowspecdefinition\(d#\d+L, h#\d+L, t#\d+L ASC""".r
        .findFirstIn(pc).isDefined,
      s"sweep running sum no longer partitions by (d, h):\n$pc")
    assert(!pc.contains("CartesianProduct"), pc)
  }

  test("stickiness + A/A calibration: bounded Generate on the COLLAPSED relation, no cartesian") {
    // both ops explode a small constant factor (x7 window days, x16
    // salted splits) — the explode must be a Generate over the
    // already-collapsed per-user relation, and nothing may plan as a
    // cartesian product
    val st = planOf("stream_stickiness")
    assert(st.contains("Generate explode(sequence("),
      s"stickiness lost its sequence-explode form:\n$st")
    assert(!st.contains("CartesianProduct"), st)
    // the constant sequence(0, 15) folds to an array literal, so the
    // plan shows a plain explode Generate (still map-side, bounded)
    val aa = planOf("stream_ab_aa_calibration")
    assert(aa.contains("Generate explode("),
      s"A/A calibration lost its explode-Generate form:\n$aa")
    assert(!aa.contains("CartesianProduct"), aa)
  }

  test("fixed-point graph chains stay LINEAR: edge-scan count bounded, no duplicated-tree blowup") {
    // the r18 lesson: a per-level CTE referenced TWICE (sums + max)
    // doubles the inlined tree per level — ~2^10 copies of the base
    // join at 5 rounds, OOM at sf0.1. Every round must reference its
    // predecessor exactly once, so the persisted edge relation is
    // scanned a LINEAR number of times: pagerank = rounds joins +
    // nodes = 6. Pin a small slack over that count — exponential
    // regression blows straight past it. Count scans OF THE EDGE
    // RELATION SPECIFICALLY (its column set, ⊆ {src, dst, outdeg})
    // rather than every InMemoryTableScan in the plan, so an
    // unrelated cached relation appearing in a future version of the
    // query can neither trip the bound nor mask drift under it
    // (ADVICE r18).
    val p = planOf("graph_pagerank_fixed")
    val pr = """InMemoryTableScan \[(?:(?:src|dst|outdeg)#\d+L?(?:, )?)+\]""".r
      .findAllIn(p.split("== Initial Plan ==")(0)).size
    assert(pr >= 1, s"no edge-relation scans matched — pattern drift?\n$p")
    assert(pr <= 10, s"graph_pagerank_fixed edge-scan count $pr > 10 — " +
      "chain no longer linear (duplicated-tree regression)")
    Memo.clear(spark)
  }

  test("fk orphans: existence joins with broadcast parents, no cartesian") {
    // the referential-integrity audit must keep each branch an
    // ExistenceJoin (NOT EXISTS → anti-join family, key-grain) with
    // the dimension parents BROADCAST — a refactor that degrades a
    // NOT EXISTS into a correlated per-row subquery or a cartesian
    // would be quadratic at scale
    val p = planOf("table_fk_orphans")
    assert(p.contains("ExistenceJoin"),
      s"fk audit lost its existence-join shape:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"fk audit no longer broadcasts dimension parents:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ship-delay profile: windows run over the collapsed day grid, not the corpus") {
    // the value-grid discipline: the cumulative-count window must
    // partition by the return flag AFTER the (flag, days) collapse —
    // a window keyed on the raw joined relation would sort corpus
    // rows per flag
    val p = planOf("agg_shipdelay_profile")
    assert("""windowspecdefinition\(flag#\d+, days#\d+""".r
      .findFirstIn(p).isDefined,
      s"ship-delay window no longer runs on the (flag, days) grid:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_hits_fixed: no Window operator anywhere in the chain (broadcast-scalar max)") {
    // the r18 verdict's one weak item: the oracle SQL's per-round
    // `max(x) OVER ()` empty-frame window, executed by Spark, moved
    // the whole score relation into ONE partition per round — a
    // scale-killer on a ≫10⁸-node graph even though the sf0.1 soak
    // was flat. The r19 rendering normalizes via a 1-row max
    // aggregate broadcast over each persisted round
    // (hitsFixedWithHandle), so NO plan in the chain — any round's,
    // or the final authority projection's — may contain a Window
    // operator at all.
    // collect every physical plan string in the chain, DESCENDING
    // into cached relations (a Window hiding inside a persisted
    // round's cachedPlan would be invisible in the outer
    // InMemoryTableScan print)
    def planStrings(p: org.apache.spark.sql.execution.SparkPlan,
        depth: Int): Seq[String] = {
      val base = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      val cached =
        if (depth >= 6) Seq.empty
        else base.collect {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            planStrings(s.relation.cachedPlan, depth + 1)
        }.flatten
      base.toString +: cached
    }
    val li = Tables.lineitem(spark, sf001).select("l_orderkey", "l_suppkey")
    val o = Tables.orders(spark, sf001).select("o_orderkey", "o_custkey")
    val e = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(org.apache.spark.sql.functions.col("o_custkey").as("src"),
        org.apache.spark.sql.functions.col("l_suppkey").as("dst"))
      .distinct().persist()
    e.count()
    val (out, handles) = ops.GraphOps.hitsFixedWithHandle(e, rounds = 5)
    // 2 pre-partitioned edge caches + 4 intermediate rounds + final
    assert(handles.size == 7,
      s"expected 7 persisted frames (2 edge orientations + 5 rounds), " +
        s"got ${handles.size}")
    out.collect()
    val plans = planStrings(out.queryExecution.executedPlan, 0)
    plans.foreach { pl =>
      assert(!pl.contains("Window"),
        s"fixed HITS chain plans a Window:\n$pl")
      // and no stage anywhere funnels a relation into one partition
      // (the normalizer max rides the round's materializing action
      // as a 1-row aggregate and comes back as a literal — a global
      // agg's partial/final shape, never a SinglePartition exchange
      // carrying the relation's ROWS)
      assert(!pl.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
        s"fixed HITS chain funnels rows into one partition:\n$pl")
    }
    (e +: handles).foreach(_.unpersist(blocking = false))
    // and the registered op's own plan (memoized scan + sort/limit)
    // stays window-free too
    val opPlan = planOf("graph_hits_fixed")
    assert(!opPlan.contains("Window"),
      s"graph_hits_fixed op plan contains a Window:\n$opPlan")
    Memo.clear(spark)
  }
}
