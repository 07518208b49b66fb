package graft

import graft.ops.Scale
import org.apache.spark.sql.functions._

/** Proofs for the scale toolkit: salting preserves aggregate
  * semantics; bucketing removes the join shuffle entirely.
  */
class ScaleSpec extends SparkSpec {

  test("salted aggregation equals plain aggregation on a skewed key") {
    // synthesize skew: fold every user into one hot key for half the rows
    val e = Tables.events(spark, sf001)
      .withColumn("k", when(col("event_id") % 2 === 0, 0L).otherwise(col("user_id")))
    val salted = Scale.saltedAgg(e, col("k"), col("value"), buckets = 8)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    // plain side accumulates in the same exact DECIMAL(38,10) space —
    // both sides are order-independent, so equality is bit-exact
    val plain = e.groupBy(col("k"))
      .agg(graft.ops.dsum(col("value")).as("total"), count(lit(1)).as("cnt"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(salted == plain)
    assert(plain.exists(_._1 == 0L))
  }

  test("salted join: salt participates in the sort-merge keys (hot key spread over buckets)") {
    val q = SparkEntry.queries("join_skew_salted")(spark, sf001)
    q.collect() // finalize the adaptive plan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    // the point of the rewrite: graft_salt is a JOIN key, so the one
    // hot user key hashes to 16 different reducers
    assert(plan.split("SortMergeJoin")(1).linesIterator.next()
      .contains("graft_salt"), plan)
  }

  test("bloom prefilter: kernel contract + prefilter∘confirm ≡ semi join") {
    import graft.functions.{BloomContains, BloomKernels}
    val o = Tables.orders(spark, sf001)
      .filter(col("o_totalprice") > 490000.0).select("o_orderkey")
    val bloom = BloomKernels.build(o, col("o_orderkey"),
      numWords = 2048, numHashes = 5)
    // no false negatives — EVERY inserted key probes true (this is
    // what makes the exact-confirm rewrite ≡ the plain semi join);
    // bounded test-only collect: 31 keys at sf0.001
    val keys = o.collect().map(_.getLong(0))
    assert(keys.nonEmpty && keys.forall(BloomKernels.contains(bloom, 5, _)))
    // false-positive rate at the registered operating point: m/n =
    // 131072/31 bits per key here, so fp should be ~0; allow 1% to
    // absorb hash drift without pinning the exact family
    val probeFrom = keys.max + 1
    val fp = (probeFrom until probeFrom + 100000L)
      .count(BloomKernels.contains(bloom, 5, _))
    assert(fp < 1000, s"bloom fp rate too high: $fp / 100000")
    // the registered query (prefilter + exact confirm) ≡ plain semi
    // join, row for row
    val viaBloom = SparkEntry.queries("join_semi_bloom")(spark, sf001)
      .collect().toSeq
    val li = Tables.lineitem(spark, sf001)
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber").collect().toSeq
    assert(viaBloom == plain)
    // the probe predicate runs INSIDE whole-stage codegen on the fact
    // scan — the point of the Expression (vs a UDF, which would break
    // the span and evaluate interpreted)
    val pre = li.filter(org.apache.spark.sql.graftbridge.Bridge.column(
      BloomContains(org.apache.spark.sql.graftbridge.Bridge.expr(
        col("l_orderkey")), bloom, 5)))
    val plan = pre.queryExecution.executedPlan.toString
    // `*(n)` is the whole-stage-codegen marker in the simple plan
    // string — the Filter line carrying the probe must sit inside one
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_bloom_contains") && l.trim.startsWith("*(")), plan)
  }

  test("AQE splits a skewed join partition at runtime (OptimizeSkewedJoin)") {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // shrink the thresholds so test-sized data counts as skewed
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      // with only 4 shuffle partitions each non-skew partition still
      // carries ~1/4 of the keys, so the default 5x-median factor never
      // trips at test scale
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 95% of the fact lands on key 0, ×20 rows, with incompressible
      // padding — shuffle skew statistics are COMPRESSED bytes, so a
      // constant pad would deflate below any threshold
      val fact = Tables.events(spark, sf001)
        .withColumn("k", when(col("event_id") % 20 =!= 0, 0L).otherwise(col("user_id")))
        .withColumn("rep", explode(array((1 to 20).map(lit): _*)))
        .withColumn("pad", concat(md5(concat(col("event_id"), col("rep"))),
          md5(concat(col("rep"), col("event_id"))),
          md5(concat(col("event_id"), lit("x"), col("rep")))))
        .select("k", "event_id", "pad")
        // skew splits happen on MAP-side block boundaries: a
        // single-file scan means one mapper and one unsplittable
        // block, so give the join shuffle several mappers
        .repartition(8)
      // NOTE no distinct(): OptimizeSkewedJoin pattern-matches
      // SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) — an aggregate
      // between the Sort and the stage (as distinct() leaves) makes the
      // rule skip the join entirely
      val dim = Tables.events(spark, sf001)
        .filter(col("event_type") === "signup")
        .select(col("user_id").as("dk"))
      // sum(length(pad)) keeps the wide column flowing through the
      // shuffle (column pruning would shrink the skewed partition below
      // any threshold); the downstream agg must NOT group by the join
      // key — a same-key groupBy forbids the split because it would
      // break the required distribution
      val joined = fact.join(dim, col("k") === col("dk"))
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("bytes"))
      val row = joined.collect().head
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("skew"), s"skew split did not fire:\n$plan")
      // correctness under the split
      assert(row.getLong(0) ==
        fact.join(dim, col("k") === col("dk")).count())
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("bucketed tables co-locate the join: no Exchange in the plan") {
    val wh = tmpDir("graft_warehouse")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS g_orders_b")
      spark.sql("DROP TABLE IF EXISTS g_cust_b")
      Tables.orders(spark, sf001).write
        .option("path", s"$wh/g_orders_b")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("g_orders_b")
      Tables.customer(spark, sf001).write
        .option("path", s"$wh/g_cust_b")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("g_cust_b")
      val joined = spark.table("g_orders_b")
        .join(spark.table("g_cust_b"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself reads pre-bucketed data: the only exchange
      // allowed is the one feeding the final segment aggregation
      val joinPart = plan.split("SortMergeJoin")(1)
      assert(!joinPart.contains("Exchange hashpartitioning(o_custkey") &&
        !joinPart.contains("Exchange hashpartitioning(c_custkey"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      // correctness: same result as the unbucketed join
      val expected = Tables.orders(spark, sf001)
        .join(Tables.customer(spark, sf001),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment").collect().toSeq
      assert(joined.orderBy("c_mktsegment").collect().toSeq == expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS g_orders_b")
      spark.sql("DROP TABLE IF EXISTS g_cust_b")
    }
  }

  test("IVF assignment as a cid-partitioned table: bucket fetch prunes partitions") {
    // the documented 100 TB layout (LlmOps.ivfIndex Scaladoc): the
    // corpus assignment is written ONCE partitioned by centroid id, so
    // a query batch's candidate fetch is a partition-pruned scan of
    // only its probed buckets — never a full-corpus read
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf001)
    val idx = graft.ops.LlmOps.buildIvfIndex(emb, nCentroids = 8)
    val dir = tmpDir("graft_ivf_table")
    idx.assign.write.mode("overwrite").partitionBy("cid").parquet(dir)
    val table = spark.read.parquet(dir)
    val probed = table.filter(col("cid").isin(2L, 5L))
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    // the cid predicate must land in PartitionFilters (directory
    // pruning), not PushedFilters (row-group skipping at best)
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"cid filter did not reach partition pruning:\n$plan")
    // and the pruned read returns exactly the two buckets
    val expect = idx.assign.filter(col("cid").isin(2L, 5L)).count()
    assert(probed.count() == expect && expect > 0)
    // bucket directories exist per cid — the physical layout a
    // 1000-executor fetch would list
    val dirs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("cid=")).toSet
    assert(dirs.size == 8, s"expected 8 cid partitions, got $dirs")
  }

  test("disk-backed IVF index: write, load, probe — results equal the in-session path") {
    // NEXT r6 #3 end-to-end: the full probe query running against the
    // persisted cid-partitioned layout, not just a hand-written filter
    import org.apache.spark.sql.functions._
    import graft.ops.LlmOps
    val emb = Tables.embeddings(spark, sf001)
    val idx = LlmOps.buildIvfIndex(emb, nCentroids = 8)
    val dir = tmpDir("graft_ivf_full")
    LlmOps.writeIvfIndex(idx, dir)
    val disk = LlmOps.loadIvfIndex(spark, dir)
    // metadata survives the round-trip exactly
    assert(disk.cids == idx.cids)
    assert(disk.alphaMax.zip(idx.alphaMax).forall { case (a, b) =>
      math.abs(a - b) < 1e-12 })
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("p_id"),
        col("embedding").cast("array<double>").as("p_emb"))
    val mem = LlmOps.simSearchIvfOn(idx, probes, topK = 10, nProbe = 3)
      .orderBy("p_id", "rank").collect().toSeq
    val dsk = LlmOps.simSearchIvfOn(disk, probes, topK = 10, nProbe = 3)
    val dskRows = dsk.orderBy("p_id", "rank").collect().toSeq
    assert(dskRows == mem, "disk-backed probe differs from in-session probe")
    // the probe join on the partition column is a dynamic-partition-
    // pruning candidate: the assignment scan must carry a runtime
    // partition filter, not read all 8 buckets unconditionally
    val plan = dsk.queryExecution.executedPlan.toString
    info("dpp fired: " + plan.contains("dynamicpruning"))
    assert(plan.contains("dynamicpruning") ||
      plan.contains("PartitionFilters: [isnotnull(cid"),
      s"no partition pruning on the disk assignment scan:\n$plan")
  }

  test("appendIvfIndex: appended index probes equal a same-quantizer rebuild") {
    // incremental maintenance (VERDICT r7 "What's missing" #2): grow
    // the corpus by appending a batch assigned with the EXISTING
    // quantizer, and pin that probing the appended index equals
    // probing an index bulk-rebuilt over the full corpus with the SAME
    // centroids (re-training on drift is the caller's decision, so
    // same-quantizer is the exact-equality contract)
    import org.apache.spark.sql.functions._
    import graft.ops.LlmOps
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val dir = tmpDir("graft_ivf_append")
    LlmOps.writeIvfIndex(LlmOps.buildIvfIndex(base, nCentroids = 8), dir)
    val drift = LlmOps.appendIvfIndex(spark, dir, batch)
    assert(drift >= 0.0 && drift <= 1.0, s"drift signal out of range: $drift")
    info(f"drift signal (batch fraction outside old alpha_max): $drift%.3f")
    val appended = LlmOps.loadIvfIndex(spark, dir)
    // reference: full corpus assigned through the same coarse quantizer
    val cents = spark.read.parquet(s"$dir/centroids").select("cid", "cent")
      .withColumnRenamed("cent", "c_emb")
    val fullAssign = LlmOps.assignBuckets(emb, cents)
    val am = fullAssign.groupBy("cid").agg(max("alpha").as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rebuilt = LlmOps.IvfIdx(appended.cids, appended.cents,
      appended.cids.map(am.getOrElse(_, 0.0)), fullAssign)
    // merged α_max metadata equals the recomputed full-corpus value
    assert(appended.alphaMax.zip(rebuilt.alphaMax).forall { case (a, b) =>
      math.abs(a - b) < 1e-12 },
      s"merged alpha_max diverged: ${appended.alphaMax} vs ${rebuilt.alphaMax}")
    // the appended index holds every row exactly once
    assert(appended.assign.count() == emb.count())
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("p_id"),
        col("embedding").cast("array<double>").as("p_emb"))
    val app = LlmOps.simSearchIvfOn(appended, probes, topK = 10, nProbe = 3)
    val appRows = app.orderBy("p_id", "rank").collect().toSeq
    val ref = LlmOps.simSearchIvfOn(rebuilt, probes, topK = 10, nProbe = 3)
      .orderBy("p_id", "rank").collect().toSeq
    assert(appRows == ref, "appended-index probe differs from same-quantizer rebuild")
    // the probe against the appended table still partition-prunes
    val plan = app.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") ||
      plan.contains("PartitionFilters: [isnotnull(cid"),
      s"no partition pruning on the appended assignment scan:\n$plan")

    // an EMPTY increment is a no-op: zero drift, metadata and probe
    // results untouched (the idle-crawl case a scheduled maintenance
    // job hits routinely)
    val before = LlmOps.loadIvfIndex(spark, dir)
    val d0 = LlmOps.appendIvfIndex(spark, dir, emb.filter(col("vec_id") < -1))
    assert(d0 == 0.0)
    val after = LlmOps.loadIvfIndex(spark, dir)
    assert(after.cids == before.cids && after.alphaMax == before.alphaMax)
    assert(after.assign.count() == emb.count())
    val again = LlmOps.simSearchIvfOn(after, probes, topK = 10, nProbe = 3)
      .orderBy("p_id", "rank").collect().toSeq
    assert(again == appRows)
  }

  test("cloneDirByLink: clone probes identically; appending to the clone leaves the source index untouched") {
    // r9: llm_ivf_append_probe writes the base index once per session
    // (Memo.dir) and hardlink-clones the files into a fresh run dir
    // per run. Two contracts make that safe: (1) the clone
    // is byte-identical — loading it probes exactly like the source;
    // (2) append mutates the CLONE only (new files + replaced
    // directory entries), so the memoized source keeps serving
    // pristine base indexes to later runs.
    import org.apache.spark.sql.functions._
    import graft.ops.LlmOps
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val src = tmpDir("graft_ivf_clone_src")
    LlmOps.writeIvfIndex(LlmOps.buildIvfIndex(base, nCentroids = 8), src)
    val srcIdx = LlmOps.loadIvfIndex(spark, src)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("p_id"),
        col("embedding").cast("array<double>").as("p_emb"))
    val srcRows = LlmOps.simSearchIvfOn(srcIdx, probes, topK = 10, nProbe = 3)
      .orderBy("p_id", "rank").collect().toSeq
    val dst = tmpDir("graft_ivf_clone_dst")
    LlmOps.cloneDirByLink(src, dst)
    val cloneIdx = LlmOps.loadIvfIndex(spark, dst)
    assert(cloneIdx.cids == srcIdx.cids && cloneIdx.alphaMax == srcIdx.alphaMax)
    assert(LlmOps.simSearchIvfOn(cloneIdx, probes, topK = 10, nProbe = 3)
      .orderBy("p_id", "rank").collect().toSeq == srcRows,
      "cloned index probe differs from source")
    // grow the clone; then re-load the SOURCE and pin it unchanged
    LlmOps.appendIvfIndex(spark, dst, batch)
    assert(LlmOps.loadIvfIndex(spark, dst).assign.count() == emb.count())
    val srcAfter = LlmOps.loadIvfIndex(spark, src)
    assert(srcAfter.cids == srcIdx.cids && srcAfter.alphaMax == srcIdx.alphaMax,
      "append to clone perturbed the source quantizer metadata")
    assert(srcAfter.assign.count() == base.count(),
      "append to clone leaked rows into the source assignment")
    assert(LlmOps.simSearchIvfOn(srcAfter, probes, topK = 10, nProbe = 3)
      .orderBy("p_id", "rank").collect().toSeq == srcRows,
      "source index probe changed after clone append")
  }

  test("exact-aggregate and brute-force guards fail loudly toward the scale paths") {
    import graft.ops.{Aggs, LlmOps}
    // exact percentile: fine under the gate, refused over it
    val events = Tables.events(spark, sf001)
    assert(Aggs.requireExactAggSafe(events, "agg_percentile",
      "agg_approx_percentile") eq events)
    val big = spark.range(2L << 30).toDF("value") // 8 B/row ⇒ 16 GiB est
    val e1 = intercept[IllegalArgumentException] {
      Aggs.requireExactAggSafe(big, "agg_percentile", "agg_approx_percentile")
    }
    assert(e1.getMessage.contains("agg_approx_percentile"))
    // brute-force simsearch: the probe side is the broadcast side —
    // bounded in code, and the error names the ANN dispatch targets
    val e2 = intercept[IllegalArgumentException] {
      LlmOps.simSearch(Tables.embeddings(spark, sf001),
        nProbes = LlmOps.MaxBruteForceProbes + 1, topK = 10)
    }
    assert(e2.getMessage.contains("simSearchIvf"))
    // agg_abc_class WIRING (not just the helper): under a 1-byte
    // ceiling the REGISTERED op must refuse its global ranked window
    // and name the sketch path. Conf override, restored afterwards.
    spark.conf.set("graft.exactAgg.maxInputBytes", "1")
    try {
      val e3 = intercept[IllegalArgumentException] {
        SparkEntry.queries("agg_abc_class")(spark, sf001)
      }
      assert(e3.getMessage.contains("agg_abc_class") &&
        e3.getMessage.contains("agg_abc_class_approx"))
      // agg_percentile_weighted wiring: same refusal discipline, the
      // error names the bounded-state weighted sibling
      val e4 = intercept[IllegalArgumentException] {
        SparkEntry.queries("agg_percentile_weighted")(spark, sf001)
      }
      assert(e4.getMessage.contains("agg_percentile_weighted") &&
        e4.getMessage.contains("agg_percentile_weighted_approx"))
    } finally spark.conf.unset("graft.exactAgg.maxInputBytes")
    // and at catalog scale the guard passes: plan builds clean
    assert(SparkEntry.queries("agg_abc_class")(spark, sf001).columns
      .contains("cls"))
  }

  test("partition-sizing law: no-op at oracle scale, sized at soak scale") {
    val default = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // oracle-scale corpus: the law must be a strict no-op so the r13
    // dedup plans (and their DuckDB hashes) stay byte-identical
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
    assert(Scale.sizedShuffle(docs).isEmpty,
      "law engaged at oracle scale — dedup plans would change")
    // shuffleSized(None, …) introduces NOTHING: same object back
    assert(Scale.shuffleSized(None, docs, col("doc_id")) eq docs)
    // a statistically large input (range stats are exact: 8 B/row,
    // so 50M rows ≈ 400 MB ≫ the 1 MB/partition operating point)
    val big = spark.range(50L << 20).toDF("doc_id")
    val sized = Scale.sizedShuffle(big)
    assert(sized.exists(_ > default), s"law failed to engage: $sized")
    assert(sized.exists(_ <= 4096), "cap not applied")
    // the pinned exchange really is n-way on the key (logical-plan
    // pin — no need to run a 400 MB shuffle to read the count; an
    // explicit numPartitions is also what AQE refuses to coalesce,
    // which is the law's whole point)
    def repartNums(df: org.apache.spark.sql.DataFrame): Seq[Option[Int]] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical
            .RepartitionByExpression => r.optNumPartitions
      }
    assert(repartNums(Scale.shuffleSized(sized, big, col("doc_id")))
      == Seq(sized))
    // and repartitionSized keeps the materialization point either way
    assert(repartNums(Scale.repartitionSized(None, big, col("doc_id")))
      == Seq(None))
    assert(repartNums(Scale.repartitionSized(sized, big, col("doc_id")))
      == Seq(sized))
  }
}
