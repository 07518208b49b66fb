package graft.ops

import graft.{Memo, Op, OpModule, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the survey's original
  * §2.10 battery: PII scrubbing, repetition filtering (Gopher-style),
  * deterministic global shuffle, domain-mixture sampling, greedy
  * sequence packing, and duplicate-cluster connected components.
  *
  * Everything here follows the same posture as [[LlmOps]]: per-row
  * work stays in codegen'd Catalyst expressions / higher-order
  * functions (no Scala-closure UDFs), cross-row work shuffles on
  * content-derived keys, and every decision that a re-run must
  * reproduce (sampling, shuffling, splitting) is keyed on a content
  * hash, never on an RNG or partition order.
  */
object PipelineOps extends OpModule {

  import LlmOps.{normText, tokens}

  /** first 32 bits of md5(prefix || key) as a non-negative long —
    * the shared deterministic "randomness" primitive (same rendering
    * DuckDB reproduces via CAST('0x' || substr(md5(..),1,8) AS BIGINT)).
    */
  private def md5Bucket(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Per-source epoch schedule (llm_mixture_epochs / llm_epoch_expand):
    * budget 2× corpus, even allocation, epochs = min(4,
    * ceil(share/available)). Exact integer arithmetic throughout
    * (DIV ≡ DuckDB // on positive longs); one map-combined per-source
    * token count + a 1-row broadcast total. */
  private def epochSchedule(docs: DataFrame): DataFrame = {
    val bySrc = docs
      .select(col("source"), size(tokens(col("text"))).as("ntok"))
      .groupBy("source")
      .agg(sum(col("ntok")).as("available"))
    val tot = bySrc.agg(
      (sum(col("available")) * 2L).cast("long").as("budget"),
      count(lit(1)).as("n_sources"))
    bySrc.join(broadcast(tot))
      .withColumn("share", expr("budget DIV n_sources"))
      .withColumn("epochs",
        least(lit(4L), ceil(col("share").cast("double") /
          col("available").cast("double")).cast("long")))
      .withColumn("served",
        least(col("share"), col("epochs") * col("available")))
      .select("source", "available", "share", "epochs", "served")
  }

  /** DuckDB CTE chain mirroring [[epochSchedule]]; the final CTE `e`
    * carries (source, available, share, epochs). */
  private val epochScheduleCtes: String =
    """tok AS (
        SELECT source,
          len(string_split(lower(trim(
            regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS ntok
        FROM documents),
      g AS (
        SELECT source, CAST(sum(ntok) AS BIGINT) AS available
        FROM tok GROUP BY source),
      t AS (
        SELECT CAST(sum(available) * 2 AS BIGINT) AS budget,
          count(*) AS n_sources
        FROM g),
      x AS (
        SELECT g.source, g.available,
          CAST(t.budget // t.n_sources AS BIGINT) AS share
        FROM g, t),
      e AS (
        SELECT source, available, share,
          CAST(least(4, CAST(ceil(CAST(share AS DOUBLE) /
            CAST(available AS DOUBLE)) AS BIGINT)) AS BIGINT)
            AS epochs
        FROM x)"""

  // ---------------------------------------------------------------
  // PII scrubbing
  // ---------------------------------------------------------------

  /** Regex PII redaction — emails, IPv4 addresses, long card-like
    * digit runs, phone numbers — each replaced by a typed placeholder,
    * with per-category counts. The scrub is a chain of four
    * `regexp_replace` steps, each counted on the text AS THE PREVIOUS
    * STEP LEFT IT (so an IPv4-looking domain inside an already
    * redacted email is not double-counted) — one codegen projection,
    * no shuffle, no UDF; at 100 TB this runs wherever the scan runs.
    *
    * Patterns stay in the common Java-regex ∩ RE2 subset (character
    * classes, bounded repetition, `\b`) so the DuckDB oracle is
    * exact.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val pats = Seq(
      ("n_emails", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
      ("n_ips", "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
      ("n_ids", "\\b\\d{13,19}\\b", "<ID>"),
      ("n_phones", "\\b\\d{3}-\\d{3,4}-\\d{4}\\b", "<PHONE>"))
    val (scrubbed, counts) = pats.foldLeft((col("text"), Seq.empty[Column])) {
      case ((t, cs), (name, pat, repl)) =>
        (regexp_replace(t, pat, repl),
          cs :+ size(regexp_extract_all(t, lit(pat), lit(0))).as(name))
    }
    docs.select(col("doc_id") +: counts :+ md5(scrubbed).as("clean_digest"): _*)
  }

  // ---------------------------------------------------------------
  // Repetition filtering (Gopher-style quality signals)
  // ---------------------------------------------------------------

  /** Per-document repetition statistics and a keep/drop verdict —
    * the Gopher/MassiveText-style repetition filters adapted to a
    * corpus without line structure: distinct-token ratio, most
    * frequent bigram's share of all bigrams, and duplicate-trigram
    * fraction.
    *
    * The top-bigram share is computed PER ROW with no shuffle: sort
    * the bigram array, then a single `aggregate` fold finds the
    * longest equal-run. (The explode → groupBy(doc, gram) rendering
    * every SQL engine would use shuffles the whole corpus by gram —
    * correct, but pointlessly global for a per-document statistic.
    * The oracle uses that rendering; this side stays embarrassingly
    * parallel, which is the shape that survives 100 TB.)
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    // materialize arrays BEFORE any lambda references them: HOF
    // lambdas re-evaluate unbound outer expressions per element
    val toked = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        when(col("n") >= 2,
          array_sort(call_function("graft_shingles", col("toks"), lit(2))))
          .otherwise(array().cast("array<string>")).as("bg"),
        when(col("n") >= 3,
          call_function("graft_shingles", col("toks"), lit(3)))
          .otherwise(array().cast("array<string>")).as("tg"))
    // longest equal-run over the sorted bigram array = max bigram count
    val topRun = aggregate(
      col("bg"),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    toked
      .select(col("doc_id"), col("n").as("n_tokens"),
        round(size(array_distinct(col("toks"))).cast("double") / col("n"), 6)
          .as("uniq_ratio"),
        when(size(col("bg")) > 0,
          round(topRun.cast("double") / size(col("bg")), 6))
          .otherwise(lit(0.0)).as("top_bigram_frac"),
        when(size(col("tg")) > 0,
          round(lit(1.0) - size(array_distinct(col("tg"))).cast("double")
            / size(col("tg")), 6))
          .otherwise(lit(0.0)).as("dup_trigram_frac"))
      .withColumn("keep",
        col("uniq_ratio") >= 0.35 && col("top_bigram_frac") <= 0.06 &&
          col("dup_trigram_frac") <= 0.04)
  }

  // ---------------------------------------------------------------
  // Deterministic global shuffle
  // ---------------------------------------------------------------

  /** Reproducible corpus shuffle for training order: the shuffle key
    * is md5("shuf:" || doc_id), the shard is key mod `nShards`, and
    * the position is the rank within the shard. Identical on every
    * run and engine — no RNG, no partition-order dependence
    * (`df.orderBy(rand())` has both).
    *
    * Scale shape: a GLOBAL row_number would force a single-partition
    * sort; sharding first keeps every window partition-local, which
    * is exactly what a training job wants anyway (one output file per
    * shard, locally ordered). 100 TB = more shards, same plan.
    */
  def shuffleGlobal(docs: DataFrame, nShards: Int = 16): DataFrame = {
    val skey = md5Bucket(concat(lit("shuf:"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("skey", "doc_id")
    docs.select(col("doc_id"), skey.as("skey"))
      .withColumn("shard", col("skey") % nShards)
      .withColumn("pos", row_number().over(w))
      .select("doc_id", "skey", "shard", "pos")
  }

  // ---------------------------------------------------------------
  // Domain-mixture sampling
  // ---------------------------------------------------------------

  /** Downsample per `source` so the kept corpus matches a target
    * domain mixture — the "mix web : books : code at w₁:w₂:w₃" step
    * of training-data assembly. The achievable total under
    * downsampling-only is capped by the scarcest domain relative to
    * its weight (cap = min over s of n_s / w_s); each domain then
    * keeps rate_s = min(1, cap·w_s / n_s) of its documents,
    * content-keyed on the same md5 bucket primitive as
    * [[LlmOps.sampleStratified]] so re-runs and exact duplicates
    * agree.
    *
    * Two narrow passes at any scale: a map-side-combined count per
    * source (|sources| rows), a broadcast of the per-source
    * threshold, and a codegen'd filter over the corpus. No wide
    * shuffle of document data.
    */
  def domainMix(docs: DataFrame, weights: Map[String, Double],
      defaultWeight: Double): DataFrame = {
    val tw = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight)) {
      case (acc, (s, v)) => when(col("source") === s, lit(v)).otherwise(acc)
    }
    val t = docs.select(col("doc_id"), col("source"),
      (md5Bucket(normText(col("text"))) % 1000000).as("bucket"))
    val w = t.groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("tw", tw)
    val cap = w.agg(min(col("n").cast("double") / col("tw")).as("cap"))
    val thr = w.crossJoin(broadcast(cap))
      .select(col("source"),
        floor(least(lit(1.0), col("cap") * col("tw") / col("n")) * 1000000)
          .cast("long").as("thr"))
    t.join(broadcast(thr), "source")
      .filter(col("bucket") < col("thr"))
      .select("doc_id", "source", "bucket")
  }

  // ---------------------------------------------------------------
  // Greedy sequence packing
  // ---------------------------------------------------------------

  /** Pack documents into fixed-token-budget bins (the sequence-packing
    * step before training: concatenate docs up to `cap` tokens per
    * training sequence, start a new bin on overflow). Deterministic
    * first-fit over a content-hash bucketing: docs hash into `nBuckets`
    * independent packing groups, and within a group are packed in
    * doc_id order — so the layout is reproducible and bins never span
    * buckets.
    *
    * Scale shape: the only shuffle is the groupBy(bucket); each
    * bucket's doc list is then folded by ONE codegen'd `aggregate`
    * lambda (the greedy scan is inherently sequential per group, so
    * per-group is the most parallelism the problem admits). At 100 TB
    * you raise `nBuckets` until a bucket's (doc_id, ntok) pairs — 12
    * bytes/doc, not the text — fit an executor; 1M buckets ≈ 100-doc
    * groups at 10^11 docs.
    */
  def packSequences(docs: DataFrame, cap: Int = 200,
      nBuckets: Int = 32): DataFrame = {
    val base = docs.select(col("doc_id"),
      (md5Bucket(concat(lit("pack:"), col("doc_id").cast("string")))
        % nBuckets).as("bucket"),
      size(tokens(col("text"))).as("ntok"))
    val grouped = base.groupBy("bucket")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("ntok"))))
        .as("xs"))
    // typed empty array<struct<doc_id,ntok,bin>> for the fold seed
    val emptyOut = slice(
      transform(col("xs"), x => struct(x.getField("doc_id").as("doc_id"),
        x.getField("ntok").as("ntok"), lit(0).as("bin"))),
      lit(1), lit(0))
    val packed = aggregate(
      col("xs"),
      struct(lit(0).as("bin"), lit(0).as("fill"), emptyOut.as("out")),
      (acc, x) => {
        // overflow starts a new bin; an oversized doc still occupies
        // one bin alone (fill > cap, next doc overflows immediately)
        val over = acc.getField("fill") + x.getField("ntok") > cap &&
          acc.getField("fill") > 0
        val bin = when(over, acc.getField("bin") + 1)
          .otherwise(acc.getField("bin"))
        val fill = when(over, x.getField("ntok"))
          .otherwise(acc.getField("fill") + x.getField("ntok"))
        struct(bin.as("bin"), fill.as("fill"),
          concat(acc.getField("out"), array(struct(
            x.getField("doc_id").as("doc_id"),
            x.getField("ntok").as("ntok"),
            bin.as("bin")))).as("out"))
      },
      acc => acc.getField("out"))
    grouped.select(col("bucket"), explode(packed).as("p"))
      .select(col("p.doc_id").as("doc_id"), col("bucket"),
        col("p.ntok").as("ntok"), col("p.bin").as("bin"))
  }

  // ---------------------------------------------------------------
  // Duplicate-cluster connected components
  // ---------------------------------------------------------------

  /** Collapse near-duplicate PAIRS into duplicate CLUSTERS — the step
    * every dedup pipeline needs after candidate confirmation, because
    * "keep one doc per pair" over-deletes when a~b, b~c, a~c: the
    * right unit is the connected component. Edges come from the exact
    * Jaccard join ([[LlmOps.jaccardPairs]]); components via iterative
    * min-label propagation: every node starts as its own label and
    * repeatedly takes the min of its neighbourhood until fixpoint
    * (≤ diameter rounds — near-dup clusters are shallow).
    *
    * Scale shape: each round is one equi-join edges⋈labels + one
    * groupBy(node) min — all shuffles on node id, never materializing
    * anything driver-side. Two job-count economies matter at any
    * scale (and dominate at bench scale, where each extra job is
    * ~0.3-0.5 s of pure scheduling):
    *
    *  - round 1 is FUSED into initialization: labels start as node
    *    ids, so the first neighbourhood-min is just
    *    least(node, min(neighbour id)) — one groupBy over the edge
    *    list, no join, no separate "init labels" materialization;
    *  - each subsequent round runs ONE action: the updated labels are
    *    persisted carrying both old and new label, so materialization
    *    and the convergence check (any label strictly decreased?) are
    *    the same cached scan — no per-round checksum job, and the
    *    previous round's blocks are unpersisted immediately (the
    *    earlier localCheckpoint rendering leaked every round's blocks
    *    for the session lifetime).
    */
  /** The labels are a session memo ([[Memo]]) keyed on `docs` and
    * the parameters: clustering is a multi-job iterative computation
    * whose result a long-lived service re-reads (every "is this doc a
    * dup of cluster X?" query), so it memoizes ONE bounded persisted
    * frame; the memo's plan is a flat leaf over the final round, so
    * that round's own cache entry is freed once it is built. The
    * pairs stay lazy: this memo is their one consumer. */
  def dedupClusters(docs: DataFrame, tau: Double = 0.8,
      shingleN: Int = 5, maxIters: Int = 25): DataFrame =
    Memo.frameFreeing(s"ccl|t$tau|n$shingleN|i$maxIters", docs) {
      val pairs = LlmOps.jaccardPairsUnmemoized(docs, tau, shingleN)
        .select("doc_a", "doc_b")
      val (labels, handle) =
        connectedComponentsWithHandle(pairs, maxIters = maxIters)
      val sizes = org.apache.spark.sql.expressions.Window.partitionBy("lbl")
      (labels
        .withColumn("cluster_size", count(lit(1)).over(sizes))
        .select(col("node").as("doc_id"), col("lbl").as("cluster_id"),
          col("cluster_size")),
       Seq(handle))
    }

  /** Connected components of an undirected pair list → (node, lbl)
    * with lbl = the component's minimum node id. Two regimes:
    *
    *  - MIN-LABEL PROPAGATION (rounds = graph diameter) — optimal for
    *    the shallow, dense components near-dup graphs actually have;
    *  - STAR CONTRACTION fallback (alternating large-star/small-star,
    *    Kiveris et al. "Connected Components in MapReduce and
    *    Beyond", O(log n) rounds) — engaged automatically once
    *    propagation exceeds `propagationCap` rounds, guarding the
    *    pathological high-diameter case (a chain of borderline
    *    near-dups) where propagation would need O(n) rounds at 100 TB.
    */
  private[graft] def connectedComponents(pairs: DataFrame,
      propagationCap: Int = 10, maxIters: Int = 25): DataFrame =
    connectedComponentsWithHandle(pairs, propagationCap, maxIters)._1

  /** [[connectedComponents]] plus the persisted DataFrame whose cache
    * blocks back the returned (lazy) labels. A caller that
    * materializes its OWN copy of the labels (a [[graft.Memo]]) must
    * unpersist the handle afterwards or the final round stays cached
    * for the session with no reachable reference (ADVICE-class leak);
    * a caller that keeps reading the lazy frame must keep it alive.
    */
  private[graft] def connectedComponentsWithHandle(pairs: DataFrame,
      propagationCap: Int = 10, maxIters: Int = 25): (DataFrame, DataFrame) = {
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b")))
      .persist()
    // round 1, fused: initial labels are the node ids themselves, so
    // the first propagation needs no labels join at all
    val init = edges.groupBy(col("doc_a").as("node"))
      .agg(min("doc_b").as("nb_min"))
      .select(col("node"), least(col("node"), col("nb_min")).as("lbl"))
      .persist()
    var converged = false
    var it = 1
    val cap = math.min(propagationCap, maxIters)
    // the DataFrame actually persisted each round. From round 2 on,
    // `labels` is a PROJECTION of the persisted `upd`, and
    // Dataset.unpersist (cascade=false) only drops sameResult plans —
    // unpersisting the projection is a no-op, so without this handle
    // up to cap-1 corpus-sized cached rounds would accumulate
    var persisted = init
    // decouple round N+1's plan from round N's CACHE ENTRY before
    // round N is dropped: CacheManager re-compiles cache entries that
    // depend on an unpersisted plan, DISCARDING their materialized
    // buffers — so unpersisting round N directly under round N+1
    // silently recomputes every later round from scratch (measured
    // 2.4× on llm_dedup_clusters). Re-wrapping the materialized rows
    // as a flat LogicalRDD (internal rows — no Row conversion) gives
    // the next round a plan with no Catalyst dependency on the dropped
    // entry: memory stays bounded AND nothing recomputes.
    def rewrap(df: DataFrame): DataFrame =
      org.apache.spark.sql.graftbridge.Bridge.rewrapInternal(df)
    // the SAME decoupling applies to round 1: upd1 must be built over
    // a flat leaf, not over init's cached plan, or the loop's first
    // `persisted.unpersist()` recompiles upd1's fresh cache entry and
    // round 2 silently recomputes the full first round
    var labels = rewrap(init)
    // DELTA FRONTIER: labels only ever decrease, and a node can only
    // improve when a NEIGHBOR's label decreased last round — so each
    // round joins edges against the CHANGED nodes only, not the full
    // label table. Round 2 typically touches a small fraction of the
    // graph; at 100 TB this is the difference between per-round work
    // proportional to the frontier and per-round work proportional to
    // the corpus. After init every node counts as changed.
    var active = labels
    while (!converged && it < cap) {
      val nbMin = edges
        .join(active.select(col("node").as("doc_b"), col("lbl").as("nlbl")),
          "doc_b")
        .groupBy(col("doc_a").as("node"))
        .agg(min("nlbl").as("nb_min"))
      val upd = labels.join(nbMin, Seq("node"), "left")
        .select(col("node"), col("lbl").as("old_lbl"),
          least(col("lbl"), coalesce(col("nb_min"), col("lbl"))).as("lbl"))
        .persist()
      // one action: a full aggregate materializes EVERY partition of
      // upd into the cache AND answers "did anything move?" (isEmpty
      // would short-circuit via take(1), leaving upd partially cached
      // and later rounds recomputing through a growing lineage)
      val moved = upd.agg(count(when(col("lbl") < col("old_lbl"), 1)))
        .first().getLong(0)
      converged = moved == 0L
      val flat = rewrap(upd)
      persisted.unpersist()
      persisted = upd
      labels = flat.select("node", "lbl")
      active = flat.filter(col("lbl") < col("old_lbl")).select("node", "lbl")
      it += 1
    }
    val (out, handle) = if (converged) (labels, persisted)
    else {
      // high-diameter graph: propagation is still moving after `cap`
      // rounds — switch to the O(log n) contraction. The returned
      // frame is REWRAPPED so callers that persist a projection of it
      // (a memo) can drop `handle` without CacheManager
      // recompiling — and discarding — their own fresh cache entry.
      persisted.unpersist()
      val (sl, _) = starContract(edges)
      (rewrap(sl), sl)
    }
    edges.unpersist()
    (out, handle)
  }

  /** Alternating large-star/small-star contraction. Each round is two
    * [groupBy(node) min + equi-join] passes over the current edge
    * list — same shuffle class as one propagation round — but the
    * edge set contracts toward per-component stars in O(log n)
    * rounds regardless of diameter. At convergence every component is
    * a single star centered at its minimum node (the paper's
    * invariant), so labels read directly off the final edges. Returns
    * (labels, rounds) — rounds is exposed for the PipelineSpec pin.
    */
  private[graft] def starContract(edges0: DataFrame): (DataFrame, Int) = {
    val spark = edges0.sparkSession
    val nodes = edges0.select(col("doc_a").as("node")).distinct().persist()
    var cached = edges0.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .distinct().persist()
    // each round's plan references the previous round's ~4 times, so
    // building directly on the prior DataFrame grows the ANALYSIS tree
    // exponentially with rounds (the execution would be fine — the
    // cache truncates it — but Catalyst re-analyzes the full logical
    // plan every round). Re-wrapping the materialized rows as a
    // LogicalRDD starts every round from a flat plan.
    def rewrap(df: DataFrame): DataFrame =
      org.apache.spark.sql.graftbridge.Bridge.rewrapInternal(df)
    var e = rewrap(cached)
    var rounds = 0
    var sig: (Long, Long, Long, Long, Long) = (-1L, -1L, -1L, -1L, -1L)
    var done = false
    while (!done && rounds < 50) {
      // large-star: every neighbor v > u connects to m = min(Γ(u)∪{u})
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mL = sym.groupBy("u").agg(min("v").as("mnv"))
        .select(col("u"), least(col("u"), col("mnv")).as("m"))
      val large = sym.join(mL, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: every neighbor v ≤ u (and u itself) connects to m
      val mS = large.unionByName(large.select(col("v").as("u"), col("u").as("v")))
        .groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val symL = large.unionByName(
        large.select(col("v").as("u"), col("u").as("v")))
      val small = symL.join(mS, "u")
        .filter(col("v") <= col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mS.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .persist()
      // one tiny action: a 5-component signature — unchanged edge set
      // means the stars are stable. Count + two INDEPENDENT hash
      // families (Murmur3 and xxHash64) + raw coordinate sums: a
      // single hash-sum can collide between different edge sets and
      // end the contraction early with wrong labels; a simultaneous
      // collision across both hash families AND both coordinate sums
      // is not a plausible event. The action also materializes `small`
      // into the cache before the previous round is dropped
      // overflow-free under ANSI: the int Murmur3 hashes sum safely in
      // a long; the 64-bit xxHash family folds via bit_xor (edges are
      // distinct, so no pair self-cancels); coordinate sums reduce mod
      // a prime first
      val row = small.agg(count(lit(1)),
        coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)),
        coalesce(sum(pmod(col("u").cast("long"), lit(1000000007L))), lit(0L)),
        coalesce(sum(pmod(col("v").cast("long"), lit(1000000007L))), lit(0L))).first()
      val newSig = (row.getLong(0), row.getLong(1), row.getLong(2),
        row.getLong(3), row.getLong(4))
      cached.unpersist()
      cached = small
      e = rewrap(small)
      done = newSig == sig
      sig = newSig
      rounds += 1
    }
    // the r19 semdedup lesson (a guard that can give up needs its
    // give-up path handled): alternating star contraction provably
    // converges in O(log n) rounds, so 50 covers ~2^50 components —
    // but IF that invariant is ever broken (a bug in the round
    // bodies), exiting here silently would hand back WRONG labels.
    // Fail loudly instead; correctness never degrades quietly.
    if (!done)
      throw new IllegalStateException(
        s"star contraction did not converge within $rounds rounds — " +
          "the O(log n) invariant is broken; refusing to emit " +
          "unconverged component labels")
    // at convergence e holds (child → component-min) star edges; a
    // component's root has no outgoing edge and labels itself
    val labels = nodes
      .join(e.groupBy(col("u").as("node")).agg(min("v").as("root")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("lbl"))
      .persist()
    // materialize BEFORE dropping the per-round caches: the lazy
    // lineage branches twice per contraction round and would be
    // exponential to recompute uncached
    labels.count()
    nodes.unpersist()
    cached.unpersist()
    (labels, rounds)
  }

  // ---------------------------------------------------------------
  // Incremental dedup: new batch vs existing corpus
  // ---------------------------------------------------------------

  /** Deduplicate an INCOMING batch against an EXISTING corpus — the
    * shape every production pipeline actually runs (a new crawl lands
    * against petabytes already ingested), where a self-join of
    * corpus ∪ batch would re-pay the whole corpus×corpus work for
    * every increment. Exact n-gram Jaccard with the same prefix-filter
    * theorem as [[LlmOps.jaccardPairs]], applied CROSS-set: only
    * prefix postings of each side meet in the candidate join, so the
    * shuffle is batch-prefixes ⋈ corpus-prefixes, the confirm touches
    * candidates only, and nothing ever pairs corpus docs with each
    * other. Output is one row per batch doc: its best corpus match
    * (highest Jaccard, ties to the smallest corpus id) or nulls if
    * novel.
    *
    * At 100 TB the corpus prefix postings are a materialized,
    * shingle-bucketed table maintained across increments; each batch
    * join then shuffles only the (small) batch side against it —
    * Spark broadcasts the batch postings when they fit.
    */
  def dedupIncremental(corpus: DataFrame, batch: DataFrame,
      tau: Double = 0.8, shingleN: Int = 5): DataFrame = {
    val cs = LlmOps.shingleSets(corpus, shingleN)
    matchBatch(batch, LlmOps.shingleSets(batch, shingleN),
      LlmOps.prefixPostings(cs, tau), cs, tau)
  }

  /** Shared back half of the incremental-dedup paths: cross-set
    * candidate join on prefix postings, exact-Jaccard confirm on
    * candidates only, best match per batch doc as a struct-max
    * aggregate (no window): jaccard desc, ties to the smallest
    * corpus id via the negated id.
    */
  private def matchBatch(batch: DataFrame, bs: DataFrame,
      corpusPostings: DataFrame, corpusShingles: DataFrame,
      tau: Double): DataFrame = {
    val cand = LlmOps.prefixPostings(bs, tau)
      .select(col("doc_id").as("batch_id"), col("s"))
      .join(corpusPostings
        .select(col("doc_id").as("corpus_id"), col("s").as("s_b")),
        col("s") === col("s_b"))
      .select("batch_id", "corpus_id")
      .dropDuplicates("batch_id", "corpus_id")
    val confirmed = cand
      .join(bs.select(col("doc_id").as("batch_id"), col("sh").as("sh_a")),
        "batch_id")
      .join(corpusShingles
        .select(col("doc_id").as("corpus_id"), col("sh").as("sh_b")),
        "corpus_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= tau)
    val best = confirmed.groupBy("batch_id")
      .agg(max(struct(col("jaccard"), (-col("corpus_id")).as("nid"))).as("b"))
      .select(col("batch_id").as("doc_id"),
        (-col("b.nid")).as("dup_of"), col("b.jaccard").as("jaccard"))
    batch.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("jaccard"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** Materialize the corpus side of [[dedupIncremental]] as the
    * on-disk layout its Scaladoc names: the prefix POSTINGS (one row
    * per (shingle, doc_id) prefix entry, bucketed by shingle hash so
    * a batch join co-locates) and the full shingle SETS (fetched only
    * for confirmed candidates). Maintained across increments by
    * appending each accepted batch's rows — no corpus rebuild.
    */
  def writeCorpusPostings(corpus: DataFrame, dir: String,
      tau: Double = 0.8, shingleN: Int = 5, nBuckets: Int = 64): Unit = {
    val cs = LlmOps.shingleSets(corpus, shingleN)
    LlmOps.prefixPostings(cs, tau)
      .withColumn("bucket", pmod(xxhash64(col("s")), lit(nBuckets)))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings")
    cs.write.mode("overwrite").parquet(s"$dir/shingles")
    // postings are only valid for the (tau, shingleN) they were cut
    // at — pin them so append/query can't silently drift
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/meta.json"),
      s"""{"tau":$tau,"shingleN":$shingleN,"nBuckets":$nBuckets}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def postingsMeta(dir: String): (Double, Int, Int) = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/meta.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    def num(k: String): String =
      s.split(s""""$k":""")(1).takeWhile(c => c.isDigit || c == '.')
    (num("tau").toDouble, num("shingleN").toInt, num("nBuckets").toInt)
  }

  /** Append an ACCEPTED batch to the materialized corpus tables —
    * the maintenance half of the incremental cycle: after
    * [[dedupIncrementalAgainst]] clears a batch, its novel docs join
    * the corpus by appending their postings/shingles rows (partition-
    * append into the same shingle buckets; no rebuild, no read of
    * existing data). Cut parameters come from the table's meta file,
    * so an append can never mix prefix lengths.
    */
  def appendCorpusPostings(accepted: DataFrame, dir: String): Unit = {
    val (tau, shingleN, nBuckets) = postingsMeta(dir)
    val as = LlmOps.shingleSets(accepted, shingleN)
    LlmOps.prefixPostings(as, tau)
      .withColumn("bucket", pmod(xxhash64(col("s")), lit(nBuckets)))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$dir/postings")
    as.write.mode("append").parquet(s"$dir/shingles")
  }

  /** [[dedupIncremental]] against a postings table written by
    * [[writeCorpusPostings]]: the batch never touches corpus TEXT —
    * its prefix postings join the materialized corpus postings
    * (shingle-bucketed, so the exchange co-locates), and corpus
    * shingle sets load only for candidate ids. Result is identical to
    * the from-text path (pinned in PipelineSpec).
    */
  def dedupIncrementalAgainst(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame): DataFrame = {
    val (tau, shingleN, _) = postingsMeta(dir)
    matchBatch(batch, LlmOps.shingleSets(batch, shingleN),
      spark.read.parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/shingles"), tau)
  }

  /** Approximate (MinHash-LSH) batch-vs-corpus near-dup flagging —
    * the incremental form of [[LlmOps.nearDupPairs]], for when the
    * exact prefix-filter join ([[dedupIncremental]]) is too much and
    * LSH recall is enough. Batch band signatures meet corpus band
    * signatures in an equi-join (never corpus×corpus, never
    * batch×corpus products); candidates confirm by exact token-set
    * Jaccard; one best-match row per batch doc. At 100 TB the corpus
    * bands are a materialized table appended per accepted increment —
    * the same maintenance posture as [[writeCorpusPostings]].
    */
  def dedupIncrementalNear(corpus: DataFrame, batch: DataFrame,
      k: Int = 16, bands: Int = 4, jaccardMin: Double = 0.5): DataFrame = {
    val (cBands, cSets) = LlmOps.bandedMinhash(corpus, k, bands)
    val (bBands, bSets) = LlmOps.bandedMinhash(batch, k, bands)
    val cand = bBands.select(col("doc_id").as("batch_id"),
        col("band_id"), col("band_hash"))
      .join(cBands.select(col("doc_id").as("corpus_id"),
        col("band_id").as("band_id_b"), col("band_hash").as("band_hash_b")),
        col("band_id") === col("band_id_b") &&
          col("band_hash") === col("band_hash_b"))
      .select("batch_id", "corpus_id")
      .dropDuplicates("batch_id", "corpus_id")
    val confirmed = cand
      .join(bSets.select(col("doc_id").as("batch_id"), col("tokset").as("set_a")),
        "batch_id")
      .join(cSets.select(col("doc_id").as("corpus_id"), col("tokset").as("set_b")),
        "corpus_id")
      // same r15 confirm shape as nearDupPairs: O(1) length prune,
      // then single-intersect Jaccard over the hashed long sets
      .filter(least(size(col("set_a")), size(col("set_b"))).cast("double")
        >= greatest(size(col("set_a")), size(col("set_b"))) * jaccardMin)
      .withColumn("jaccard",
        LlmOps.jaccardOfSets(col("set_a"), col("set_b")))
      .filter(col("jaccard") >= jaccardMin)
    val best = confirmed.groupBy("batch_id")
      .agg(max(struct(col("jaccard"), (-col("corpus_id")).as("nid"))).as("b"))
      .select(col("batch_id").as("doc_id"),
        (-col("b.nid")).as("dup_of"), col("b.jaccard").as("jaccard"))
    batch.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("jaccard"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  // ---------------------------------------------------------------
  // End-to-end corpus preparation funnel
  // ---------------------------------------------------------------

  /** The whole corpus-prep pipeline as ONE funnel: exact dedup →
    * quality filter → train-split assignment, reported as survivor
    * counts per stage. The point is the COMPOSITION SHAPE: every
    * stage is a per-doc flag computed in the same pass (one content-
    * hash window for the dedup winner, codegen'd projections for the
    * rest), and the funnel is a single conditional aggregate — one
    * scan + one window shuffle + one 1-row agg, NOT four passes over
    * the corpus. At 100 TB that difference is the pipeline's cost.
    *
    * `maxTopBigramFrac` is the quality dial (the full Gopher battery
    * lives in [[repetitionStats]]; one robust signal keeps the funnel
    * oracle-exact on any corpus).
    */
  /** Streaming-safe per-doc content signals — content hash, split
    * bucket, top-bigram share — as PURE PROJECTIONS (no window, no
    * aggregate), so the exact same column logic runs under `read` and
    * `readStream` ([[graft.streaming.CorpusIngest]] is the streaming
    * consumer; [[corpusFunnel]] the batch one).
    */
  def contentSignals(docs: DataFrame,
      passthrough: Seq[String] = Nil): DataFrame = {
    val norm = normText(col("text"))
    val extra = passthrough.map(col)
    val toked = docs
      .select(col("doc_id") +: md5(norm).as("h") +:
        (md5Bucket(norm) % 100).as("bucket") +:
        tokens(col("text")).as("toks") +: extra: _*)
      .select(col("doc_id") +: col("h") +: col("bucket") +:
        when(size(col("toks")) >= 2, array_sort(
          call_function("graft_shingles", col("toks"), lit(2))))
          .otherwise(array().cast("array<string>")).as("bg") +: extra: _*)
    val topRun = aggregate(
      col("bg"),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    toked.select(col("doc_id") +: col("h") +: col("bucket") +:
      when(size(col("bg")) > 0, topRun.cast("double") / size(col("bg")))
        .otherwise(lit(0.0)).as("tbf") +: passthrough.map(col): _*)
  }

  def corpusFunnel(docs: DataFrame,
      maxTopBigramFrac: Double = 0.5): DataFrame = {
    val wH = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy("doc_id")
    val flagged = contentSignals(docs)
      .withColumn("keep_dedup", row_number().over(wH) === 1)
      .withColumn("keep_quality",
        col("keep_dedup") && col("tbf") <= maxTopBigramFrac)
      .withColumn("keep_train", col("keep_quality") && col("bucket") < 90)
    val one = flagged.agg(
      count(lit(1)).as("n_raw"),
      count(when(col("keep_dedup"), 1)).as("n_dedup"),
      count(when(col("keep_quality"), 1)).as("n_quality"),
      count(when(col("keep_train"), 1)).as("n_train"))
    one.select(explode(array(
        struct(lit("1_raw").as("stage"), col("n_raw").as("n_docs")),
        struct(lit("2_dedup").as("stage"), col("n_dedup").as("n_docs")),
        struct(lit("3_quality").as("stage"), col("n_quality").as("n_docs")),
        struct(lit("4_train").as("stage"), col("n_train").as("n_docs"))))
        .as("s"))
      .select("s.*")
  }

  // ---------------------------------------------------------------

  private val docTable: (org.apache.spark.sql.SparkSession, String) => DataFrame =
    (s, d) => Tables.documents(s, d)

  /** Shared dataset-card SQL (llm_corpus_card): one multi-aggregate
    * row fanned to (metric, value) rows. Spliced per engine: the
    * exact-percentile function name and the whitespace-normalize
    * expression (Spark regexp_replace is global, DuckDB needs 'g'). */
  private def corpusCardSql(src: String, quantFn: String,
      norm: String): String =
    s"""WITH m AS (
          SELECT CAST(count(*) AS DOUBLE) AS n_docs,
            CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
            CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
            CAST(sum(n_chars) AS DOUBLE) AS total_chars,
            round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars,
            round($quantFn(n_chars, 0.5), 6) AS p50_chars,
            round(1e0 - CAST(count(DISTINCT md5(lower(trim($norm))))
              AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS exact_dup_rate
          FROM $src)
        SELECT 'exact_dup_rate' AS metric, exact_dup_rate AS value FROM m
        UNION ALL SELECT 'mean_chars', mean_chars FROM m
        UNION ALL SELECT 'n_docs', n_docs FROM m
        UNION ALL SELECT 'n_langs', n_langs FROM m
        UNION ALL SELECT 'n_sources', n_sources FROM m
        UNION ALL SELECT 'p50_chars', p50_chars FROM m
        UNION ALL SELECT 'total_chars', total_chars FROM m
        ORDER BY metric"""

  def ops: Seq[Op] = Seq(

    Op("llm_pii_scrub",
      // workload plants deterministic PII on every 7th doc (the
      // fixture corpus has none) so redaction is exercised at every
      // SF; counts are per-category, digest proves the rewrite
      (s, d) => {
        val docs = docTable(s, d)
        val planted = docs.select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"),
            lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com from 10.0."),
            (col("doc_id") % 256).cast("string"),
            lit(".7 call 555-867-5309 card 4111111111111111")))
            .otherwise(col("text")).as("text"))
        piiScrub(planted).orderBy("doc_id")
      },
      Some("""WITH raw AS (
                SELECT doc_id,
                  CASE WHEN doc_id % 7 = 0 THEN text
                    || ' contact u' || CAST(doc_id AS VARCHAR)
                    || '@example.com from 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR)
                    || '.7 call 555-867-5309 card 4111111111111111'
                  ELSE text END AS t0
                FROM documents),
              s1 AS (SELECT doc_id, t0,
                  regexp_replace(t0, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
                    '<EMAIL>', 'g') AS t1 FROM raw),
              s2 AS (SELECT *, regexp_replace(t1,
                  '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2 FROM s1),
              s3 AS (SELECT *, regexp_replace(t2,
                  '\b\d{13,19}\b', '<ID>', 'g') AS t3 FROM s2),
              s4 AS (SELECT *, regexp_replace(t3,
                  '\b\d{3}-\d{3,4}-\d{4}\b', '<PHONE>', 'g') AS t4 FROM s3)
              SELECT doc_id,
                CAST(len(regexp_extract_all(t0,
                  '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER)
                  AS n_emails,
                CAST(len(regexp_extract_all(t1,
                  '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INTEGER) AS n_ips,
                CAST(len(regexp_extract_all(t2,
                  '\b\d{13,19}\b')) AS INTEGER) AS n_ids,
                CAST(len(regexp_extract_all(t3,
                  '\b\d{3}-\d{3,4}-\d{4}\b')) AS INTEGER) AS n_phones,
                md5(t4) AS clean_digest
              FROM s4 ORDER BY doc_id""")),

    Op("llm_repetition",
      (s, d) => repetitionStats(docTable(s, d)).orderBy("doc_id"),
      Some("""WITH t AS (
                SELECT doc_id, string_split(lower(trim(
                  regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
                FROM documents),
              b AS (
                SELECT doc_id, toks, len(toks) AS n,
                  CASE WHEN len(toks) >= 2 THEN
                    list_transform(generate_series(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1])
                  ELSE [] END AS bgs,
                  CASE WHEN len(toks) >= 3 THEN
                    list_transform(generate_series(1, len(toks) - 2),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                  ELSE [] END AS tgs
                FROM t),
              ex AS (SELECT doc_id, unnest(bgs) AS g FROM b),
              cnt AS (SELECT doc_id, g, count(*) AS c FROM ex GROUP BY 1, 2),
              top AS (SELECT doc_id, max(c) AS mx FROM cnt GROUP BY 1),
              stats AS (
                SELECT b.doc_id,
                  CAST(n AS INTEGER) AS n_tokens,
                  round(CAST(len(list_distinct(toks)) AS DOUBLE) / n, 6)
                    AS uniq_ratio,
                  CASE WHEN len(bgs) > 0 THEN
                    round(CAST(coalesce(top.mx, 0) AS DOUBLE) / len(bgs), 6)
                  ELSE 0.0 END AS top_bigram_frac,
                  CASE WHEN len(tgs) > 0 THEN
                    round(1.0 - CAST(len(list_distinct(tgs)) AS DOUBLE)
                      / len(tgs), 6)
                  ELSE 0.0 END AS dup_trigram_frac
                FROM b LEFT JOIN top ON b.doc_id = top.doc_id)
              SELECT *,
                (uniq_ratio >= 0.35 AND top_bigram_frac <= 0.06
                  AND dup_trigram_frac <= 0.04) AS keep
              FROM stats ORDER BY doc_id""")),

    Op("llm_shuffle_global",
      (s, d) => shuffleGlobal(docTable(s, d), nShards = 16).orderBy("doc_id"),
      Some("""WITH t AS (
                SELECT doc_id,
                  CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)),
                    1, 8)) AS BIGINT) AS skey
                FROM documents)
              SELECT doc_id, skey, skey % 16 AS shard,
                CAST(row_number() OVER (PARTITION BY skey % 16
                  ORDER BY skey, doc_id) AS INTEGER) AS pos
              FROM t ORDER BY doc_id""")),

    Op("llm_domain_cap",
      // per-domain document cap (the FineWeb/RefinedWeb anti-spam
      // step beside the RATE-based domain_mix: a single domain may
      // not contribute more than K documents, best-first): keep the
      // top K=10 per source by length then doc_id — the quality-
      // ranked truncation that stops one crawler-friendly site from
      // dominating a mixture no matter what the rate says. Expressed
      // as the declarative rank-filter (row_number per source ≤ K) so
      // Catalyst plans WindowGroupLimit: each map task pre-truncates
      // its partition to K rows PER KEY before the shuffle, so the
      // exchange carries ≤ K·|domains| rows per task, never the
      // corpus — the built-in equivalent of agg_topk_partial's
      // bounded aggregator (PlanSpec pins the limit node).
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        docTable(s, d)
          .select("doc_id", "source", "n_chars")
          .withColumn("rank_in_source", row_number().over(w))
          .filter(col("rank_in_source") <= 10)
          .orderBy("source", "rank_in_source")
      },
      Some("""WITH r AS (
                SELECT doc_id, source, n_chars,
                  row_number() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id ASC) AS rank_in_source
                FROM documents)
              SELECT doc_id, source, n_chars,
                CAST(rank_in_source AS INTEGER) AS rank_in_source
              FROM r WHERE rank_in_source <= 10
              ORDER BY source, rank_in_source""")),

    Op("llm_chat_format",
      // SFT chat-template rendering — the prep step between a paired
      // (prompt, response) corpus and the trainer: each pair becomes
      // ONE training string with role tags plus its token count (the
      // packing input llm_pack_sequences consumes). Pairing here is
      // deterministic fixture wiring (even doc = prompt, its
      // successor = response; unpaired tails drop) — the OPERATOR
      // under test is the render: pure string assembly + the shared
      // tokens() kernel, identical concat on both engines. One
      // equi-join on the pair key, then a codegen map — at scale the
      // join is the only exchange and rides whatever layout the pair
      // table already has.
      (s, d) => {
        val docs = docTable(s, d).select("doc_id", "text")
        val p = docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("pair_id"), col("text").as("prompt"))
        val r = docs.filter(col("doc_id") % 2 === 1)
          .select((col("doc_id") - 1).as("pair_id"),
            col("text").as("response"))
        p.join(r, Seq("pair_id"))
          .select(col("pair_id"),
            concat(lit("<|user|>\n"), col("prompt"),
              lit("\n<|assistant|>\n"), col("response"),
              lit("<|end|>")).as("rendered"))
          .withColumn("n_toks", size(tokens(col("rendered"))))
          .orderBy("pair_id")
      },
      Some("""WITH p AS (
                SELECT doc_id AS pair_id, text AS prompt
                FROM documents WHERE doc_id % 2 = 0),
              r AS (
                SELECT doc_id - 1 AS pair_id, text AS response
                FROM documents WHERE doc_id % 2 = 1),
              j AS (
                SELECT p.pair_id,
                  '<|user|>' || chr(10) || p.prompt || chr(10) ||
                  '<|assistant|>' || chr(10) || r.response || '<|end|>'
                    AS rendered
                FROM p JOIN r ON p.pair_id = r.pair_id)
              SELECT pair_id, rendered,
                CAST(len(string_split(lower(trim(
                  regexp_replace(rendered, '\s+', ' ', 'g'))), ' '))
                  AS INTEGER) AS n_toks
              FROM j ORDER BY pair_id""")),

    Op("llm_source_overlap",
      // source-pair content overlap — the crawl-dedup planning view
      // (which feeds mirror each other, and how much of a new feed
      // is already covered): Jaccard of the two sources' distinct
      // OPENING-PREFIX sets (md5 of the first 8 normalized tokens —
      // whole-document hashes never collide across this fixture's
      // sources, while shared boilerplate openings are exactly the
      // real-world mirror signal) for every source pair that shares
      // at least one prefix. Candidates come from a prefix-hash
      // EQUI-join (a prefix shared by k sources yields its C(k,2)
      // pairs — never a source×source product over documents), set
      // sizes ride a |sources|-row broadcast, |∪| = |A|+|B|−|∩|
      // arithmetically. Exact ints + one IEEE division.
      (s, d) => {
        val hs = docTable(s, d)
          .select(col("source"),
            md5(array_join(slice(split(normText(col("text")), " "),
              1, 8), " ")).as("h"))
          .distinct()
        val sz = hs.groupBy("source").agg(count(lit(1)).as("n"))
        val pairs = hs.select(col("source").as("sa"), col("h"))
          .join(hs.select(col("source").as("sb"), col("h")), Seq("h"))
          .filter(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("n_shared"))
        pairs
          .join(broadcast(sz.select(col("source").as("sa"),
            col("n").as("na"))), Seq("sa"))
          .join(broadcast(sz.select(col("source").as("sb"),
            col("n").as("nb"))), Seq("sb"))
          .select(col("sa"), col("sb"), col("n_shared"),
            round(col("n_shared").cast("double") /
              (col("na") + col("nb") - col("n_shared")).cast("double"),
              6).as("jaccard"))
          .orderBy("sa", "sb")
      },
      Some("""WITH hs AS (
                SELECT DISTINCT source,
                  md5(array_to_string((string_split(lower(trim(
                    regexp_replace(text, '\s+', ' ', 'g'))), ' '))[1:8],
                    ' ')) AS h
                FROM documents),
              sz AS (
                SELECT source, count(*) AS n FROM hs GROUP BY source),
              p AS (
                SELECT a.source AS sa, b.source AS sb,
                  count(*) AS n_shared
                FROM hs a JOIN hs b
                  ON a.h = b.h AND a.source < b.source
                GROUP BY 1, 2)
              SELECT p.sa, p.sb, CAST(p.n_shared AS BIGINT) AS n_shared,
                round(CAST(p.n_shared AS DOUBLE) /
                  CAST(za.n + zb.n - p.n_shared AS DOUBLE), 6)
                  AS jaccard
              FROM p JOIN sz za ON p.sa = za.source
              JOIN sz zb ON p.sb = zb.source
              ORDER BY sa, sb""")),

    Op("llm_shard_assign",
      // deterministic output sharding — the WebDataset/tfrecord prep
      // step: every doc lands in shard = content-hash % 64 (the
      // trainSplit md5 convention — re-runs, replicas and engines
      // agree on every doc's shard, and byte-identical dups land in
      // the SAME shard, which keeps shard-local dedup honest), with
      // a per-shard balance report (n_docs, bytes, load vs the even
      // split). The assignment is a pure codegen projection riding
      // the scan; the report is one map-combined aggregate + a 1-row
      // broadcast for the load ratio — 64 rows cross the shuffle at
      // any corpus size. Writing would be
      // `.repartition(64, col("shard_id")).write` — the exchange the
      // trainer's reader expects.
      (s, d) => {
        val docs = docTable(s, d)
          .select(col("n_chars"),
            (md5Bucket(normText(col("text"))) % 64).as("shard_id"))
        val shards = docs.groupBy("shard_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_bytes"))
        val tot = shards.agg(sum(col("n_docs")).cast("long").as("tot"))
        shards.join(broadcast(tot))
          .withColumn("load",
            round(col("n_docs").cast("double") * 64d /
              col("tot").cast("double"), 6))
          .select("shard_id", "n_docs", "n_bytes", "load")
          .orderBy("shard_id")
      },
      Some("""WITH s AS (
                SELECT CAST(('0x' || substr(md5(lower(trim(
                    regexp_replace(text, '\s+', ' ', 'g')))), 1, 8))
                    AS BIGINT) % 64 AS shard_id,
                  n_chars
                FROM documents),
              g AS (
                SELECT shard_id, count(*) AS n_docs,
                  sum(n_chars) AS n_bytes
                FROM s GROUP BY shard_id)
              SELECT shard_id, n_docs, CAST(n_bytes AS BIGINT) AS n_bytes,
                round(CAST(n_docs AS DOUBLE) * 64 /
                  CAST((SELECT sum(n_docs) FROM g) AS DOUBLE), 6) AS load
              FROM g ORDER BY shard_id""")),

    Op("llm_sft_filter",
      // instruction-pair quality gate — the SFT sibling of the gopher
      // battery, run on the SAME deterministic pairing llm_chat_format
      // renders: each rule a NAMED boolean verdict (response long
      // enough, response/prompt length ratio inside [0.2, 20],
      // response lexical diversity ≥ 0.3 — the degenerate-repetition
      // screen), keep = conjunction, so a filtering run can report
      // WHICH rule killed a pair. Ratios are single IEEE divisions of
      // exact ints rounded 6dp; one equi-join on the pair key then a
      // codegen map — the chat_format scale shape.
      (s, d) => {
        val docs = docTable(s, d).select("doc_id", "text")
        val p = docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("pair_id"),
            size(tokens(col("text"))).as("p_toks"))
        val r = docs.filter(col("doc_id") % 2 === 1)
          .select((col("doc_id") - 1).as("pair_id"),
            size(tokens(col("text"))).as("r_toks"),
            size(array_distinct(tokens(col("text"))))
              .as("r_distinct"))
        p.join(r, Seq("pair_id"))
          .withColumn("len_ratio", round(col("r_toks").cast("double") /
            col("p_toks").cast("double"), 6))
          .withColumn("diversity",
            round(col("r_distinct").cast("double") /
              col("r_toks").cast("double"), 6))
          .withColumn("ok_len", col("r_toks") >= 5)
          .withColumn("ok_ratio",
            col("len_ratio") >= 0.2 && col("len_ratio") <= 20.0)
          .withColumn("ok_diverse", col("diversity") >= 0.3)
          .withColumn("keep",
            col("ok_len") && col("ok_ratio") && col("ok_diverse"))
          .select("pair_id", "p_toks", "r_toks", "len_ratio",
            "diversity", "ok_len", "ok_ratio", "ok_diverse", "keep")
          .orderBy("pair_id")
      },
      Some("""WITH tok AS (
                SELECT doc_id,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                    AS toks
                FROM documents),
              p AS (
                SELECT doc_id AS pair_id,
                  CAST(len(toks) AS INTEGER) AS p_toks
                FROM tok WHERE doc_id % 2 = 0),
              r AS (
                SELECT doc_id - 1 AS pair_id,
                  CAST(len(toks) AS INTEGER) AS r_toks,
                  CAST(len(list_distinct(toks)) AS INTEGER) AS r_distinct
                FROM tok WHERE doc_id % 2 = 1),
              j AS (
                SELECT p.pair_id, p.p_toks, r.r_toks,
                  round(CAST(r.r_toks AS DOUBLE) /
                    CAST(p.p_toks AS DOUBLE), 6) AS len_ratio,
                  round(CAST(r.r_distinct AS DOUBLE) /
                    CAST(r.r_toks AS DOUBLE), 6) AS diversity
                FROM p JOIN r ON p.pair_id = r.pair_id)
              SELECT pair_id, p_toks, r_toks, len_ratio, diversity,
                r_toks >= 5 AS ok_len,
                len_ratio >= 2e-1 AND len_ratio <= 2e1 AS ok_ratio,
                diversity >= 3e-1 AS ok_diverse,
                (r_toks >= 5) AND (len_ratio >= 2e-1 AND len_ratio <= 2e1)
                  AND (diversity >= 3e-1) AS keep
              FROM j ORDER BY pair_id""")),

    Op("llm_mixture_epochs",
      // data-constrained epoch scheduling (Muennighoff et al. 2023,
      // "Scaling Data-Constrained Language Models"): given a token
      // budget of 2× the corpus and an even per-source allocation,
      // each source serves min(4, ceil(share / available)) epochs —
      // repeating data up to ~4 epochs is near-free, beyond that
      // returns decay, so the schedule caps repetition and reports
      // the shortfall (served < share when the cap binds). Everything
      // is exact integer arithmetic off ONE map-combined per-source
      // token count + a 1-row broadcast total — |sources| rows cross
      // the shuffle at any corpus size (the domain_temperature shape).
      (s, d) => epochSchedule(docTable(s, d)).orderBy("source"),
      Some(s"""WITH $epochScheduleCtes
              SELECT source, available, share, epochs,
                CAST(least(share, epochs * available) AS BIGINT) AS served
              FROM e ORDER BY source""")),

    Op("llm_epoch_expand",
      // materialize the epoch schedule at document grain — the
      // repeated-data stream the trainer actually reads (Muennighoff
      // repetition made explicit): each doc appears once per
      // scheduled epoch of its source, tagged with the epoch number
      // so downstream shuffles/packing can keep epochs separable.
      // The schedule is |sources| rows and rides a broadcast; the
      // expansion is explode(sequence(1, epochs)) — a codegen
      // Generate bounded at 4× the corpus, no shuffle at all.
      (s, d) => {
        val sched = epochSchedule(docTable(s, d))
          .select("source", "epochs")
        docTable(s, d).select("doc_id", "source")
          .join(broadcast(sched), Seq("source"))
          .withColumn("epoch",
            explode(sequence(lit(1L), col("epochs"))))
          .select("doc_id", "source", "epoch")
          .orderBy("doc_id", "epoch")
      },
      Some(s"""WITH $epochScheduleCtes
              SELECT d.doc_id, d.source,
                unnest(range(1, e.epochs + 1)) AS epoch
              FROM documents d JOIN e ON d.source = e.source
              ORDER BY doc_id, epoch""")),

    Op("llm_domain_mix",
      // rebalance the 20 uniform sources to a 20% / 10% / rest-even
      // target mixture; the scarcest-domain cap makes src0's rate
      // exactly 1.0 and everything else proportionally smaller
      (s, d) => domainMix(docTable(s, d),
          Map("src0" -> 0.2, "src1" -> 0.1), defaultWeight = 0.7 / 18)
        .orderBy("doc_id"),
      Some("""WITH t AS (
                SELECT doc_id, source,
                  CAST(('0x' || substr(md5(lower(trim(
                    regexp_replace(text, '\s+', ' ', 'g')))), 1, 8)) AS BIGINT)
                    % 1000000 AS bucket
                FROM documents),
              w AS (
                SELECT source, count(*) AS n,
                  CASE WHEN source = 'src0' THEN 0.2::DOUBLE
                       WHEN source = 'src1' THEN 0.1::DOUBLE
                       ELSE 0.7::DOUBLE / 18 END AS tw
                FROM t GROUP BY source),
              tot AS (SELECT min(CAST(n AS DOUBLE) / tw) AS cap FROM w),
              r AS (
                SELECT source,
                  CAST(floor(least(1.0::DOUBLE, tot.cap * tw / n) * 1000000)
                    AS BIGINT) AS thr
                FROM w, tot)
              SELECT t.doc_id, t.source, t.bucket
              FROM t JOIN r ON t.source = r.source
              WHERE t.bucket < r.thr
              ORDER BY doc_id""")),

    Op("llm_domain_temperature",
      // temperature-scaled mixture weights — the published
      // multilingual/multi-domain sampling rule (exponential
      // smoothing, p_i ∝ n_i^α: Conneau et al. 2020 use α=0.3,
      // GPT-family mixes ~0.5): llm_domain_mix takes target rates as
      // GIVEN; this op DERIVES them from corpus sizes, upweighting
      // small domains without letting any giant dominate. α = 0.5 so
      // n^α = sqrt(n) — a single correctly-rounded IEEE op, no libm
      // pow in the oracle hash. Size = total chars per source (doc
      // counts are uniform in this corpus; char mass varies). The
      // 20-value weight normalization crosses engines' summation
      // orders, so the sqrt weights are 6dp-DECIMAL-quantized and
      // summed EXACTLY (the dsum discipline), then ONE double
      // division per row. Token budgets = floor(weight · 1M) — the
      // integer allocation a sampler consumes. Shape at 100 TB: one
      // map-combined aggregate (|sources| rows cross the shuffle) +
      // a 1-row broadcast back; nothing else moves.
      (s, d) => {
        val dec6 = org.apache.spark.sql.types.DataTypes
          .createDecimalType(38, 6)
        val bySrc = docTable(s, d).groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("tot_chars"))
          .withColumn("w_dec",
            round(sqrt(col("tot_chars").cast("double")), 6).cast(dec6))
        val tot = bySrc.agg(sum(col("w_dec")).as("tot_dec"))
        val q = col("w_dec").cast("double") / col("tot_dec").cast("double")
        bySrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("tot_chars"),
            round(q, 6).as("weight"),
            floor(q * lit(1000000L)).cast("long").as("budget_tokens"))
          .orderBy("source")
      },
      Some("""WITH b AS (
                SELECT source, count(*) AS n_docs,
                  CAST(sum(n_chars) AS BIGINT) AS tot_chars
                FROM documents GROUP BY source),
              w AS (
                SELECT *, CAST(round(sqrt(CAST(tot_chars AS DOUBLE)), 6)
                  AS DECIMAL(38,6)) AS w_dec
                FROM b),
              t AS (SELECT sum(w_dec) AS tot_dec FROM w)
              SELECT source, n_docs, tot_chars,
                round(CAST(w_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE), 6)
                  AS weight,
                CAST(floor(CAST(w_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE)
                  * 1000000) AS BIGINT) AS budget_tokens
              FROM w, t ORDER BY source""")),

    Op("llm_dedup_url",
      // URL-canonicalization dedup — the FIRST dedup pass of every
      // web-crawl pipeline, run before any content hashing because
      // it's free: the same page is fetched under tracking-parameter
      // and trailing-slash variants, and canonicalizing the URL
      // collapses them without reading a byte of body. URLs are
      // synthesized deterministically from doc_id (the fn_url/
      // pii_scrub planted-fixture discipline: host = id mod 7, path
      // = id div 9, every 3rd carries ?utm tracking, every 5th a
      // trailing slash — so variant groups exist and the hash gate
      // proves the canonicalizer collapses exactly them).
      // Canonicalize = strip query (split_part at '?'), strip ONE
      // trailing slash, lower — pure string ops, one codegen
      // projection; then one map-combined aggregate keyed by the
      // canonical form (keeper = min doc_id, the append-stable
      // choice). At 100 TB this is the cheapest shuffle in the
      // funnel: |distinct canonical| keys, run before everything.
      (s, d) => {
        val url = concat(lit("https://h"),
          (col("doc_id") % 7).cast("string"), lit(".example.com/p/"),
          expr("doc_id DIV 9").cast("string"),
          when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit("?utm_source=x&ref="), col("doc_id").cast("string")))
            .otherwise(lit("")))
        docTable(s, d)
          .withColumn("url", url)
          .withColumn("canonical",
            regexp_replace(expr("split_part(url, '?', 1)"), "/$", ""))
          .groupBy("canonical")
          .agg(count(lit(1)).as("n_variants"),
            min(col("doc_id")).as("keeper"))
          .orderBy("canonical")
      },
      Some("""WITH u AS (
                SELECT doc_id,
                  'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
                  '.example.com/p/' || CAST(doc_id // 9 AS VARCHAR) ||
                  CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
                  CASE WHEN doc_id % 3 = 0
                       THEN '?utm_source=x&ref=' || CAST(doc_id AS VARCHAR)
                       ELSE '' END AS url
                FROM documents),
              c AS (
                SELECT doc_id,
                  regexp_replace(split_part(url, '?', 1), '/$', '')
                    AS canonical
                FROM u)
              SELECT canonical, count(*) AS n_variants,
                min(doc_id) AS keeper
              FROM c GROUP BY 1 ORDER BY canonical""")),

    Op("llm_dedup_priority",
      // source-priority duplicate resolution — WHICH copy survives
      // dedup matters as much as dedup itself (keep the curated-
      // source copy, drop the crawl mirror: the licensing/quality
      // decision every multi-source corpus makes). Reposts are
      // PLANTED deterministically (every doc adopts the text of its
      // 11-block anchor via a self-join on doc_id − doc_id mod 11 —
      // the pii_scrub planted-fixture discipline, so groups of ~11
      // exist and the gate proves the resolution picks by priority,
      // not by accident). Keeper = arg-min over ONE packed order key
      // (priority·10⁷ + doc_id — the agg_ohlc packing trick), so the
      // whole resolution is a single hash aggregate keyed by content
      // digest: at 100 TB this is llm_dedup_exact's shuffle with two
      // extra scalars of state per group.
      (s, d) => {
        val docs = docTable(s, d)
        val anchors = docs.select(col("doc_id").as("a_id"),
          col("text").as("a_text"))
        val planted = docs
          .withColumn("a_id", col("doc_id") - col("doc_id") % 11)
          .join(anchors, "a_id")
        val prio = when(col("source") === "src0", lit(0L))
          .when(col("source") === "src1", lit(1L)).otherwise(lit(2L))
        val okey = prio * lit(10000000L) + col("doc_id")
        planted
          .groupBy(md5(col("a_text")).as("content_md5"))
          .agg(count(lit(1)).as("n_copies"),
            min_by(col("doc_id"), okey).as("keeper_doc"),
            min_by(col("source"), okey).as("keeper_source"))
          .orderBy("content_md5")
      },
      Some("""WITH a AS (SELECT doc_id AS a_id, text AS a_text
                         FROM documents),
              p AS (
                SELECT d.doc_id, d.source, a.a_text,
                  (CASE WHEN d.source = 'src0' THEN 0
                        WHEN d.source = 'src1' THEN 1 ELSE 2 END)
                    * 10000000 + d.doc_id AS okey
                FROM documents d
                JOIN a ON a.a_id = d.doc_id - d.doc_id % 11)
              SELECT md5(a_text) AS content_md5,
                count(*) AS n_copies,
                arg_min(doc_id, okey) AS keeper_doc,
                arg_min(source, okey) AS keeper_source
              FROM p GROUP BY 1 ORDER BY content_md5""")),

    Op("llm_corpus_card",
      // the DATASET CARD numbers (Gebru et al. "Datasheets for
      // Datasets" 2018) — the summary block every released training
      // corpus must publish, as ONE query: corpus size, source/lang
      // diversity, length distribution (median + mean chars), and
      // the exact-duplicate rate (distinct normalized-content
      // digests vs rows — the number that headlines every dedup
      // paper's before/after table). Long format (metric, value) so
      // a card renderer consumes it directly. ONE scan: a single
      // multi-aggregate row fans out to metric rows via UNION ALL of
      // 1-row selects (no second scan — each leg reads the
      // aggregated CTE). Determinism: counts exact; total/mean via
      // exact integer sums + one division; p50 rides the
      // agg_percentile discipline; dup rate = one division of exact
      // distinct counts. |metrics| = 7 rows out at any corpus size.
      (s, d) => {
        docTable(s, d).createOrReplaceTempView("graft_docs_card")
        s.sql(corpusCardSql("graft_docs_card", "percentile",
          "regexp_replace(text, '\\\\s+', ' ')"))
      },
      Some(corpusCardSql("documents", "quantile_cont",
        "regexp_replace(text, '\\s+', ' ', 'g')"))),

    Op("llm_pack_sequences",
      (s, d) => packSequences(docTable(s, d), cap = 200, nBuckets = 32)
        .orderBy("doc_id"),
      // the oracle replays the greedy scan as a recursive CTE over the
      // per-bucket doc order — rn = position, state = (bin, fill)
      Some("""WITH RECURSIVE t AS (
                SELECT doc_id,
                  CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                    1, 8)) AS BIGINT) % 32 AS bucket,
                  CAST(len(string_split(lower(trim(
                    regexp_replace(text, '\s+', ' ', 'g'))), ' '))
                    AS INTEGER) AS ntok
                FROM documents),
              s AS (
                SELECT doc_id, bucket, ntok,
                  CAST(row_number() OVER (PARTITION BY bucket
                    ORDER BY doc_id) AS INTEGER) AS rn
                FROM t),
              pack(bucket, rn, doc_id, ntok, bin, fill) AS (
                SELECT bucket, rn, doc_id, ntok, 0, ntok
                FROM s WHERE rn = 1
                UNION ALL
                SELECT s.bucket, s.rn, s.doc_id, s.ntok,
                  CASE WHEN p.fill + s.ntok > 200 THEN p.bin + 1
                       ELSE p.bin END,
                  CASE WHEN p.fill + s.ntok > 200 THEN s.ntok
                       ELSE p.fill + s.ntok END
                FROM s JOIN pack p
                  ON s.bucket = p.bucket AND s.rn = p.rn + 1)
              SELECT doc_id, bucket, ntok, bin
              FROM pack ORDER BY doc_id""")),

    Op("llm_corpus_funnel",
      // planted attrition so every stage bites at every SF: exact
      // clones of every 4th doc (dedup stage) and degenerate
      // single-token docs for every 9th (quality stage); the split
      // stage trims ~10% by content hash
      (s, d) => {
        val docs0 = docTable(s, d).select("doc_id", "text")
        val clones = docs0.filter(col("doc_id") % 4 === 0)
          .select(col("doc_id").bitwiseOR(lit(1L << 43)).as("doc_id"),
            col("text"))
        val degen = docs0.filter(col("doc_id") % 9 === 0)
          .select(col("doc_id").bitwiseOR(lit(1L << 44)).as("doc_id"),
            lit(Seq.fill(60)("spam").mkString(" ")).as("text"))
        corpusFunnel(docs0.unionByName(clones).unionByName(degen))
          .orderBy("stage")
      },
      Some("""WITH raw AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id | (1::BIGINT << 43), text
                FROM documents WHERE doc_id % 4 = 0
                UNION ALL
                SELECT doc_id | (1::BIGINT << 44), trim(repeat('spam ', 60))
                FROM documents WHERE doc_id % 9 = 0),
              t AS (
                SELECT doc_id,
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
                  string_split(lower(trim(
                    regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
                FROM raw),
              b AS (
                SELECT doc_id, md5(norm) AS h,
                  CAST(('0x' || substr(md5(norm), 1, 8)) AS BIGINT) % 100
                    AS bucket,
                  CASE WHEN len(toks) >= 2 THEN
                    list_transform(generate_series(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1])
                  ELSE [] END AS bg
                FROM t),
              ex AS (SELECT doc_id, unnest(bg) AS g FROM b),
              cnt AS (SELECT doc_id, g, count(*) AS c FROM ex GROUP BY 1, 2),
              mx AS (SELECT doc_id, max(c) AS m FROM cnt GROUP BY 1),
              fl AS (
                SELECT b.doc_id, h, bucket,
                  CASE WHEN len(bg) > 0 THEN
                    CAST(coalesce(mx.m, 0) AS DOUBLE) / len(bg)
                  ELSE 0.0 END AS tbf,
                  row_number() OVER (PARTITION BY h ORDER BY b.doc_id) = 1
                    AS keep_dedup
                FROM b LEFT JOIN mx ON b.doc_id = mx.doc_id),
              f2 AS (SELECT *, keep_dedup AND tbf <= 0.5 AS keep_quality
                     FROM fl),
              f3 AS (SELECT *, keep_quality AND bucket < 90 AS keep_train
                     FROM f2)
              SELECT '1_raw' AS stage, count(*) AS n_docs FROM f3
              UNION ALL
              SELECT '2_dedup', count(*) FROM f3 WHERE keep_dedup
              UNION ALL
              SELECT '3_quality', count(*) FROM f3 WHERE keep_quality
              UNION ALL
              SELECT '4_train', count(*) FROM f3 WHERE keep_train
              ORDER BY stage""")),

    Op("llm_dedup_incremental",
      // corpus = 90% of documents; batch = the other 10% (mostly
      // novel) plus planted near-clones of every 7th corpus doc
      // (drop-last-token) so both outcomes exist at every SF
      (s, d) => {
        val docs = docTable(s, d).select("doc_id", "text")
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val toks = LlmOps.tokens(col("text"))
        val clones = corpus.filter(col("doc_id") % 7 === 1)
          .select(col("doc_id").bitwiseOR(lit(1L << 41)).as("doc_id"),
            concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
        val batch = docs.filter(col("doc_id") % 10 === 0)
          .unionByName(clones)
        dedupIncremental(corpus, batch, tau = 0.8, shingleN = 5)
          .orderBy("doc_id")
      },
      Some("""WITH corpus AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
              clones AS (
                SELECT doc_id | (1::BIGINT << 41) AS doc_id,
                  array_to_string(tk[1:len(tk) - 1], ' ') AS text
                FROM (SELECT doc_id, string_split(lower(trim(
                    regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS tk
                  FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 7 = 1)),
              batch AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
                UNION ALL SELECT doc_id, text FROM clones),
              shc AS (
                SELECT doc_id,
                  CASE WHEN len(toks) >= 5 THEN
                    list_distinct(list_transform(
                      generate_series(1, len(toks) - 4),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4]))
                  ELSE [norm] END AS sh
                FROM (SELECT doc_id,
                    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
                    string_split(lower(trim(
                      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
                  FROM corpus)),
              shb AS (
                SELECT doc_id,
                  CASE WHEN len(toks) >= 5 THEN
                    list_distinct(list_transform(
                      generate_series(1, len(toks) - 4),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4]))
                  ELSE [norm] END AS sh
                FROM (SELECT doc_id,
                    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
                    string_split(lower(trim(
                      regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
                  FROM batch)),
              cand AS (
                SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
                FROM (SELECT doc_id, unnest(sh) AS g FROM shb) a
                JOIN (SELECT doc_id, unnest(sh) AS g FROM shc) b
                  ON a.g = b.g),
              conf AS (
                SELECT c.batch_id, c.corpus_id,
                  round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                    / (len(sa.sh) + len(sb.sh)
                       - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
                FROM cand c
                JOIN shb sa ON sa.doc_id = c.batch_id
                JOIN shc sb ON sb.doc_id = c.corpus_id
                WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                  / (len(sa.sh) + len(sb.sh)
                     - len(list_intersect(sa.sh, sb.sh))) >= 0.8),
              best AS (
                SELECT batch_id, corpus_id AS dup_of, jaccard,
                  row_number() OVER (PARTITION BY batch_id
                    ORDER BY jaccard DESC, corpus_id ASC) AS rn
                FROM conf)
              SELECT b.doc_id, w.dup_of, w.jaccard,
                w.dup_of IS NOT NULL AS is_dup
              FROM batch b
              LEFT JOIN (SELECT * FROM best WHERE rn = 1) w
                ON b.doc_id = w.batch_id
              ORDER BY doc_id""")),

    Op("llm_dedup_incr_near",
      // same corpus/batch workload as llm_dedup_incremental, scored by
      // the MinHash-LSH family (seeded-hash → no SQL oracle; planted-
      // clone detection and never-pairs-corpus pinned in PipelineSpec)
      (s, d) => {
        val docs = docTable(s, d).select("doc_id", "text")
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val toks = LlmOps.tokens(col("text"))
        val clones = corpus.filter(col("doc_id") % 7 === 1)
          .select(col("doc_id").bitwiseOR(lit(1L << 41)).as("doc_id"),
            concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
        val batch = docs.filter(col("doc_id") % 10 === 0)
          .unionByName(clones)
        dedupIncrementalNear(corpus, batch).orderBy("doc_id")
      },
      None),

    Op("llm_dedup_clusters",
      // same corpus ∪ truncated-clones workload as llm_dedup_jaccard
      // (every doc gains a near-identical clone → guaranteed non-trivial
      // components at every SF); the oracle computes the transitive
      // closure with a recursive CTE and takes min reachable id
      (s, d) => {
        val docs = docTable(s, d).select("doc_id", "text")
        val toks = tokens(col("text"))
        val clones = docs.select(
          col("doc_id").bitwiseOR(lit(1L << 40)).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
        dedupClusters(docs.unionByName(clones), tau = 0.8, shingleN = 5)
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE raw AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT d.doc_id | (1::BIGINT << 40) AS doc_id,
                  array_to_string(tk[1:len(tk) - 1], ' ') AS text
                FROM (SELECT doc_id, string_split(
                    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                    ' ') AS tk FROM documents) d),
              t AS (
                SELECT doc_id,
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                    AS toks
                FROM raw),
              sh AS (
                SELECT doc_id,
                  CASE WHEN len(toks) >= 5 THEN
                    list_distinct(list_transform(
                      generate_series(1, len(toks) - 4),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4]))
                  ELSE [norm] END AS sh
                FROM t),
              ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
              cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id),
              j AS (
                SELECT c.doc_a, c.doc_b,
                  len(list_intersect(sa.sh, sb.sh)) AS inter,
                  len(sa.sh) AS na, len(sb.sh) AS nb
                FROM cand c
                JOIN sh sa ON sa.doc_id = c.doc_a
                JOIN sh sb ON sb.doc_id = c.doc_b),
              pairs AS (
                SELECT doc_a, doc_b FROM j
                WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8),
              e AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION
                SELECT doc_b, doc_a FROM pairs),
              n AS (SELECT DISTINCT a AS node FROM e),
              reach(node, lbl) AS (
                SELECT node, node FROM n
                UNION
                SELECT e.a, r.lbl FROM e JOIN reach r ON r.node = e.b),
              c AS (SELECT node, min(lbl) AS cluster_id
                    FROM reach GROUP BY node)
              SELECT node AS doc_id, cluster_id,
                count(*) OVER (PARTITION BY cluster_id) AS cluster_size
              FROM c ORDER BY doc_id""")),

    Op("llm_dedup_soft",
      // SOFT dedup — the "keep everything, down-weight duplicates"
      // training-mix policy: every document keeps its row, weighted
      // 1/cluster-size so each duplicate CLUSTER contributes unit
      // mass to the loss, not each copy. Reuses the exact same
      // cluster labels as llm_dedup_clusters (same corpus, τ, n ⇒
      // same memo entry — the multi-consumer read pattern the
      // memo exists for); docs outside every cluster default to
      // weight 1.0 via the left join (vacuous on this workload —
      // every doc has a clone — but the general contract). The
      // weight is ONE IEEE division of exact integers ⇒ bit-identical
      // to the oracle with no rounding.
      (s, d) => {
        val docs = docTable(s, d).select("doc_id", "text")
        val toks = tokens(col("text"))
        val clones = docs.select(
          col("doc_id").bitwiseOR(lit(1L << 40)).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
        val all = docs.unionByName(clones)
        val labels = dedupClusters(all, tau = 0.8, shingleN = 5)
        all.select(col("doc_id"))
          .join(labels, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
            coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
            (lit(1.0) / coalesce(col("cluster_size"), lit(1L)).cast("double"))
              .as("weight"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE raw AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT d.doc_id | (1::BIGINT << 40) AS doc_id,
                  array_to_string(tk[1:len(tk) - 1], ' ') AS text
                FROM (SELECT doc_id, string_split(
                    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                    ' ') AS tk FROM documents) d),
              t AS (
                SELECT doc_id,
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                    AS toks
                FROM raw),
              sh AS (
                SELECT doc_id,
                  CASE WHEN len(toks) >= 5 THEN
                    list_distinct(list_transform(
                      generate_series(1, len(toks) - 4),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4]))
                  ELSE [norm] END AS sh
                FROM t),
              ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
              cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id),
              j AS (
                SELECT c.doc_a, c.doc_b,
                  len(list_intersect(sa.sh, sb.sh)) AS inter,
                  len(sa.sh) AS na, len(sb.sh) AS nb
                FROM cand c
                JOIN sh sa ON sa.doc_id = c.doc_a
                JOIN sh sb ON sb.doc_id = c.doc_b),
              pairs AS (
                SELECT doc_a, doc_b FROM j
                WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8),
              e AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION
                SELECT doc_b, doc_a FROM pairs),
              n AS (SELECT DISTINCT a AS node FROM e),
              reach(node, lbl) AS (
                SELECT node, node FROM n
                UNION
                SELECT e.a, r.lbl FROM e JOIN reach r ON r.node = e.b),
              c AS (SELECT node, min(lbl) AS cluster_id
                    FROM reach GROUP BY node),
              sizes AS (SELECT cluster_id, count(*) AS cluster_size
                        FROM c GROUP BY cluster_id)
              SELECT r.doc_id,
                coalesce(c.cluster_id, r.doc_id) AS cluster_id,
                coalesce(s.cluster_size, 1) AS cluster_size,
                1e0 / coalesce(s.cluster_size, 1) AS weight
              FROM raw r
              LEFT JOIN c ON c.node = r.doc_id
              LEFT JOIN sizes s ON s.cluster_id = c.cluster_id
              ORDER BY r.doc_id"""))
  )
}
