package graft

import graft.functions.SeededFnvHash
import graft.ops.{LlmOps, Multimodal}
import org.apache.spark.sql.functions._

/** Property-style checks for the non-oracled LLM ops (SURVEY §5.2.4):
  * near-dedup recall on crafted fixtures, seeded-hash independence and
  * stability, fingerprint determinism, simsearch geometry, multimodal
  * pipeline shape.
  */
class LlmSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("seeded hash: deterministic, seed-sensitive, codegen==interpreted") {
    val df = Tables.documents(spark, sf001).limit(50)
      .select(col("doc_id"),
        call_function("graft_seeded_hash", col("text"), lit(1L)).as("h1"),
        call_function("graft_seeded_hash", col("text"), lit(2L)).as("h2"))
    val rows = df.collect()
    // different seeds give different hash functions
    assert(rows.forall(r => r.getLong(1) != r.getLong(2)))
    // stable across executions
    assert(df.collect().toSeq == rows.toSeq)
    // matches the direct Scala implementation (interpreted path)
    val direct = Tables.documents(spark, sf001).limit(50).collect().map { r =>
      SeededFnvHash.hashUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getAs[String]("text")), 1L)
    }
    assert(rows.map(_.getLong(1)).toSeq == direct.toSeq)
  }

  test("llm_chunking: contiguous chunk ids, every token covered, n_tokens = min(64, n - 48i)") {
    val byDoc = SparkEntry.queries("llm_chunking")(spark, sf001)
      .collect().groupBy(_.getLong(0))
    val ns = Tables.documents(spark, sf001)
      .select(col("doc_id"),
        size(split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
          .as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byDoc.keySet == ns.keySet) // every doc chunks, none invented
    byDoc.foreach { case (doc, rows) =>
      val n = ns(doc)
      val ids = rows.map(_.getInt(1)).sorted.toSeq
      assert(ids == (0 until ids.length), s"doc $doc ids $ids")
      // chunk i covers tokens [48i, min(48i+64, n)) — together with
      // contiguity this is exact full coverage with 16-token overlap
      rows.foreach { r =>
        assert(r.getInt(2) == math.min(64, n - 48 * r.getInt(1)),
          s"doc $doc chunk ${r.getInt(1)}: ${r.getInt(2)} of $n")
      }
      assert(48 * (ids.length - 1) < n) // no all-overlap ghost chunk
    }
  }

  test("containment dedup: half-excerpts contained at exactly 1.0; long originals NOT contained in excerpts") {
    val pairs = SparkEntry.queries("llm_dedup_containment")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ns = Tables.documents(spark, sf001)
      .select(col("doc_id"), size(split(
        lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    ns.keys.foreach { id =>
      // the clone's shingles are a subset of the original's → C = 1.0
      assert(pairs.get((id | (1L << 40), id)).contains(1.0),
        s"excerpt of doc $id not detected as contained")
    }
    // the asymmetry Jaccard can't express: a long original holds ~2×
    // the excerpt's shingles, so original→excerpt containment ≈ 0.5
    // and must NOT pair at τ=0.9 (tiny docs can legally contain both
    // ways — restrict to docs with enough tokens)
    ns.filter(_._2 >= 50).keys.foreach { id =>
      assert(!pairs.contains((id, id | (1L << 40))),
        s"long original $id wrongly contained in its half-excerpt")
    }
  }

  test("containment df-cap: registered cap=16 exceeds corpus df_max (filters nothing, oracle stays exact); a biting cap only removes pairs") {
    import org.apache.spark.sql.DataFrame
    def corpus(sfDir: String): DataFrame = {
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      val toks = split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")
      val clones = docs.select(
        col("doc_id").bitwiseOR(lit(1L << 40)).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1),
          ((size(toks) + 1) / 2).cast("int"))).as("text"))
      docs.unionByName(clones)
    }
    val docs = corpus(sf001)
    // 1) the invariant the registered query's oracle parity rests on:
    //    no shingle's document frequency reaches the cap, so the capped
    //    posting relation is the full one (if the corpus generator ever
    //    changes this, the cap must be raised or the oracle re-derived)
    val dfMax = LlmOps.shingleSets(docs, 5)
      .select(explode(col("sh")).as("s"))
      .groupBy("s").count().agg(max("count")).head().getLong(0)
    assert(dfMax < 16L, s"corpus df_max=$dfMax reached the registered cap")
    // 2) therefore capped ≡ uncapped, pair set and values
    val capped = LlmOps.containmentPairs(docs, tau = 0.9, shingleN = 5,
      maxPostingDf = Some(16L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = LlmOps.containmentPairs(docs, tau = 0.9, shingleN = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == uncapped)
    // 3) the recall trade is one-sided: a cap that DOES bite (cap=1
    //    drops every shingle shared by ≥2 docs — which on this corpus
    //    includes every clone↔original shingle) removes pairs, never
    //    adds them; the exact confirm keeps survivors' values identical
    val tight = LlmOps.containmentPairs(docs, tau = 0.9, shingleN = 5,
      maxPostingDf = Some(1L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(tight.subsetOf(uncapped))
    assert(tight.size < uncapped.size,
      "cap=1 should demonstrably bite on a corpus full of clone pairs")
  }

  test("near-dedup: exact duplicates and small edits are caught; disjoint docs are not") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val edited = base.replace("gamma", "zz1") // 1-token edit
    val disjoint = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val df = docsDf(Seq(1L -> base, 2L -> base, 3L -> edited, 4L -> disjoint))
    // 8 bands × 2 rows: a ~0.71-Jaccard pair collides with p≈0.996
    // (4×4 banding would miss ~30% of the time at this similarity)
    val pairs = LlmOps.nearDupPairs(df, k = 16, bands = 8, jaccardMin = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact duplicate must always be caught")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      "1-token edit at 20 tokens should collide in at least one band")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "disjoint doc must not pair")
    // exact duplicate has jaccard 1.0
    val j12 = LlmOps.nearDupPairs(df, k = 16, bands = 8, jaccardMin = 0.5)
      .filter(col("doc_a") === 1 && col("doc_b") === 2)
      .select("jaccard").head().getDouble(0)
    assert(j12 == 1.0)
  }

  test("tokens: CJK codepoint fallback; Latin corpus byte-identical to the whitespace tokenizer") {
    // 1. the dispatch is a no-op on whitespace-delimited text: over the
    //    whole driver corpus, tokens() ≡ the r13 expression verbatim —
    //    this is what keeps every oracled query's hash unchanged
    val docs = Tables.documents(spark, sf001)
    val r13Tokens = split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")
    assert(docs.filter(not(LlmOps.tokens(col("text")) <=> r13Tokens)).count() == 0,
      "CJK-aware tokens() diverged from the whitespace tokenizer on Latin text")
    // 2. CJK runs segment per codepoint; mixed script keeps Latin words whole
    val df = docsDf(Seq(
      1L -> "我爱大数据",
      2L -> "Spark处理引擎 fast",
      3L -> "한국어 text"))
    val got = df.select(col("doc_id"), LlmOps.tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("我", "爱", "大", "数", "据"))
    assert(got(2L) == Seq("spark", "处", "理", "引", "擎", "fast"))
    assert(got(3L) == Seq("한", "국", "어", "text"))
  }

  test("CJK near-identical docs pair in exact-Jaccard dedup via character n-grams") {
    // 30 distinct Han codepoints; one-char edit at the tail. Under the
    // r13 whitespace tokenizer each doc was ONE giant token → distinct
    // singleton shingles → J = 0, pair missed. Per-codepoint tokens
    // give character 3-gram shingles: 28 per doc, 25 shared → J ≈ 0.81.
    val base = "数据引擎处理系统快速分析大规模语料去重相似检索质量评估流水线运行良"
    val edited = base.dropRight(1) + "好"
    val other = "完全无关的另一段文字内容与前面那句没有任何共同之处嗯"
    val cjk = docsDf(Seq(10L -> base, 11L -> edited, 12L -> other))
    val pairs = LlmOps.jaccardPairs(cjk, tau = 0.7, shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((10L, 11L)),
      s"expected exactly the edited pair, got ${pairs.mkString(",")}")
    assert(pairs.head._3 > 0.7 && pairs.head._3 < 1.0)
  }

  test("near-dedup is idempotent on an already-deduped corpus, short docs included") {
    val df = docsDf(Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight",
      3L -> "red orange yellow green blue indigo violet purple",
      4L -> "single", // < 3 tokens: whole-text shingle fallback branch
      5L -> "two tokens"))
    assert(LlmOps.nearDupPairs(df, jaccardMin = 0.5).count() == 0)
    // identical short docs still pair through the fallback shingle
    val withDup = docsDf(Seq(6L -> "single", 7L -> "single"))
    assert(LlmOps.nearDupPairs(df.unionByName(withDup), jaccardMin = 0.5)
      .filter(col("doc_a") === 6 && col("doc_b") === 7).count() == 1)
  }

  test("simsearch: self is always rank 1 with cosine 1; cosine bounded") {
    val out = LlmOps.simSearch(Tables.embeddings(spark, sf001), nProbes = 5, topK = 10)
    val r1 = out.filter(col("rank") === 1).collect()
    assert(r1.length == 5)
    assert(r1.forall(r => r.getAs[Long]("p_id") == r.getAs[Long]("vec_id")))
    assert(r1.forall(r => math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-9))
    val all = out.select("cosine").collect().map(_.getDouble(0))
    assert(all.forall(c => c >= -1.0000001 && c <= 1.0000001))
  }

  test("simhash: identical docs at hamming 0, small edits within radius, disjoint docs out") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val edited = base.replace("tok7", "zz") // 1-token edit of 40
    val disjoint = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = docsDf(Seq(1L -> base, 2L -> base, 3L -> edited, 4L -> disjoint))
    val pairs = LlmOps.simHashPairs(df, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0, "identical docs must be hamming 0")
    assert(pairs.contains((1L, 3L)), "1/40-token edit must stay within radius")
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L),
      "disjoint doc must not pair within radius")
  }

  test("embedding near-dup: symmetric-free pairs, all above threshold, none missed") {
    val emb = Tables.embeddings(spark, sf001)
    val got = LlmOps.embedNearDup(emb, tau = 0.4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.nonEmpty)
    assert(got.keys.forall { case (a, b) => a < b })
    assert(got.values.forall(_ >= 0.4))
    // spot-check completeness against the exact scorer: every top-10
    // neighbor of probe 0 with cosine >= 0.4 must appear as a pair
    val fromSearch = LlmOps.simSearch(emb, nProbes = 1, topK = 10)
      .filter(col("cosine") >= 0.4 && col("vec_id") =!= 0).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(fromSearch.forall(v => got.contains((0L, v)) || got.contains((v, 0L))))
  }

  test("simsearch IVF: exact when probing all buckets; recall@10 >= 0.5 at nProbe=3/8") {
    val emb = Tables.embeddings(spark, sf001)
    val exact = LlmOps.simSearch(emb, nProbes = 5, topK = 10)
      .select("p_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = LlmOps.simSearchIvf(emb, nProbes = 5, topK = 10,
        nCentroids = 8, nProbe = 8)
      .select("p_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "nProbe == nCentroids must equal brute force")
    val ivf = LlmOps.simSearchIvf(emb, nProbes = 5, topK = 10,
        nCentroids = 8, nProbe = 3)
      .select("p_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@10 = $recall")
  }

  test("simsearch LSH: candidates-only scoring is exact, recall@10 pinned, no self-miss") {
    val emb = Tables.embeddings(spark, sf001)
    val exact = LlmOps.simSearch(emb, nProbes = 5, topK = 10)
    val lsh = LlmOps.simSearchLsh(emb, nProbes = 5, topK = 10)
    val exactScores = exact.select("p_id", "vec_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lshRows = lsh.select("p_id", "vec_id", "cosine").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    // every surfaced pair that brute force also ranks must carry the
    // IDENTICAL cosine — the LSH layer only prunes candidates, the
    // scorer itself is exact
    lshRows.foreach { case (pair, c) =>
      exactScores.get(pair).foreach(e => assert(e == c, s"score drift at $pair"))
    }
    // a probe always collides with itself on every band → rank-1 self
    val self = lsh.filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(self.forall { case (p, v) => p == v }, s"self-miss: $self")
    // recall at the registered (r=5, bands=28) parameters, fixed seed.
    // Parameter derivation (r12, up from 0.5 at r=6/b=24): this
    // corpus's rank-10 neighbors sit at cosine ≈ 0.24-0.29, i.e.
    // per-hyperplane agreement p = 1−θ/π ≈ 0.58 — barely above the
    // 0.50 background, so each band bit buys little discrimination.
    // Shorter bands + more of them (5×28) lift the per-band match to
    // p^5 ≈ 0.066 → predicted recall 1−(1−p^5)^28 ≈ 0.85 at the
    // rank-10 frontier (higher for nearer ranks), at ~1.9× the
    // candidate volume — still a vanishing fraction of n² and the
    // same runtime class (measured, bench ≤ current).
    val exactSet = exactScores.keySet
    val recall = (lshRows.map(_._1).toSet & exactSet).size.toDouble / exactSet.size
    assert(recall >= 0.8, s"recall@10 = $recall")
  }

  test("train split: content-determined, 90/5/5 shaped, exact dups never straddle") {
    val docs = Tables.documents(spark, sf001)
    val sp = LlmOps.trainSplit(docs)
    val counts = sp.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    // hash buckets approximate the 90/5/5 target on 500 docs
    assert(counts("train") / n > 0.8 && counts("train") / n < 0.97, s"$counts")
    assert(counts.keySet == Set("train", "validation", "test"))
    // determinism: re-running assigns identically
    assert(sp.orderBy("doc_id").collect().toSeq ==
      LlmOps.trainSplit(docs).orderBy("doc_id").collect().toSeq)
    // the leakage guarantee: identical text → identical split, so a
    // byte-duplicate can never land train-side AND test-side
    import spark.implicits._
    val dup = Seq((1L, "same exact text here", "en"),
      (2L, "same exact text here", "en"))
      .toDF("doc_id", "text", "lang")
    val dupSplits = LlmOps.trainSplit(dup).select("split").collect()
      .map(_.getString(0)).toSet
    assert(dupSplits.size == 1, s"exact dups straddled splits: $dupSplits")
  }

  test("stratified sampling: achieved per-lang rates track targets, decision is content-keyed") {
    val docs = Tables.documents(spark, sf001)
    val rates = Map("en" -> 0.4, "fr" -> 0.7)
    val kept = LlmOps.sampleStratified(docs, rates, defaultRate = 1.0)
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    before.keys.foreach { l =>
      val target = rates.getOrElse(l, 1.0)
      val achieved = after.getOrElse(l, 0L).toDouble / before(l)
      // md5 buckets on ~100 docs/lang: generous tolerance, exactness
      // comes from the DuckDB oracle
      assert(math.abs(achieved - target) < 0.2,
        s"$l: achieved $achieved vs target $target")
    }
    // default-rate langs are kept in full
    assert(before.filterNot(kv => rates.contains(kv._1))
      .forall { case (l, n) => after.getOrElse(l, 0L) == n })
    // deterministic: the SAME documents survive a re-run
    assert(kept.orderBy("doc_id").collect().toSeq ==
      LlmOps.sampleStratified(docs, rates, 1.0).orderBy("doc_id").collect().toSeq)
  }

  test("decontaminate: a planted 8-gram leak from train into test is flagged") {
    import spark.implicits._
    import java.security.MessageDigest
    def bucketOf(text: String): Long = {
      val norm = text.trim.toLowerCase.replaceAll("\\s+", " ")
      val hex = MessageDigest.getInstance("MD5").digest(norm.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    // a train-side base document and a salted near-copy that keeps an
    // 8-token run intact; salts are searched (deterministically) until
    // the base hashes train-side and the leak hashes test-side — the
    // content-hash split can't be chosen, so we choose the content
    val eight = "alpha beta gamma delta epsilon zeta eta theta"
    val base = (0 until 1000).iterator.map(i => s"$eight filler$i tail")
      .find(bucketOf(_) < 90).get
    val leak = (0 until 10000).iterator.map(i => s"prefix$i $eight end")
      .find(bucketOf(_) >= 95).get
    val clean = (0 until 10000).iterator
      .map(i => s"unrelated words only nothing shared at all salt$i")
      .find(bucketOf(_) >= 95).get
    val docs = Seq((1L, base, "en"), (2L, leak, "en"), (3L, clean, "en"))
      .toDF("doc_id", "text", "lang")
    val flagged = LlmOps.decontaminate(docs, n = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(flagged.contains(2L), s"planted leak not flagged: $flagged")
    assert(flagged(2L)._1 >= 1 && flagged(2L)._2 == 1L)
    assert(!flagged.contains(3L), "clean test doc wrongly flagged")
    assert(!flagged.contains(1L), "train doc cannot be flagged")

    // df-cap skew guard: replicate the leak 8-gram as boilerplate
    // across MANY train docs — with maxTrainDf set below that
    // replication, the hot shingle is excluded and the flag clears;
    // without the cap it still fires
    val boiler = (0 until 60).map { i =>
      val t = (0 until 1000).iterator
        .map(j => s"header$i$j $eight footer$i")
        .find(bucketOf(_) < 90).get
      (100L + i, t, "en")
    }
    import org.apache.spark.sql.functions.col
    val docs2 = (Seq((2L, leak, "en")) ++ boiler).toDF("doc_id", "text", "lang")
    val uncapped = LlmOps.decontaminate(docs2, n = 8).collect()
    assert(uncapped.exists(_.getLong(0) == 2L), "uncapped must flag the boilerplate hit")
    val capped = LlmOps.decontaminate(docs2, n = 8, maxTrainDf = Some(10L)).collect()
    assert(!capped.exists(_.getLong(0) == 2L),
      "df-capped run must drop the boilerplate shingle")
  }

  test("simsearch IVF: recall@10 curve is monotone in nProbe, reaching 1.0") {
    // the operating curve a user tunes against: more probed buckets →
    // recall can only improve (same index, superset of candidates),
    // ending at exact when every bucket is probed
    val emb = Tables.embeddings(spark, sf001)
    val exact = LlmOps.simSearch(emb, nProbes = 5, topK = 10)
      .select("p_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val curve = Seq(1, 2, 4, 8).map { nProbe =>
      val got = LlmOps.simSearchIvf(emb, nProbes = 5, topK = 10,
          nCentroids = 8, nProbe = nProbe)
        .select("p_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      nProbe -> (got & exact).size.toDouble / exact.size
    }
    val recalls = curve.map(_._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall not monotone: $curve")
    assert(recalls.last == 1.0, s"full probe not exact: $curve")
    assert(recalls.head > 0.0, s"single probe found nothing: $curve")
  }

  test("simsearch exact-IVF equals brute force at two SFs (bucket-bound rescue is exact)") {
    for (sf <- Seq(sf001, sf01)) {
      val emb = Tables.embeddings(spark, sf)
      val brute = LlmOps.simSearch(emb, nProbes = 5, topK = 10)
        .orderBy("p_id", "rank").collect().toSeq
      val exact = LlmOps.simSearchIvfExact(emb, nProbes = 5, topK = 10)
        .orderBy("p_id", "rank").collect().toSeq
      assert(exact == brute, s"exact-IVF diverged from brute force at $sf")
      assert(brute.nonEmpty)
    }
  }

  test("exact-IVF on clustered data: buckets are tight, bound can prune, result stays exact") {
    import spark.implicits._
    // 4 well-separated one-hot clusters + deterministic jitter; seeds
    // (vec_id 0..3) land one per cluster
    val rows = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      val v = Array.tabulate(64) { j =>
        ((if (j == c) 1.0 else 0.0) + 0.05 * math.sin((i + 1.0) * (j + 3.0))).toFloat
      }
      (i, v.toSeq)
    }
    val embC = rows.toDF("vec_id", "embedding")
    val brute = LlmOps.simSearch(embC, nProbes = 2, topK = 5)
      .orderBy("p_id", "rank").collect().toSeq
    val exact = LlmOps.simSearchIvfExact(embC, nProbes = 2, topK = 5, nCentroids = 4)
      .orderBy("p_id", "rank").collect().toSeq
    assert(exact == brute)
    // bucket geometry is tight → the phase-2 bound cos(θ_pc − α_max)
    // excludes far buckets (~cos 0.15) against s_k (~0.97)
    val aMax = LlmOps.assignBuckets(embC, LlmOps.lloydCentroids(embC, 4))
      .agg(max("alpha")).head.getDouble(0)
    assert(aMax < 0.5, s"cluster assignment angles should be tight, max=$aMax")
    // with real cluster structure even nProbe=1 (no rescue) is already
    // perfect — the approximate fast path earns its keep here
    val ivf1 = LlmOps.simSearchIvf(embC, nProbes = 2, topK = 5,
        nCentroids = 4, nProbe = 1)
      .select("p_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteSet = brute.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf1 == bruteSet, "nProbe=1 should be exact on separated clusters")
  }

  test("banded embed near-dup equals brute force on the planted workload; candidates prune") {
    for (sf <- Seq(sf001, sf01)) {
      val emb = Tables.embeddings(spark, sf)
      val ed = col("embedding").cast("array<double>")
      val u = emb.select(col("vec_id"), ed.as("embedding"))
        .unionByName(emb.select((col("vec_id") + 1000000L).as("vec_id"),
          zip_with(ed, reverse(ed),
            (x, y) => lit(0.9) * x + lit(0.1) * y).as("embedding")))
      val brute = LlmOps.embedNearDup(u, tau = 0.8)
        .orderBy("vec_a", "vec_b").collect().toSeq
      val banded = LlmOps.embedNearDupBanded(u, tau = 0.8)
        .orderBy("vec_a", "vec_b").collect().toSeq
      // recall property (VERDICT r1 next-round #1): the LSH candidate
      // stage must not lose a single qualifying pair on this margin
      assert(banded == brute, s"banded path lost/gained pairs at $sf")
      assert(brute.nonEmpty)
      val n = u.count()
      val nCand = LlmOps.rpBandCandidates(u).count()
      assert(nCand * 5 < n * (n - 1) / 2,
        s"LSH candidates must prune the pair space: $nCand of ${n * (n - 1) / 2}")
    }
    // candidate-volume audit at the BENCH scale (VERDICT r9 #4): the
    // registered (τ=0.8, r=16, bands=24) operating point must stay a
    // genuinely banded path at sf0.1's 2000 vectors, not degenerate to
    // near-all-pairs — measured 7,941 of 7,998,000 (0.099%); pinned an
    // order of magnitude looser (< 2%) to absorb band-collision drift
    val emb1 = Tables.embeddings(spark, sf1)
    val ed1 = col("embedding").cast("array<double>")
    val u1 = emb1.select(col("vec_id"), ed1.as("embedding"))
      .unionByName(emb1.select(col("vec_id").bitwiseOR(lit(1L << 40)).as("vec_id"),
        zip_with(ed1, reverse(ed1),
          (x, y) => lit(0.9) * x + lit(0.1) * y).as("embedding")))
    val n1 = u1.count()
    val cand1 = LlmOps.rpBandCandidates(u1).count()
    assert(cand1 * 50 < n1 * (n1 - 1) / 2,
      s"sf0.1 candidates ≈ pair space — the banded path degenerated: " +
        s"$cand1 of ${n1 * (n1 - 1) / 2}")
  }

  test("semdedup: drops only planted clones, recall floor holds, no cross product") {
    val emb = Tables.embeddings(spark, sf001)
    val ed = col("embedding").cast("array<double>")
    val base = emb.select(col("vec_id"), ed.as("embedding"))
    val clones = emb.select(
      col("vec_id").bitwiseOR(lit(1L << 40)).as("vec_id"),
      zip_with(ed, reverse(ed),
        (x, y) => lit(0.9) * x + lit(0.1) * y).as("embedding"))
    val u = base.unionByName(clones)
    val out = LlmOps.semDedup(u, tau = 0.8)
    val rows = out.collect()
    val n = u.count()
    assert(rows.length == n, "one verdict per input vector")
    val dropped = rows.filter(_.getBoolean(1)).map(_.getLong(0))
    // precision 1.0 against the margin: background pairs max out near
    // cos 0.62, so any dropped vector MUST be a planted clone (and the
    // keep-min rule always keeps the smaller-id source)
    assert(dropped.forall(_ >= (1L << 40)),
      s"non-clone vectors dropped: ${dropped.filter(_ < (1L << 40)).take(5).mkString(",")}")
    // recall floor: a clone is missed only when k-means splits it from
    // its source (the documented SemDeDup trade) — rare at cos 0.994
    assert(dropped.length >= (0.9 * (n / 2)).toInt,
      s"clone recall below floor: ${dropped.length} of ${n / 2}")
    // cluster equi-join is the only pair generator — never all-pairs
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "semdedup plan must not contain a cross product")
  }

  test("semantic decontamination: planted clones flag, clean test rows don't") {
    val out = SparkEntry.queries("llm_decontaminate_semantic")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val planted = out.keys.filter(_ >= (1L << 41))
    assert(planted.nonEmpty, "fixture must plant contamination")
    // precision 1.0: background cosine tops out near 0.62 < tau 0.8,
    // so ONLY planted rows may flag
    val falsePos = out.filter { case (id, c) => c && id < (1L << 41) }
    assert(falsePos.isEmpty, s"clean test rows flagged: ${falsePos.keys.take(5)}")
    // recall floor: a planted clone is missed only when no band
    // collides at cos ~0.994 — rare at (r=16, bands=24)
    val caught = planted.count(out(_))
    assert(caught >= (0.9 * planted.size).toInt,
      s"contamination recall below floor: $caught of ${planted.size}")
  }

  test("semdedup sub-split: cap holds, precision stays 1.0, recall floor holds") {
    // force the split path at test scale: cap far below the natural
    // √n cluster size so subSplitAssign must actually recurse
    val emb = Tables.embeddings(spark, sf001)
    val ed = col("embedding").cast("array<double>")
    val base = emb.select(col("vec_id"), ed.as("embedding"))
    val clones = emb.select(
      col("vec_id").bitwiseOR(lit(1L << 40)).as("vec_id"),
      zip_with(ed, reverse(ed),
        (x, y) => lit(0.9) * x + lit(0.1) * y).as("embedding"))
    val u = base.unionByName(clones)
    val n = u.count()
    val cap = 8
    // (a) the cap is enforced on the refined assignment itself
    val c = math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
    val idx = LlmOps.ivfIndex(u, c)
    val refined = LlmOps.subSplitAssign(idx.assign, cap)
    assert(!(refined eq idx.assign),
      s"cap $cap below natural cluster size must trigger a split")
    val maxSz = refined.groupBy("cid").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxSz <= cap,
      s"refined max cluster size $maxSz exceeds cap $cap")
    // ids stay a partition of the input: every vector exactly once
    assert(refined.select("vec_id").distinct().count() == n)
    // (b) verdicts through the split path keep the planted-clone
    // contract: no false drops (precision 1.0 against the 0.62
    // background margin), recall >= 0.9 (a clone is missed only when
    // sub-Lloyd separates it from its source — rare at cos 0.994)
    val out = LlmOps.semDedup(u, tau = 0.8, maxClusterSize = cap)
    val rows = out.collect()
    assert(rows.length == n, "one verdict per input vector")
    val dropped = rows.filter(_.getBoolean(1)).map(_.getLong(0))
    assert(dropped.forall(_ >= (1L << 40)),
      s"non-clone vectors dropped under sub-split: " +
        s"${dropped.filter(_ < (1L << 40)).take(5).mkString(",")}")
    assert(dropped.length >= (0.9 * (n / 2)).toInt,
      s"clone recall below floor under sub-split: " +
        s"${dropped.length} of ${n / 2}")
    // (c) below threshold the split is a byte-for-byte no-op — the
    // SAME DataFrame object comes back, so every existing plan/pin
    // is untouched
    assert(LlmOps.subSplitAssign(idx.assign, n.toInt + 1) eq idx.assign)
  }

  test("boilerplate rank: a planted template hub outranks the background chain") {
    import spark.implicits._
    // the realistic boilerplate shape is a STAR, not a clique: the
    // template SOURCE contains 8 distinct sentences, and each "leaf"
    // doc quotes a DIFFERENT one (partial quotation) — leaves share a
    // long substring with the hub but not with each other. (A full
    // clique — every doc carrying the whole template — is flat under
    // PageRank: a regular component has uniform stationary mass; the
    // dedup family owns that case. Hub-ness is what centrality adds.)
    val sentences = Seq(
      "alpha bravo charlie delta nine", "echo foxtrot golf hotel thirty",
      "india juliet kilo lima forty", "mike november oscar papa fifty",
      "quebec romeo sierra tango sixty", "uniform victor whiskey xray",
      "yankee zulu binary ternary", "quaternary pentagon hexagon")
    val hub = Seq((0L, sentences.mkString(" ")))
    val leaves = (10L until 18L).map(i =>
      (i, s"${sentences((i - 10).toInt)} leaf${i}pad${i}qq"))
    // chain: link tokens interleave the id between letters so two
    // DIFFERENT ids never share an 8-char run (the k-gram width) —
    // only the intended j↔j+1 link shares a ≥11-char substring
    def linkTok(j: Long) = s"${j}a${j}b${j}c${j}d${j}e"
    val chain = (100L until 130L).map(j =>
      (j, s"${linkTok(j)} ${linkTok(j + 1)} pad${j}x${j}y end${j}z"))
    val docs = (hub ++ leaves ++ chain).toDF("doc_id", "text")
    val ranked = LlmOps.boilerplateRank(docs, minShared = 1)
    val rows = ranked.orderBy(col("pr").desc, col("doc_id").asc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty, "planted structure must produce a graph")
    // the template source is THE top document, by a real margin
    assert(rows.head._1 == 0L,
      s"hub must rank first, got ${rows.take(5).toSeq}")
    val hubPr = rows.head._3
    assert(rows.tail.forall(_._3 < hubPr),
      s"hub must strictly outrank everything: ${rows.take(5).toSeq}")
    // degree layer: hub sees all 8 leaves; chain stays ≤ 2
    val degById = rows.map(r => r._1 -> r._2).toMap
    assert(degById(0L) == 8L, s"hub degree: ${degById(0L)}")
    assert(rows.filter(_._1 >= 100L).forall(_._2 <= 2L),
      "chain degrees must stay <= 2")
    assert(rows.exists(_._1 >= 100L), "chain edges must be detected")
  }

  test("dsir: en-target weights rank English up, selection skews en, runs are identical") {
    val a = LlmOps.dsirSample(spark, sf001, isTarget = col("lang") === "en")
      .orderBy("doc_id").collect().toSeq
    val b = LlmOps.dsirSample(spark, sf001, isTarget = col("lang") === "en")
      .orderBy("doc_id").collect().toSeq
    // determinism: DECIMAL-accumulated weights + content-hash Gumbel
    // draws make the WHOLE output (weights, selection set) run-stable
    assert(a == b, "dsir output must be bit-stable across runs")
    def meanLogw(lang: String) = {
      val xs = a.filter(_.getString(1) == lang).map(_.getDouble(2))
      xs.sum / xs.size
    }
    def selRate(lang: String) = {
      val xs = a.filter(_.getString(1) == lang)
      xs.count(_.getBoolean(3)).toDouble / xs.size
    }
    // the hashed-ngram importance weight must rank the target
    // language above every non-target language, and resampling must
    // follow it (Gumbel noise perturbs but cannot bury a clear gap)
    for (other <- Seq("fr", "de", "es", "zh")) {
      assert(meanLogw("en") > meanLogw(other),
        s"mean logw(en) must exceed $other")
      assert(selRate("en") > selRate(other),
        s"selection rate(en) must exceed $other")
    }
    // top 25% by construction (percent_rank <= 0.25 over n docs)
    val nSel = a.count(_.getBoolean(3))
    assert(math.abs(nSel - 0.25 * a.size) <= 0.02 * a.size + 2,
      s"selected $nSel of ${a.size}, expected ~25%")
  }

  test("char-ngram kernel: matches the declarative rendering, handles edges") {
    import spark.implicits._
    val df = Seq("hello world", "ab", "abc", "", "日本語テスト", "xy z")
      .toDF("s")
    val got = df.selectExpr("graft_char_ngrams(s, 3) AS g").collect()
      .map(_.getSeq[String](0).toList)
    // reference: same extraction, spelled declaratively (safe here —
    // tiny input, no captured expressions)
    val ref = df.selectExpr(
      """CASE WHEN char_length(s) < 3 THEN array()
         ELSE transform(sequence(1, char_length(s) - 2),
           i -> substr(s, i, 3)) END AS g""").collect()
      .map(_.getSeq[String](0).toList)
    assert(got.toSeq == ref.toSeq)
    assert(got(1).isEmpty && got(3).isEmpty)          // below n → []
    assert(got(2) == List("abc"))
    assert(got(4).head == "日本語")                    // BMP multibyte
    // interpreted path (nullSafeEval) agrees with codegen
    val expr = graft.functions.CharNgrams(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("hello"),
        org.apache.spark.sql.types.StringType), 3)
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert((0 until interp.numElements())
      .map(i => interp.getUTF8String(i).toString) == Seq("hel", "ell", "llo"))
  }

  test("shingles_sorted kernel equals array_sort(array_distinct(graft_shingles)), edges included") {
    import spark.implicits._
    // corpus rows + crafted edges: exactly-n tokens, heavy duplicate
    // shingles, all-identical tokens
    val texts = Tables.documents(spark, sf001).select("text")
      .limit(200).collect().map(_.getString(0)).toSeq ++
      Seq("a b c d e", "a b a b a b a b a b a b", "x x x x x x x x")
    val df = texts.toDF("text")
      .selectExpr("split(text, ' ') AS toks").filter(size(col("toks")) >= 5)
    val got = df.selectExpr("graft_shingles_sorted(toks, 5) AS g")
      .collect().map(_.getSeq[String](0).toList)
    val ref = df.selectExpr(
        "array_sort(array_distinct(graft_shingles(toks, 5))) AS g")
      .collect().map(_.getSeq[String](0).toList)
    assert(got.toSeq == ref.toSeq)
    assert(got.exists(_.nonEmpty))
  }

  test("rpBands: signature derivation pinned to the documented splitmix64 contract") {
    // llm_dedup_incr_near appends (vec_id, band) rows to a CORPUS band
    // table across sessions — a silent change to the signature
    // derivation would orphan every previously indexed band. This
    // re-derives the contract independently: bit t of r·bands = sign
    // of the Rademacher projection with ±1 from splitmix64
    // (seed·φ64 + t·FNV64 + dim), bits packed r-per-band.
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z ^= (z >>> 30); z *= 0xbf58476d1ce4e5b9L
      z ^= (z >>> 27); z *= 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val (r, bands, seed, d) = (16, 24, 7L, 64)
    val vec = Array.tabulate(d)(i => math.sin(i + 1.0))
    val expected = new Array[Long](bands)
    for (t <- 0 until r * bands) {
      val base = seed * 0x9e3779b97f4a7c15L + t.toLong * 0x100000001b3L
      var p = 0.0
      for (j <- 0 until d)
        p += (if ((mix(base + j) & 1L) == 1L) vec(j) else -vec(j))
      if (p > 0) expected(t / r) |= (1L << (t % r))
    }
    val got = graft.functions.VectorKernels.rpBands(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vec),
      r, bands, seed).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()
    assert(got.toSeq == expected.toSeq)
  }

  test("jaccard prefix filter: equals the all-pairs ground truth (no misses)") {
    import spark.implicits._
    // prefix filtering is an EXACT technique — the candidate set must
    // contain every pair the quadratic scan finds, at every tau tested
    val docs = Tables.documents(spark, sf001).select("doc_id", "text").limit(120)
    for (tau <- Seq(0.5, 0.8)) {
      val fast = LlmOps.jaccardPairs(docs, tau)
        .orderBy("doc_a", "doc_b").collect().toSeq
      val toks = split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ")
      val sets = docs.select(col("doc_id"),
        array_distinct(when(size(toks) >= 3,
          call_function("graft_shingles", toks, lit(3)))
          .otherwise(array(concat_ws(" ", toks)))).as("sh"))
      val brute = sets.as("a").crossJoin(sets.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .withColumn("inter", size(array_intersect(col("a.sh"), col("b.sh"))))
        .withColumn("jaccard", round(col("inter").cast("double") /
          (size(col("a.sh")) + size(col("b.sh")) - col("inter")), 6))
        .filter(col("jaccard") >= tau)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("jaccard"))
        .orderBy("doc_a", "doc_b").collect().toSeq
      assert(fast == brute, s"prefix filter diverged from brute force at tau=$tau")
    }
  }

  test("quant8: codes bounded by ±127, reconstruction error bounded by scale/2") {
    val rows = SparkEntry.queries("llm_vector_quant")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val q = r.getString(2).split(',').filter(_.nonEmpty).map(_.toInt).toSeq
      val maxErr = r.getDouble(3)
      assert(q.forall(v => v >= -127 && v <= 127), s"code out of range: $r")
      // round-half-up quantization error is at most half a step
      assert(maxErr <= scale / 2 + 1e-12, s"error above scale/2: $r")
      assert(scale >= 0.0)
    }
  }

  test("lang-id: trigram profiles separate planted languages on holdout") {
    import spark.implicits._
    // three synthetic "languages" with disjoint character inventories —
    // the driver corpus's lang labels are uncorrelated with its text
    // (shared vocab), so classifier QUALITY is proven here instead
    val rnd = new scala.util.Random(42)
    def word(alphabet: String): String =
      (0 until 3 + rnd.nextInt(5)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    def doc(alphabet: String): String =
      (0 until 12 + rnd.nextInt(20)).map(_ => word(alphabet)).mkString(" ")
    val alphabets = Map("alpha" -> "abcdefghijklm", "omega" -> "nopqrstuvwxyz",
      "digit" -> "0123456789")
    val docs = (0L until 300L).map { i =>
      val lang = Seq("alpha", "omega", "digit")((i % 3).toInt)
      (i, doc(alphabets(lang)), lang)
    }.toDF("doc_id", "text", "lang")
    val pred = LlmOps.langId(docs, topK = 200, trainMod = 5)
    // holdout = docs excluded from the profile build
    val holdout = pred.filter(col("doc_id") % 5 === 0)
    val n = holdout.count()
    val correct = holdout.filter(col("lang") === col("lang_pred")).count()
    assert(n > 0)
    assert(correct.toDouble / n >= 0.95,
      s"holdout accuracy ${correct.toDouble / n} below 0.95")
    // the oracled corpus path stays total: every doc gets a prediction
    val full = LlmOps.langId(Tables.documents(spark, sf001))
    assert(full.filter(col("lang_pred").isNull).count() == 0)
  }

  test("fingerprint: deterministic and (near-)unique across the corpus") {
    val q = SparkEntry.queries("llm_fingerprint")
    val a = q(spark, sf001).collect().toSeq
    val b = q(spark, sf001).collect().toSeq
    assert(a == b)
    val n = a.size
    val distinct = a.map(_.getAs[Long]("fingerprint")).distinct.size
    assert(distinct > n * 9 / 10, s"$distinct distinct of $n")
  }

  test("udtf: generator rendering equals typed flatMap rendering") {
    import spark.implicits._
    val viaGenerator = SparkEntry.queries("udtf_explode_props")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    val viaFlatMap = Tables.documents(spark, sf001)
      .select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        text.split(" ").zipWithIndex.map { case (t, i) => (id, i, t) }
      }
      .orderBy("_1", "_2").collect().toSeq
    assert(viaGenerator == viaFlatMap)
  }

  test("multimodal: PPM images decode for real — exact channel means and dims") {
    import spark.implicits._
    def ppm(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val px = Array.tabulate(w * h * 3)(i => (i % 3 match {
        case 0 => r; case 1 => g; case _ => b
      }).toByte)
      header ++ px
    }
    val records = Seq(
      Multimodal.MediaRecord(1L, ppm(4, 2, 255, 0, 128), "image/ppm", 4, 2),
      Multimodal.MediaRecord(2L, ppm(8, 8, 10, 20, 30), "image/ppm", 8, 8),
      Multimodal.MediaRecord(3L, "not an image".getBytes, "image/ppm", 1, 1),
      Multimodal.MediaRecord(4L, "plain bytes".getBytes, "video/mp4", 1, 1))
      .toDS()
    val out = Multimodal.extractFeatures(records)
      .collect().map(f => f.doc_id -> f.features).toMap
    // solid-color image: exact means, exact dims, decode marker set
    assert(out(1L).toSeq == Seq(1.0f, 0.0f, 128f / 255f,
      (255f + 0f + 128f) / (3 * 255f), 4f, 2f, 2f, 1f))
    assert(out(2L)(4) == 8f && out(2L)(5) == 8f && out(2L)(7) == 1f)
    assert(math.abs(out(2L)(0) - 10f / 255f) < 1e-6)
    // malformed "ppm" and non-image types fall back to the stub
    // histogram (marker stays a histogram bin, sums to ~1)
    assert(out(3L).sum > 0.99f && out(3L).sum < 1.01f)
    assert(out(4L).sum > 0.99f && out(4L).sum < 1.01f)
  }

  test("multimodal: PNG round-trips losslessly through javax.imageio") {
    // encode the byte-cycle pattern as a real PNG, decode it back, and
    // the pixels must equal the pattern exactly (PNG is lossless)
    val text = "the quick brown fox jumps over the lazy dog"
    val png = Multimodal.imageBytes(text, 4, 3, "png")
    // real PNG magic
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P'.toByte)
    val Some((w, h, rgb)) = Multimodal.decodeImage(png)
    assert(w == 4 && h == 3)
    val payload = text.getBytes("UTF-8")
    val expected = Array.tabulate(4 * 3 * 3)(i => payload(i % payload.length))
    assert(rgb.toSeq == expected.toSeq)
    // non-image bytes yield None (the stub-fallback trigger)
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
  }

  test("multimodal: planted JPEG decodes end-to-end through the pipeline") {
    import spark.implicits._
    val text = "jpeg pipeline fixture with enough bytes to cycle through"
    val jpg = Multimodal.imageBytes(text, 8, 8, "jpg")
    assert((jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8) // JPEG SOI
    val records = Seq(
      Multimodal.MediaRecord(1L, jpg, "image/jpeg", 8, 8),
      // fake blob mislabeled as PNG (the packMedia shape): stub path
      Multimodal.MediaRecord(2L, "plain text".getBytes, "image/png", 1, 1))
      .toDS()
    val out = Multimodal.extractFeatures(records)
      .collect().map(f => f.doc_id -> f.features).toMap
    // decoded-for-real marker + dims from the actual decode
    assert(out(1L)(7) == 1f && out(1L)(4) == 8f && out(1L)(5) == 8f)
    // JPEG is lossy but close: brightness within 0.05 of the source
    // pattern's true mean
    val payload = text.getBytes("UTF-8")
    val trueMean = Array.tabulate(8 * 8 * 3)(
      i => payload(i % payload.length) & 0xff).sum / (8f * 8 * 3 * 255)
    assert(math.abs(out(1L)(3) - trueMean) < 0.05f)
    // the mislabeled blob fell back to the histogram stub
    assert(out(2L)(7) != 1f && out(2L).sum > 0.99f && out(2L).sum < 1.01f)
  }

  test("multimodal: llm_multimodal_decode_img decodes every corpus row") {
    val df = graft.SparkEntry.queries("llm_multimodal_decode_img")(
      spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every corpus PNG decodes for real — no stub fallbacks
    assert(rows.forall(_.getAs[Int]("decoded") == 1))
    // deterministic: a second run is byte-identical
    val again = graft.SparkEntry.queries("llm_multimodal_decode_img")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("multimodal resize: nearest-neighbor picks exact source pixels") {
    import spark.implicits._
    // 2×2 image with four distinct solid pixels: R G / B W
    val header = "P6\n2 2\n255\n".getBytes("US-ASCII")
    val px = Array(255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte)
    val rec = Seq(Multimodal.MediaRecord(7L, header ++ px, "image/ppm", 2, 2)).toDS()
    // downsample to 1×1: nearest-neighbor (floor mapping) keeps the
    // TOP-LEFT pixel, so brightness_out is pure red = 255/(3·255)
    val down = Multimodal.resizeImages(rec, 1, 1).collect().head
    assert(down.w == 2 && down.tw == 1)
    assert(math.abs(down.brightness_out - 1f / 3f) < 1e-6)
    // upsample 2×2 → 4×4 replicates pixels: brightness is UNCHANGED
    val up = Multimodal.resizeImages(rec, 4, 4).collect().head
    assert(math.abs(up.brightness_in - up.brightness_out) < 1e-6)
    // raw resize math: 4×4 of the same image tiles each source pixel 2×2
    val big = Multimodal.resizeRgb(2, 2, px, 4, 4)
    assert(big.length == 4 * 4 * 3)
    assert((big(0), big(1), big(2)) == (px(0), px(1), px(2)))          // (0,0)←(0,0)
    assert((big(3), big(4), big(5)) == (px(0), px(1), px(2)))          // (1,0)←(0,0)
    assert((big(6), big(7), big(8)) == (px(3), px(4), px(5)))          // (2,0)←(1,0)
  }

  test("multimodal frame-sample: every-kth frame of a concatenated video") {
    import spark.implicits._
    val docs = Seq((1L, "abcdefghijklmnopqrstuvwxyz0123456789"))
      .toDF("doc_id", "text")
    val vids = Multimodal.packVideos(docs, w = 4, h = 4, frames = 5)
    // 5 frames sampled every 2 → indices 0, 2, 4
    val frames = Multimodal.sampleVideoFrames(vids, every = 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(frames.forall(f => f.w == 4 && f.h == 4))
    // phased payloads: consecutive sampled frames genuinely differ
    assert(frames.map(_.brightness).distinct.length > 1)
    // determinism: a second run produces identical rows
    val again = Multimodal.sampleVideoFrames(vids, every = 2)
      .collect().sortBy(_.frame_idx)
    assert(again.toSeq == frames.toSeq)
  }

  test("scan_binaryfile: raw-file ingestion ≡ the in-memory media pipeline") {
    import graft.ops.Multimodal
    val got = SparkEntry.queries("scan_binaryfile")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getFloat(2), r.getInt(3)))
    assert(got.nonEmpty, "binaryFile scan found no fixture files")
    assert(got.forall(_._4 == 1), "a file failed the real ImageIO decode")
    // ingested-from-disk features == the parquet-embedded pipeline's
    // for the same docs (same text → same PNG bytes → same decode)
    val want = Multimodal.extractFeatures(Multimodal.packImages(
        Tables.documents(spark, sf001).filter(col("doc_id") < 64), fmt = "png"))
      .toDF()
      .select(col("doc_id"), col("n_bytes"),
        round(element_at(col("features"), 1), 6).as("mean_r"),
        element_at(col("features"), 8).cast("int").as("decoded"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getFloat(2), r.getInt(3)))
      .sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("multimodal pipeline: schema, determinism, distributed shape") {
    val docs = Tables.documents(spark, sf001)
    val out = Multimodal.mediaPipeline(docs)
    val df = out.toDF()
    assert(df.schema.fieldNames.toSeq ==
      Seq("doc_id", "media_type", "n_bytes", "features"))
    val rows = df.orderBy("doc_id").collect()
    assert(rows.length == docs.count())
    // n_bytes == n_chars (ascii corpus) — metadata survives the stub decode
    val chars = docs.select("doc_id", "n_chars").orderBy("doc_id").collect()
    assert(rows.map(_.getAs[Int]("n_bytes")).toSeq ==
      chars.map(_.getAs[Long]("n_chars").toInt).toSeq)
    // fixed feature dim; histogram normalized
    rows.foreach { r =>
      val f = r.getAs[scala.collection.Seq[Float]]("features")
      assert(f.length == Multimodal.FeatureDim)
      assert(math.abs(f.sum - 1.0f) < 1e-3)
    }
    // deterministic under repartition (no partition-order dependence)
    val re = Multimodal.mediaPipeline(docs.repartition(7)).toDF()
      .orderBy("doc_id").collect()
    assert(re.map(r => (r.getLong(0), r.getInt(2))).toSeq ==
      rows.map(r => (r.getLong(0), r.getInt(2))).toSeq)
  }

  test("audio: WAV round-trip — header fields and 16-bit PCM samples exact") {
    val text = "audio fixture with deterministic bytes"
    val wav = Multimodal.wavBytes(text, sampleRate = 8000, n = 256)
    val Some((rate, ch, bits, xs)) = Multimodal.parseWav(wav)
    assert(rate == 8000 && ch == 1 && bits == 16 && xs.length == 256)
    val payload = text.getBytes("UTF-8")
    // sample i must equal the centered/scaled payload byte exactly
    (0 until 256).foreach { i =>
      val expect = (((payload(i % payload.length) & 0xff) - 128) << 7).toShort
      assert(xs(i) == expect, s"sample $i")
    }
    // non-RIFF bytes refuse to parse
    assert(Multimodal.parseWav("not audio at all".getBytes).isEmpty)
  }

  test("audio: features — RMS/ZCR/peak exact on a hand-built square wave") {
    import spark.implicits._
    // ±1000 square wave, period 2: rms = 1000, zcr = (n-1)/n, peak = 1000
    val n = 64
    val data = Array.tabulate(n)(i => if (i % 2 == 0) 1000 else -1000)
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + n * 2).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(16000).putInt(32000).putShort(2).putShort(16)
    bb.put("data".getBytes).putInt(n * 2)
    data.foreach(v => bb.putShort(v.toShort))
    val rec = Seq(Multimodal.MediaRecord(7L, bb.array(), "audio/wav", 0, 0)).toDS()
    val f = Multimodal.audioFeatures(rec).collect().head
    assert(f.sample_rate == 16000 && f.bits == 16 && f.n_samples == n)
    assert(f.duration_us == n.toLong * 1000000L / 16000)
    assert(math.abs(f.rms - 1000f / 32768f) < 1e-6)
    assert(f.peak == 1000)
    assert(math.abs(f.zcr - (n - 1).toFloat / n) < 1e-6)
    // registered query runs over the whole corpus, one row per doc
    val df = SparkEntry.queries("llm_audio_features")(spark, sf001)
    assert(df.count() == Tables.documents(spark, sf001).count())
    assert(df.filter(col("sample_rate") =!= 8000).count() == 0)
  }

  test("media meta: header sniff detects format + dims without decoding") {
    val text = "metadata sniffing fixture"
    assert(Multimodal.sniffMediaMeta(
      Multimodal.imageBytes(text, 5, 3, "png")) == Some(("png", 5, 3)))
    assert(Multimodal.sniffMediaMeta(
      Multimodal.imageBytes(text, 6, 4, "jpg")) == Some(("jpeg", 6, 4)))
    assert(Multimodal.sniffMediaMeta(
      Multimodal.wavBytes(text)) == Some(("wav", 0, 0)))
    assert(Multimodal.sniffMediaMeta("P6\n2 2\n255\n".getBytes ++
      Array.fill[Byte](12)(1)) == Some(("ppm", 2, 2)))
    assert(Multimodal.sniffMediaMeta("garbage bytes".getBytes).isEmpty)
    // registered query: every corpus row sniffs to its packed type
    val rows = SparkEntry.queries("llm_media_meta")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val expect = (id % 4) match {
        case 0 => "png"; case 1 => "jpeg"; case 2 => "wav"; case _ => "ppm"
      }
      assert(r.getAs[String]("detected") == expect, s"doc $id")
      if (expect == "png" || expect == "jpeg" || expect == "ppm")
        assert(r.getAs[Int]("width") == 4 && r.getAs[Int]("height") == 4)
    }
  }

  test("phash: re-encoded copies pair, distinct images stay far apart") {
    val docs = Tables.documents(spark, sf001).limit(64)
    val png = Multimodal.perceptualHashes(
      Multimodal.packBlockImages(docs, fmt = "png")).collect()
      .map(h => h.doc_id -> h.phash).toMap
    val jpg = Multimodal.perceptualHashes(
      Multimodal.packBlockImages(docs, fmt = "jpg")).collect()
      .map(h => h.doc_id -> h.phash).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // cross-encoding robustness: the SAME image through lossless PNG
    // and lossy JPEG stays within the banding radius for the
    // overwhelming majority of docs (block-smooth fixtures measured
    // 0–6; the noise-pattern fixtures measured 12–24 — see
    // blockImageBytes)
    val within = png.keys.count(id => ham(png(id), jpg(id)) <= 6)
    assert(within >= png.size * 9 / 10,
      s"only $within/${png.size} png↔jpg pairs within Hamming 6")
    // distinct images are far apart: median pairwise distance ≥ 16
    val ids = png.keys.toSeq.sorted.take(24)
    val dists = for { a <- ids; b <- ids if a < b } yield ham(png(a), png(b))
    val med = dists.sorted.apply(dists.size / 2)
    assert(med >= 16, s"median inter-image Hamming $med")
    // registered band-join query finds each doc's two encodings as a
    // pair (possibly among further near-dup pairs); the Manku triple
    // banding at radius 6 makes detection of every ≤6-bit pair a
    // guarantee, not luck
    val pairs = SparkEntry.queries("llm_phash_dedup")(spark, sf001)
      .collect()
    val selfPairs = pairs.filter(r =>
      r.getAs[Long]("doc_a") == r.getAs[Long]("doc_b"))
    val docCount = Tables.documents(spark, sf001).count()
    assert(selfPairs.length >= docCount * 9 / 10,
      s"${selfPairs.length}/$docCount docs paired their own re-encoding")
    pairs.foreach(r => assert(r.getAs[Int]("hamming") <= 6))
  }

  test("bpe: training is deterministic, picks the weighted most-frequent pair") {
    import graft.ops.Bpe
    // hand-checkable vocabulary: pair (a,b) has weight 5+5=10 from
    // "abab" (two occurrences x 5) ... compute: "abab" syms a,b,a,b
    // pairs (a,b)x2, (b,a)x1 each weighted 5 => (a,b)=10, (b,a)=5;
    // "abc" adds (a,b)+3 =13, (b,c)+3 => first merge must be (a,b)
    val wc = Seq(("abab", 5L), ("abc", 3L))
    val merges = Bpe.trainMerges(wc, 3)
    assert(merges.head == ("a", "b"), merges.toString)
    // deterministic: same input, same table (no hash-order leakage)
    assert(merges == Bpe.trainMerges(wc, 3))
    // after merging (a,b): "abab" -> [ab, ab], "abc" -> [ab, c];
    // pair (ab,ab)=5, (ab,c)=3 => second merge (ab, ab)
    assert(merges(1) == ("ab", "ab"), merges.toString)
  }

  test("bpe: encode round-trips and a fully-learned word is one token") {
    import graft.ops.Bpe
    val ranks = Bpe.trainMerges(Seq(("the", 100L), ("then", 10L)), 10)
      .zipWithIndex.toMap
    // merges learned from "the"-dominated counts collapse it fully
    assert(Bpe.encode("the", ranks).length == 1)
    // round-trip: concatenation reproduces any word, learned or not
    for (w <- Seq("the", "then", "there", "cat", "a", ""))
      assert(Bpe.encode(w, ranks).mkString("") == w, s"round-trip '$w'")
  }

  test("bpe: registered query — per-doc invariants over the corpus") {
    val rows = SparkEntry.queries("llm_bpe")(spark, sf001).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf001)
      .selectExpr("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val words = r.getAs[Long]("n_words")
      val bpe = r.getAs[Long]("n_bpe")
      // every word is >= 1 subword token; subword count never exceeds
      // character count (merges only ever SHRINK the char segmentation)
      assert(bpe >= words, r.toString)
      assert(bpe <= docs(r.getAs[Long]("doc_id")), r.toString)
    }
    // the merge table bites: trained segmentation beats the
    // char-per-token ceiling by a wide margin on natural text
    val avg = rows.map(r =>
      r.getAs[Double]("bpe_per_word")).sum / rows.length
    assert(avg < 4.0, s"avg bpe tokens per word $avg — merges not applied?")
  }

  test("md5 gate twins: each text twin RECOVERS its planted clone pairs " +
      "(recall pin — the hash gate proves cross-engine equality, this " +
      "proves the shared answer is the RIGHT one)") {
    // all three text twins plant drop-last-token clones under the
    // high-bit tag; a twin that hash-matched DuckDB but lost the
    // planted pairs (both engines wrong together — e.g. a banding bug
    // present in the shared SQL) would pass the gate and fail here.
    val tag = 1L << 40
    def plantedRecall(key: String): (Double, Long) = {
      val pairs = SparkEntry.queries(key)(spark, sf01)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val nDocs = Tables.documents(spark, sf01).count()
      val found = pairs.count { case (a, b) => b == (a | tag) }
      (found.toDouble / nDocs, nDocs)
    }
    // simhash's pin is lower than minhash's: the banding GUARANTEE is
    // "every pair within hamming ≤ 3 is found" (pigeonhole — exact),
    // but whether a drop-last-token edit LANDS within radius 3 is a
    // property of the per-bit vote margins, which differ by hash
    // family (measured: 0.71 under md5 votes vs ~0.9 under the
    // production kernel). The pin guards the banding machinery, not
    // the edit's radius.
    val (simhashR, _) = plantedRecall("llm_dedup_simhash_md5")
    assert(simhashR >= 0.6,
      s"simhash_md5 planted-clone recall $simhashR — banding lost pairs")
    val (nearR, _) = plantedRecall("llm_dedup_near_md5")
    assert(nearR >= 0.8,
      s"near_md5 planted-clone recall $nearR — banding lost pairs")
    // and precision-ish: the non-clone pair mass stays bounded (band
    // collisions confirm-filtered) — a degenerate all-pairs banding
    // would explode this
    val all = SparkEntry.queries("llm_dedup_near_md5")(spark, sf01).count()
    val clones = SparkEntry.queries("llm_dedup_near_md5")(spark, sf01)
      .filter(col("doc_b") === (col("doc_a").bitwiseOR(lit(tag)))).count()
    assert(all <= clones * 2,
      s"near_md5 emitted $all pairs for $clones planted — candidates leak")
    // incremental twin: each planted batch clone must best-match its
    // EXACT corpus original (the tiebreak + batch⋈corpus join under
    // recall, not just the gate)
    val incr = SparkEntry.queries("llm_dedup_incr_near_md5")(spark, sf01)
      .filter(col("doc_id") >= lit(1L << 41)).collect()
    val matched = incr.count(r => !r.isNullAt(1) &&
      r.getLong(1) == r.getLong(0) - (1L << 41))
    assert(matched.toDouble / incr.length >= 0.8,
      s"incr_near_md5: only $matched/${incr.length} clones matched exactly")
  }

  test("r21 twin memo restructure: each memoized twin ≡ its monolithic " +
      "shared-SQL form row-for-row (the optimization changed the Spark " +
      "plan, not the relation)") {
    // the r21 optimization reads session-memoized signature bases
    // instead of rebuilding them inline; the DuckDB oracle is the
    // unchanged monolithic SQL, and this pin proves the Spark sides
    // agree with each other too — a drifted fragment (band arms, hash
    // constants, clone construction) would split here even if both
    // engines drifted together
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    Tables.documents(spark, sf001).select("doc_id", "text")
      .createOrReplaceTempView("graft_nearmd5_docs")
    Tables.documents(spark, sf001).select("doc_id", "text")
      .createOrReplaceTempView("graft_incrmd5_docs")
    Tables.documents(spark, sf001).select("doc_id", "text")
      .createOrReplaceTempView("graft_shmd5_docs")
    Tables.embeddings(spark, sf001).select("vec_id", "embedding")
      .createOrReplaceTempView("graft_lshmd5_emb")
    val mono = Map(
      "llm_dedup_near_md5" -> LlmOps.nearDupMd5Sql(sparkSide = true),
      "llm_dedup_incr_near_md5" -> LlmOps.incrNearMd5Sql(sparkSide = true),
      "llm_dedup_simhash_md5" -> LlmOps.simHashMd5Sql(sparkSide = true),
      "llm_simsearch_lsh_md5" -> LlmOps.lshMd5Sql(sparkSide = true))
    // monolithic SQL reads graft_nearmd5_docs / graft_incrmd5_docs;
    // those views exist only here (the ops now read the memoized base)
    mono.foreach { case (key, monoSql) =>
      val restructured = rows(SparkEntry.queries(key)(spark, sf001))
      val monolithic = rows(spark.sql(monoSql))
      assert(restructured == monolithic,
        s"$key: memoized restructure diverged from monolithic SQL " +
          s"(${restructured.size} vs ${monolithic.size} rows)")
    }
    // ngram novelty: the r21 doc-grain form (no shingle-grain join)
    // must equal the join-back reference row-for-row
    assert(rows(LlmOps.ngramNovelty(spark, sf001)) ==
      rows(LlmOps.ngramNoveltyJoinForm(spark, sf001)),
      "ngram_novelty doc-grain form diverged from the join form")
  }

  test("boilerplate rank: fixed-point twin ≡ float kernel on ordering " +
      "and scores (the GraphSpec fixed≡float pin, cross-layer)") {
    // same edges (winnow pairs ≥ 2 shared), same 5 rounds, no sinks
    // (bidirectional) — the DECIMAL-quantized chain and the float
    // kernel run the same recursion, so the top-20 must agree on
    // membership+order and scores to ~1e-5 (per-round 10dp rounding
    // is the only divergence source)
    val float = SparkEntry.queries("llm_boilerplate_rank")(spark, sf01)
      .select("doc_id", "pr").collect()
    val fixed = SparkEntry.queries("llm_boilerplate_rank_fixed")(spark, sf01)
      .select("doc_id", "pr").collect()
    assert(float.map(_.getLong(0)).toSeq == fixed.map(_.getLong(0)).toSeq,
      "fixed and float top-20 orderings diverge")
    float.zip(fixed).foreach { case (a, b) =>
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-5,
        s"doc ${a.getLong(0)}: float ${a.getDouble(1)} fixed ${b.getDouble(1)}")
    }
  }
}
