package graft.ops

import graft.{Memo, Op, OpModule, Tables}
import graft.functions.SeededFnvHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators (SURVEY.md §2.10): dedup (exact +
  * MinHash-LSH near), similarity search, vector math, text analysis /
  * quality, n-grams, multimodal record assembly.
  *
  * Everything stays in Catalyst-native higher-order functions and the
  * custom codegen'd [[SeededFnvHash]] — no Scala-closure UDFs in any
  * hot path.
  *
  * 100 TB notes per op are on the individual methods; the common
  * theme: shuffle on content-derived keys (hash buckets, LSH bands)
  * so work distributes by data, never by a driver-side loop.
  */
object LlmOps extends OpModule {

  /** whitespace-normalized lowercase text */
  private[ops] def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Engine-wide tokenizer: whitespace split, with a codepoint-class
    * fallback for no-whitespace scripts — every CJK codepoint
    * (Han/Hiragana/Katakana/Hangul script) becomes its own token, so
    * a Chinese/Japanese/Korean document yields per-character unigrams
    * (and the shingle layer on top yields character n-grams — the
    * standard no-segmenter CJK retrieval/dedup representation)
    * instead of degrading to one giant token per text.
    *
    * On whitespace-delimited text the output is byte-identical to the
    * r13 `split(normText(c), " ")` (LlmSpec pins ≡ over the driver
    * corpus), so every oracled query's hash is unchanged. Implemented
    * as the codegen'd [[graft.functions.CjkTokens]] kernel: the first
    * cut — a regex alternation with `\p{IsXxx}` script classes — paid
    * a per-char script-table lookup on every document and measured
    * +75% on the x256 jaccard soak; the kernel's ASCII fast path
    * never reaches the script check on Latin text.
    */
  private[graft] def tokens(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.CjkTokens(
        org.apache.spark.sql.graftbridge.Bridge.expr(c)))

  /** The ONE BM25 score expression both Spark and the DuckDB oracle
    * evaluate (`llm_bm25`) — fully parenthesized so both engines run
    * the identical IEEE op sequence; constants in exponent form
    * (22e-1 = k1+1, 12e-1 = k1, 25e-2 = 1−b, 75e-2 = b) because bare
    * decimals parse as DECIMAL, not DOUBLE, in both engines. */
  /** Shared MLM-mask SQL (llm_mask_tokens): content-keyed per-token
    * coin, HOF masking, per-doc stats; the md5-bucket idiom and the
    * list functions are engine-spliced. */
  private def maskSql(table: String, spark: Boolean): String = {
    // per-(doc, position) hash bucket 0..99 — the trainSplit idiom
    def coin(posVar: String): String =
      if (spark)
        s"CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST($posVar AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100"
      else
        s"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST($posVar AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
    if (spark)
      s"""WITH t AS (
            SELECT doc_id,
              split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' ')
                AS toks
            FROM $table),
          m AS (
            SELECT doc_id, size(toks) AS n_toks,
              transform(sequence(1, size(toks)),
                i -> CASE WHEN ${coin("i")} < 15
                     THEN '<mask>' ELSE element_at(toks, i) END)
                AS masked
            FROM t)
          SELECT doc_id, n_toks,
            CAST(size(filter(masked, x -> x = '<mask>')) AS INT)
              AS n_masked,
            round(CAST(size(filter(masked, x -> x = '<mask>'))
                AS DOUBLE) / CAST(n_toks AS DOUBLE), 6) AS pct_masked,
            array_join(masked, ' ') AS masked_text
          FROM m ORDER BY doc_id"""
    else
      s"""WITH t AS (
            SELECT doc_id,
              string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
                AS toks
            FROM $table),
          m AS (
            SELECT doc_id, len(toks) AS n_toks,
              list_transform(generate_series(1, len(toks)),
                i -> CASE WHEN ${coin("i")} < 15
                     THEN '<mask>' ELSE toks[i] END) AS masked
            FROM t)
          SELECT doc_id, CAST(n_toks AS INTEGER) AS n_toks,
            CAST(len(list_filter(masked, x -> x = '<mask>'))
              AS INTEGER) AS n_masked,
            round(CAST(len(list_filter(masked, x -> x = '<mask>'))
                AS DOUBLE) / CAST(n_toks AS DOUBLE), 6) AS pct_masked,
            array_to_string(masked, ' ') AS masked_text
          FROM m ORDER BY doc_id"""
  }

  private val bm25ScoreExpr: String =
    "(((CAST(tf * (nd - df) AS DOUBLE) / CAST(df AS DOUBLE)) * 22e-1) / " +
      "(CAST(tf AS DOUBLE) + 12e-1 * (25e-2 + 75e-2 * " +
      "(CAST(dl AS DOUBLE) / (CAST(tot_dl AS DOUBLE) / CAST(nd AS DOUBLE))))))"

  /** MinHash + banded LSH near-duplicate pairs over (doc_id, text).
    *
    * shingle(3-gram) → k seeded FNV hashes → min per seed → `bands`
    * bands of k/bands rows → band-bucket self-join → candidate pairs →
    * exact-Jaccard confirm at `jaccardMin`.
    *
    * At 100 TB the self-join shuffles only (band_id, band_hash,
    * doc_id) tuples — candidates meet in hash buckets, so cost scales
    * with collisions, not corpus²; the Jaccard confirm touches only
    * candidate pairs. The k hash computations fuse into one codegen
    * stage over the shingle array.
    */
  /** (banded, tokSets) for the MinHash-LSH family: band signatures
    * carrying ONLY (doc_id, band_id, band_hash), and the distinct
    * token sets candidates confirm against. Shared by the self-join
    * ([[nearDupPairs]]) and the batch-vs-corpus incremental variant
    * ([[PipelineOps.dedupIncrementalNear]]).
    */
  private[ops] def bandedMinhash(docs: DataFrame, k: Int,
      bands: Int): (DataFrame, DataFrame) = {
    val rows = k / bands
    // materialize the token array BEFORE any lambda references it: an
    // unbound expression inside a higher-order-function body re-evaluates
    // per array element (regexp+split × n_shingles — 10× slower at sf0.1)
    val toked = docs.select(col("doc_id"), tokens(col("text")).as("toks"),
      normText(col("text")).as("norm"))
    val t = col("toks")
    val shingles = when(size(t) >= 3, call_function("graft_shingles", t, lit(3)))
      .otherwise(array(col("norm")))
    val withSh = toked.select(col("doc_id"), col("toks"), shingles.as("shingles"))
    // all k signature minima in one codegen'd pass (seeds 0..k-1 —
    // value-identical to k separate array_min(transform(...)) passes)
    val minhashes = call_function("graft_minhash", col("shingles"), lit(k))
    // one shuffle on doc_id AFTER the kernel: the band self-join's two
    // branches and both tokset re-attach joins all canonicalize to the
    // same subtree up to this Exchange, so ReuseExchange computes
    // scan → tokens → shingles → minhash ONCE and every branch reads
    // shuffle files (the jaccardPairs/simHashPairs materialization
    // point, VERDICT r7 #1/#2). Shingles are projected away first so
    // the shuffle ships (doc_id, toks, k longs), not the shingle blowup
    // r15 (VERDICT r14 #3): the confirm stage's token sets cross the
    // exchange as xxhash64 LONGS, not strings — hashed and deduped
    // kernel-side BEFORE the shuffle, so the materialization ships
    // (doc_id, |set| longs, k longs) instead of full token arrays,
    // and every downstream set-intersect compares 8-byte words. A
    // 64-bit hash makes two distinct tokens collide with ~2⁻⁶⁴
    // probability — immaterial to a Jaccard CONFIRM (the
    // decontaminate argument; the flag threshold is 0.5, not an
    // exact-equality proof), and LlmSpec's value pins (J = 1.0 on
    // exact dups, edited-pair membership) hold verbatim.
    val hset = array_distinct(expr("transform(toks, t -> xxhash64(t))"))
    val sig = Scale.repartitionSized(Scale.sizedShuffle(docs), withSh
      .withColumn("mh", minhashes)
      .select(col("doc_id"), hset.as("tokset"), col("mh")), col("doc_id"))
    val banded = sig
      .select(col("doc_id"),
        posexplode(array((0 until bands).map { b =>
          hash(slice(col("mh"), b * rows + 1, rows), lit(b))
        }: _*)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
    (banded, sig.select(col("doc_id"), col("tokset")))
  }

  /** Exact Jaccard between two pre-deduped arrays, evaluated with ONE
    * set intersection: |∪| = |a| + |b| − |∩| replaces the second
    * set-op, and the intersect size rides a single-element transform
    * LAMBDA so CollapseProject cannot inline it into both the
    * numerator and the denominator (lambda variables are never
    * inlined — the winnow HOF lesson). */
  private[ops] def jaccardOfSets(a: Column, b: Column): Column =
    expr(s"transform(array(size(array_intersect(${a.toString}, ${b.toString}))), " +
      s"i -> round(cast(i AS DOUBLE) / " +
      s"cast(size(${a.toString}) + size(${b.toString}) - i AS DOUBLE), 6))")
      .getItem(0)

  def nearDupPairs(docs: DataFrame, k: Int = 16, bands: Int = 4,
      jaccardMin: Double = 0.5): DataFrame = {
    // the band self-join carries ONLY (doc_id, band_id, band_hash) —
    // token arrays would otherwise cross the shuffle 2×bands times;
    // they re-attach via doc_id joins on the (small) candidate set
    val (banded, tokSets) = bandedMinhash(docs, k, bands)
    // partition-sizing law on the band self-join (the family's big
    // shuffle) — no-op below the Scale.sizedShuffle threshold
    val sized = Scale.sizedShuffle(docs)
    val a = Scale.shuffleSized(sized,
      banded.select(col("doc_id").as("doc_a"), col("band_id"),
        col("band_hash")), col("band_id"), col("band_hash"))
    val b = Scale.shuffleSized(sized,
      banded.select(col("doc_id").as("doc_b"), col("band_id").as("band_id_b"),
        col("band_hash").as("band_hash_b")), col("band_id_b"), col("band_hash_b"))
    val candidates = a.join(b,
        col("band_id") === col("band_id_b") &&
        col("band_hash") === col("band_hash_b") &&
        col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    candidates
      .join(tokSets.select(col("doc_id").as("doc_a"), col("tokset").as("set_a")), "doc_a")
      .join(tokSets.select(col("doc_id").as("doc_b"), col("tokset").as("set_b")), "doc_b")
      // O(1) LENGTH prefilter before any set work (VERDICT r14 #3):
      // J ≤ min/max, so a pair whose sizes are off by more than the
      // threshold ratio cannot confirm — band collisions between
      // differently-sized docs drop for the cost of two size() reads
      .filter(least(size(col("set_a")), size(col("set_b"))).cast("double")
        >= greatest(size(col("set_a")), size(col("set_b"))) * jaccardMin)
      .withColumn("jaccard", jaccardOfSets(col("set_a"), col("set_b")))
      .filter(col("jaccard") >= jaccardMin)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Hard ceiling on [[simSearch]]'s probe side. The probe set is the
    * BROADCAST side of the brute-force scorer: m probes × n corpus =
    * O(m·n) score evaluations by definition, so m is the only dial
    * that keeps the baseline usable — 4096 probes over any corpus is
    * a bounded calibration/verification workload; beyond that the
    * call is a probes-at-scale search and belongs on the registered
    * ANN paths ([[simSearchLsh]], [[simSearchIvf]], PqOps' IVFPQ),
    * whose exactness degenerates ([[simSearchIvfExact]],
    * `llm_simsearch_ivfpq_exact`) are hash-matched against this very
    * scorer's oracle.
    */
  val MaxBruteForceProbes = 4096

  /** Brute-force top-k cosine neighbors — the verifiable REFERENCE
    * implementation, not the scale path: the registered
    * `llm_simsearch` query dispatches to [[simSearchIvfExact]] (the
    * cid-equi-join plan; PlanSpec pins no nested-loop in its physical
    * plan) and the approximate family handles probes-at-scale.
    * [[MaxBruteForceProbes]] bounds the broadcast probe side in code
    * so an at-scale call fails loudly toward the ANN paths instead of
    * scheduling an O(m·n) nested loop.
    */
  def simSearch(emb: DataFrame, nProbes: Int, topK: Int): DataFrame = {
    require(nProbes <= MaxBruteForceProbes,
      s"simSearch is the brute-force reference scorer; $nProbes probes " +
        s"exceeds MaxBruteForceProbes=$MaxBruteForceProbes — use " +
        "simSearchLsh/simSearchIvf/simSearchIvfPq for probes at scale")
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
    val scored = probes.crossJoin(emb)
      .withColumn("cosine", round(
        cosineCols(col("p_emb"), col("embedding")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id").orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("p_id", "rank", "vec_id", "cosine")
  }

  /** Cosine via the codegen'd dot kernel. float→double is a widening
    * (exact) cast, and the kernel folds left-to-right, so values stay
    * bit-identical to the HOF/`list_reduce` renderings the oracles use.
    * Callers must have VectorKernels registered on the session.
    */
  private[ops] def cosineCols(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      call_function("graft_dot", x.cast("array<double>"), y.cast("array<double>"))
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** 64-bit SimHash near-duplicate detection. Per document: seeded
    * hash per token → per-bit vote (+1/−1 weighted by occurrence) →
    * sign vector packed into one long. Candidate pairs come from a
    * multi-block band join; the hamming radius is then confirmed
    * exactly with bit_count(xor).
    *
    * Banding is the Manku/Jain/Sarma web-crawl scheme (WWW'07), not
    * the naive 4×16-bit split: the fingerprint divides into
    * b = maxHamming + 3 blocks and each of the C(b, 3) block TRIPLES
    * is one band whose key packs the three block values. Pigeonhole:
    * ≤ maxHamming flipped bits touch ≤ maxHamming blocks, so ≥ 3
    * blocks stay clean and some triple matches exactly — a RECALL
    * GUARANTEE at the requested radius (the old 4×16 split only ever
    * guaranteed hamming ≤ 3; beyond that it found pairs by luck).
    * What the triples buy is candidate volume: random collisions
    * scale with n²·tables/2^keybits, and at the registered radius 3
    * that is 20/2^33 — ~2^17 SMALLER than 4/2^16. The 16-bit scheme
    * measured 51M candidate pairs on an 80k-doc corpus (the soak's
    * one quadratic-shaped family: the hamming confirm, not the join,
    * was the work); the triple scheme admits ~hundreds. 5× more band
    * rows per doc is the price; band rows are 24 bytes. Table count
    * grows cubically in maxHamming — radius 3 → 20, radius 10 → 286
    * — which is the published trade: wide radii belong to MinHash,
    * not SimHash.
    *
    * At 100 TB: the fingerprint is one long per document (vs k
    * minhashes), the band join shuffles (band_id, packed band value,
    * doc_id) only, and radius confirmation touches candidates alone.
    */
  /** Manku/Jain/Sarma (WWW'07) triple-band keys for a 64-bit
    * fingerprint column: b = maxHamming + 3 blocks of ⌈64/b⌉/⌊64/b⌋
    * bits (the first 64 % b blocks take the extra bit); band key =
    * the three block values of a combination packed at 21-bit stride
    * — the top slot has 22 bits, so even b = 3's widest block fits
    * and the packing is injective (the key is an equi-join long,
    * never decoded). Pigeonhole: ≤ maxHamming flipped bits touch
    * ≤ maxHamming blocks, so ≥ 3 blocks stay clean and some triple
    * matches exactly — a RECALL GUARANTEE at the requested radius.
    * Shared by [[simHashPairs]] (text) and the perceptual-hash image
    * dedup ([[Multimodal]]) — any 64-bit similarity fingerprint bands
    * the same way. */
  private[ops] def mankuBandVals(fp: Column, maxHamming: Int): Seq[Column] = {
    val nBlocks = maxHamming + 3
    val baseW = 64 / nBlocks
    val blocks = (0 until nBlocks).scanLeft((0, 0)) { case ((off, w), i) =>
      (off + w, baseW + (if (i < 64 % nBlocks) 1 else 0))
    }.tail
    def blockVal(i: Int): Column = {
      val (off, width) = blocks(i)
      shiftrightunsigned(fp, off).bitwiseAND(lit((1L << width) - 1))
    }
    (0 until nBlocks).combinations(3).toSeq.map { c =>
      shiftleft(blockVal(c(0)), 42)
        .bitwiseOR(shiftleft(blockVal(c(1)), 21))
        .bitwiseOR(blockVal(c(2)))
    }
  }

  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 16,
      s"maxHamming in [0,16] (table count is C(h+3,3)); got $maxHamming")
    // fingerprint = one fused kernel (hash + votes + packing): the
    // composed HOF rendering interpreted 64 lambda evals per token and
    // allocated a vote array per step — 13s → ~1s at sf0.1
    val packed = call_function("graft_simhash_text", col("toks"))
    // one shuffle on doc_id so the band self-join's two branches share
    // ONE fingerprint-kernel stage via exchange reuse instead of each
    // recomputing scan → tokens → graft_simhash_text (VERDICT r7 #2 —
    // same rationale as the jaccardPairs materialization point)
    // partition-sizing law (Scale.sizedShuffle): same self-join shape
    // the deep soak flagged on the jaccard/containment family; no-op
    // below the threshold
    val sized = Scale.sizedShuffle(docs)
    val fp = Scale.repartitionSized(sized,
      docs.select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), packed.as("fp")), col("doc_id"))
    val bandVals = mankuBandVals(col("fp"), maxHamming)
    val banded = fp.select(col("doc_id"), col("fp"),
      posexplode(array(bandVals: _*)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_val")
    val a = Scale.shuffleSized(sized,
      banded.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"),
        col("band_id"), col("band_val")), col("band_id"), col("band_val"))
    val b = Scale.shuffleSized(sized,
      banded.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"),
        col("band_id").as("band_id_b"), col("band_val").as("band_val_b")),
      col("band_id_b"), col("band_val_b"))
    a.join(b, col("band_id") === col("band_id_b") &&
        col("band_val") === col("band_val_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      // radius-confirm BEFORE the pair-dedup shuffle: random band
      // collisions outnumber true near-dups ~50× at sf0.1 (and worse
      // at scale), and hamming is identical for every banded copy of a
      // pair, so filtering first dedups only survivors
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Shared SQL for `llm_dedup_simhash_md5` — the hash-gated twin of
    * [[simHashPairs]] (the rendezvous_md5 / abc_approx lesson, applied
    * a third time): llm_dedup_simhash's no-oracle label belongs to the
    * Spark-only `graft_simhash_text` HASH, not to the SimHash votes or
    * the Manku triple-banding, which are pure integer arithmetic. This
    * twin derives the per-token 64-bit hash from md5 (16 hex digits ×
    * 4 bits, the table_checksum digit idiom), accumulates the ±1 votes
    * per bit as exact integers, packs the fingerprint into two 32-bit
    * halves (bit 63 would overflow a signed BIGINT pack), bands via
    * the SAME 6-block/20-triple pigeonhole construction as
    * [[mankuBandVals]], and confirms hamming ≤ 3 by
    * bit_count(xor(half_a, half_b)) — every stage integer-exact, so
    * the full pair relation hash-matches DuckDB and the banding +
    * confirm machinery itself sits under the driver's gate. Engine
    * splices: explode/unnest, DIV///, shiftleft/<<, ^/xor(), list
    * slicing for the clone texts; every other character is shared.
    * Plan shape matches production: candidates come from a
    * (band_id, band_val) equi self-join, never doc×doc; the md5
    * per-token cost is why the REGISTERED production op keeps the
    * codegen kernel and this twin carries the gate. */
  private[graft] def simHashMd5Sql(sparkSide: Boolean): String = {
    val div = if (sparkSide) "DIV" else "//"
    def shl(a: String, b: String) =
      if (sparkSide) s"shiftleft($a, $b)" else s"($a << ($b))"
    def bitcnt(a: String, b: String) =
      if (sparkSide) s"bit_count($a ^ $b)" else s"bit_count(xor($a, $b))"
    val docsRel = if (sparkSide) "graft_shmd5_docs" else "documents"
    val toks =
      if (sparkSide) "explode(split(text, ' '))"
      else "unnest(string_split(text, ' '))"
    // clone = drop the last whitespace token (the production op's
    // near-dup construction, rendered portably); high-bit tag is
    // additive 2^40 ≡ bitwiseOR for ids < 2^40
    val cloneText =
      if (sparkSide)
        "array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ')"
      else
        ("array_to_string(list_slice(string_split(text, ' '), 1, " +
          "len(string_split(text, ' ')) - 1), ' ')")
    def rng(a: Int, endEx: Int, alias: String) =
      if (sparkSide) s"(SELECT explode(sequence($a, ${endEx - 1})) AS $alias)"
      else s"(SELECT unnest(range($a, $endEx)) AS $alias)"
    // 64 bits in 6 blocks (maxHamming 3 + 3): widths 11,11,11,11,10,10
    // ONE-PASS PIVOTED voting: md5 runs once per token occurrence
    // (projection, no shuffle), the 16 digit values ride as 16
    // columns, and the 64 bit votes are 64 sum expressions in ONE
    // doc-grain aggregate — the whole fingerprint build is a single
    // tokenize pass + one map-combined shuffle on doc_id. (A
    // vocabulary-grain variant — md5 per DISTINCT token + tf join —
    // measured SLOWER here: the (doc, tok) pre-aggregation shuffle
    // and the second tokenize pass cost more than the duplicate
    // hashes they save on this corpus' low token-repeat rate.)
    def digitOf(dd: Int) =
      s"instr('0123456789abcdef', substr(h, $dd, 1)) - 1"
    val digitCols = (1 to 16).map(dd => s"${digitOf(dd)} AS d$dd").mkString(", ")
    // vote_j over token occurrences: j = (d-1)*4 + b, MSB-first
    // within the digit
    val voteSums = (0 until 64).map { j =>
      val dd = j / 4 + 1
      val b = j % 4
      val w = 1 << (3 - b)
      s"sum(2 * ((d$dd $div $w) % 2) - 1) AS v$j"
    }.mkString(", ")
    def bitOf(j: Int) = s"(CASE WHEN v$j > 0 THEN 1 ELSE 0 END)"
    def packBits(js: Range, off: Int) = js.map { j =>
      s"${bitOf(j)} * ${shl("CAST(1 AS BIGINT)", (j - off).toString)}"
    }.mkString(" + ")
    // 64 bits in 6 blocks (maxHamming 3 + 3): widths 11,11,11,11,10,10
    val offs = Seq(0, 11, 22, 33, 44, 54, 64)
    val blockCols = (0 until 6).map { g =>
      s"${packBits(offs(g) until offs(g + 1), offs(g))} AS b$g"
    }.mkString(", ")
    // C(6,3) = 20 block triples packed at 21-bit stride (injective:
    // block values < 2^11, top slot shifted by 42 stays < 2^53)
    val combos = (0 until 6).combinations(3).toSeq
    val bandArms = combos.zipWithIndex.map { case (c, id) =>
      s"WHEN $id THEN b${c(0)} * 4398046511104 + b${c(1)} * 2097152 + b${c(2)}"
    }.mkString(" ")
    s"""WITH corpus AS (
          SELECT doc_id, text FROM $docsRel
          UNION ALL
          SELECT doc_id + 1099511627776 AS doc_id, $cloneText AS text
          FROM $docsRel),
        tk AS (SELECT doc_id, $toks AS tok FROM corpus),
        dgt AS (
          SELECT doc_id, $digitCols
          FROM (SELECT doc_id, md5(tok) AS h FROM tk) t0),
        votes AS (
          SELECT doc_id, $voteSums
          FROM dgt
          GROUP BY doc_id),
        fp AS (
          SELECT doc_id,
            ${packBits(0 until 32, 0)} AS lo,
            ${packBits(32 until 64, 32)} AS hi,
            $blockCols
          FROM votes),
        bands AS (
          SELECT doc_id, tt.band_id AS band_id,
            CASE tt.band_id $bandArms END AS band_val
          FROM fp CROSS JOIN ${rng(0, combos.size, "band_id")} tt),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id),
        ham AS (
          SELECT c.doc_a, c.doc_b,
            CAST(${bitcnt("ha.lo", "hb.lo")} + ${bitcnt("ha.hi", "hb.hi")}
              AS INTEGER) AS hamming
          FROM cand c
          JOIN fp ha ON ha.doc_id = c.doc_a
          JOIN fp hb ON hb.doc_id = c.doc_b)
        SELECT doc_a, doc_b, hamming FROM ham
        WHERE hamming <= 3
        ORDER BY doc_a, doc_b"""
  }

  /** Shared SQL for `llm_simsearch_lsh_md5` — the hash-gated twin of
    * [[rpBandCandidates]]-backed LSH search: llm_simsearch_lsh's
    * no-oracle label belongs to the Spark-only hyperplane RNG inside
    * `graft_rpbands`, not to sign-random-projection banding or the
    * candidate→exact-rescue pipeline. This twin draws RADEMACHER
    * hyperplanes (±1 components — Achlioptas's database-friendly
    * projections, the same LSH family guarantee as Gaussian) from
    * md5(band|bit|dim) parity, so both engines construct bit-identical
    * hyperplanes; each signature bit is the sign of a DECIMAL(38,10)
    * sum of round(±e_i, 10) terms (±1 weights flip sign losslessly, so
    * the projection is order-independent — the hash-gate discipline
    * for float sums), bands pack 6 bits, candidates come from the same
    * (band, band_val) probe⋈corpus equi-join as production, and the
    * exact cosine rescue uses the shared left-fold idiom
    * (Spark aggregate ≡ DuckDB list_reduce). 4 bands × 6 bits: a
    * random pair collides per band at ~2^-6, so candidates stay ~2% of
    * the corpus while a true near-dup pair (θ≈0) survives with
    * near-certainty. Production keeps the codegen kernel; this twin
    * puts the banding + probe + rescue machinery under the gate. */
  private[graft] def lshMd5Sql(sparkSide: Boolean): String = {
    val embRel = if (sparkSide) "graft_lshmd5_emb" else "embeddings"
    // Spark-only shared-exchange pin — see simHashMd5Sql's hint note
    def hint(h: String) = if (sparkSide) s"/*+ $h */ " else ""
    def rng(a: Int, endEx: Int, alias: String) =
      if (sparkSide) s"(SELECT explode(sequence($a, ${endEx - 1})) AS $alias)"
      else s"(SELECT unnest(range($a, $endEx)) AS $alias)"
    val elem =
      if (sparkSide) "element_at(e.embedding, ii.i)" else "e.embedding[ii.i]"
    // exact dot/norm via the rank-ordered left fold both engines
    // evaluate in the same association order (the ivf_exact idiom)
    def dot(x: String, y: String) =
      if (sparkSide)
        (s"aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE), (a, k) -> " +
          s"a + CAST(element_at($x, k) AS DOUBLE) * " +
          s"CAST(element_at($y, k) AS DOUBLE))")
      else
        (s"list_reduce(list_transform(range(1, 65), k -> " +
          s"$x[k]::DOUBLE * $y[k]::DOUBLE), (a, b) -> a + b)")
    // hyperplanes pivoted to 64 rows × 24 sign columns, projections
    // as 24 sum expressions in ONE vec-grain aggregate (the same
    // pivot that fixed the simhash twin's 16× md5 recompute): the
    // per-vector work is a single 64-row join + aggregate, no
    // (vec × band × bit × dim) row explosion
    val sgnCols = (0 until 24).map { q =>
      val t = q / 6; val r = q % 6
      (s"max(CASE WHEN t = $t AND r = $r THEN sgn END) AS s$q")
    }.mkString(", ")
    val projSums = (0 until 24).map(q => s"sum(x * s$q) AS p$q").mkString(", ")
    // band t's value packs its 6 sign bits: Σ_r (p_{t*6+r} > 0)·2^r
    val bandArms = (0 until 4).map { t =>
      val terms = (0 until 6).map(r =>
        s"(CASE WHEN p${t * 6 + r} > 0 THEN 1 ELSE 0 END) * ${1 << r}")
        .mkString(" + ")
      s"WHEN $t THEN $terms"
    }.mkString(" ")
    s"""WITH hp AS (
          SELECT tt.t AS t, rr.r AS r, ii.i AS i,
            CASE WHEN (instr('0123456789abcdef',
                substr(md5(concat_ws('|', tt.t, rr.r, ii.i)), 1, 1)) - 1)
                % 2 = 1
              THEN 1 ELSE -1 END AS sgn
          FROM ${rng(0, 4, "t")} tt
          CROSS JOIN ${rng(0, 6, "r")} rr
          CROSS JOIN ${rng(1, 65, "i")} ii),
        hpw AS (SELECT i, $sgnCols FROM hp GROUP BY i),
        ev AS (
          SELECT vec_id, ii.i AS i,
            CAST(round(CAST($elem AS DOUBLE), 10) AS DECIMAL(38,10)) AS x
          FROM $embRel e CROSS JOIN ${rng(1, 65, "i")} ii),
        proj AS (
          SELECT ${hint("REPARTITION(vec_id)")}v.vec_id, $projSums
          FROM ev v JOIN hpw h ON v.i = h.i
          GROUP BY v.vec_id),
        sig AS (
          SELECT vec_id, tt.t AS t,
            CAST(CASE tt.t $bandArms END AS BIGINT) AS band_val
          FROM proj CROSS JOIN ${rng(0, 4, "t")} tt),
        cand AS (
          SELECT DISTINCT p.vec_id AS p_id, c.vec_id AS vec_id
          FROM (SELECT * FROM sig WHERE vec_id < 5) p
          JOIN sig c ON p.t = c.t AND p.band_val = c.band_val),
        scored AS (
          SELECT cd.p_id, cd.vec_id,
            round(${dot("pe.embedding", "ce.embedding")}
              / (sqrt(${dot("pe.embedding", "pe.embedding")})
               * sqrt(${dot("ce.embedding", "ce.embedding")})), 6) AS cosine
          FROM cand cd
          JOIN $embRel pe ON pe.vec_id = cd.p_id
          JOIN $embRel ce ON ce.vec_id = cd.vec_id),
        ranked AS (
          SELECT p_id, vec_id, cosine,
            row_number() OVER (PARTITION BY p_id
              ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored)
        SELECT p_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine
        FROM ranked WHERE rank <= 10
        ORDER BY p_id, rank"""
  }

  /** Shared SQL for `llm_dedup_near_md5` — the hash-gated twin of
    * [[nearDupPairs]] (fifth no-oracle-label promotion): the
    * production op's label belongs to the seeded-FNV kernel hashes,
    * not to MinHash itself or the b×r banding. This twin draws the
    * per-shingle base value from md5's first 32 bits and the k
    * signature functions from the classic universal-hash family
    * h_i(x) = (a_i·x + b_i) mod p (Carter–Wegman; odd a_i, prime
    * p > 2^32 — every operation exact BIGINT), takes the k mins in
    * ONE doc-grain pivoted aggregate, combines each band's r rows
    * with an exact polynomial fold mod 1e9+7, and confirms candidates
    * with exact shingle-set Jaccard — the full pair relation
    * hash-matches DuckDB, putting the banding + confirm machinery
    * under the driver's gate. Same plan class as production:
    * candidates from a (band_id, band_hash) equi self-join, never
    * doc×doc; the confirm is a postings equi-join on the shingle
    * string over candidate docs only. k=16, bands=4, rows=4,
    * τ=0.5 mirror the production operating point. */
  private[graft] def nearDupMd5Sql(sparkSide: Boolean): String = {
    val docsRel = if (sparkSide) "graft_nearmd5_docs" else "documents"
    val toks =
      if (sparkSide) "split(text, ' ')" else "string_split(text, ' ')"
    val sz = if (sparkSide) "size" else "len"
    val cloneText =
      if (sparkSide)
        "array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ')"
      else
        ("array_to_string(list_slice(string_split(text, ' '), 1, " +
          "len(string_split(text, ' ')) - 1), ' ')")
    // distinct 3-gram shingles; <3-token docs fall back to one
    // whole-text shingle (the production normText fallback, portably)
    val grams =
      if (sparkSide)
        ("transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', " +
          "element_at(toks, i), element_at(toks, i + 1), " +
          "element_at(toks, i + 2)))")
      else
        ("list_transform(range(1, len(toks) - 1), i -> concat_ws(' ', " +
          "toks[i], toks[i + 1], toks[i + 2]))")
    val unn = if (sparkSide) "explode" else "unnest"
    val hint =
      if (sparkSide) "/*+ REPARTITION(doc_id) */ " else ""
    // 32-bit base value from md5's first 8 hex digits (the
    // table_checksum digit idiom — identical text both engines)
    val xExpr = (1 to 8).map { j =>
      val w = 1L << (4 * (8 - j))
      // weights as explicit BIGINT: an INT×INT product overflows
      // under Spark's ANSI mode at digit positions 1-2
      s"(instr('0123456789abcdef', substr(h, $j, 1)) - 1) * CAST($w AS BIGINT)"
    }.mkString(" + ")
    // k=16 universal hashes, min per doc in one pivoted aggregate
    val P = 4294967311L
    val minCols = (0 until 16).map { i =>
      s"min((${2 * i + 1} * x + ${7919 * (i + 1)}) % $P) AS m$i"
    }.mkString(", ")
    // band b = exact polynomial fold of its 4 minhashes mod 1e9+7
    val M = 1000000007L; val R = 1000003L
    val bandArms = (0 until 4).map { b =>
      val v = (0 until 4).map(r => s"m${4 * b + r}")
        .foldLeft("CAST(0 AS BIGINT)")((acc, m) => s"((($acc) * $R + $m) % $M)")
      s"WHEN $b THEN $v"
    }.mkString(" ")
    val bandRange =
      if (sparkSide) "(SELECT explode(sequence(0, 3)) AS band_id)"
      else "(SELECT unnest(range(0, 4)) AS band_id)"
    s"""WITH corpus AS (
          SELECT doc_id, text FROM $docsRel
          UNION ALL
          SELECT doc_id + 1099511627776 AS doc_id, $cloneText AS text
          FROM $docsRel),
        tk AS (SELECT doc_id, text, $toks AS toks FROM corpus),
        sh AS (
          SELECT ${hint}doc_id, sh FROM (
            SELECT DISTINCT doc_id, sh FROM (
              SELECT doc_id, $unn(CASE WHEN $sz(toks) >= 3
                THEN $grams
                ELSE ${if (sparkSide) "array(text)" else "[text]"} END) AS sh
              FROM tk) s0) s1),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        hx AS (
          SELECT doc_id, $xExpr AS x
          FROM (SELECT doc_id, md5(sh) AS h FROM sh) h0),
        mh AS (SELECT ${hint}doc_id, $minCols FROM hx GROUP BY doc_id),
        bands AS (
          SELECT doc_id, tt.band_id AS band_id,
            CASE tt.band_id $bandArms END AS band_hash
          FROM mh CROSS JOIN $bandRange tt),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_common
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.doc_a
          JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
          GROUP BY c.doc_a, c.doc_b),
        j AS (
          SELECT i.doc_a, i.doc_b,
            round(CAST(i.n_common AS DOUBLE) /
              CAST(na.n_sh + nb.n_sh - i.n_common AS DOUBLE), 6) AS jaccard
          FROM inter i
          JOIN sizes na ON na.doc_id = i.doc_a
          JOIN sizes nb ON nb.doc_id = i.doc_b)
        SELECT doc_a, doc_b, jaccard FROM j
        WHERE jaccard >= 0.5
        ORDER BY doc_a, doc_b"""
  }

  /** Shared SQL for `llm_dedup_incr_near_md5` — the hash-gated twin
    * of [[PipelineOps.dedupIncrementalNear]] (the batch-vs-corpus
    * MinHash form): same Carter–Wegman-over-md5 signature machinery
    * as [[nearDupMd5Sql]], but candidates come from a BATCH-side ⋈
    * CORPUS-side band equi-join — the corpus never self-pairs, the
    * incremental posture's defining property — and each batch doc
    * reports its best corpus match (jaccard DESC, corpus_id ASC — the
    * production max(struct(jaccard, −id)) tiebreak) or NULLs. The
    * workload mirrors the production key: corpus = doc_id % 10 ≠ 0,
    * batch = the rest ∪ drop-last-token clones (tag 2^41) of corpus
    * docs with doc_id % 7 = 1, so planted batch clones must match
    * their corpus originals. */
  private[graft] def incrNearMd5Sql(sparkSide: Boolean): String = {
    val docsRel = if (sparkSide) "graft_incrmd5_docs" else "documents"
    val toks =
      if (sparkSide) "split(text, ' ')" else "string_split(text, ' ')"
    val sz = if (sparkSide) "size" else "len"
    val cloneText =
      if (sparkSide)
        "array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ')"
      else
        ("array_to_string(list_slice(string_split(text, ' '), 1, " +
          "len(string_split(text, ' ')) - 1), ' ')")
    val grams =
      if (sparkSide)
        ("transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', " +
          "element_at(toks, i), element_at(toks, i + 1), " +
          "element_at(toks, i + 2)))")
      else
        ("list_transform(range(1, len(toks) - 1), i -> concat_ws(' ', " +
          "toks[i], toks[i + 1], toks[i + 2]))")
    val unn = if (sparkSide) "explode" else "unnest"
    val hint = if (sparkSide) "/*+ REPARTITION(doc_id) */ " else ""
    val xExpr = (1 to 8).map { j =>
      val w = 1L << (4 * (8 - j))
      s"(instr('0123456789abcdef', substr(h, $j, 1)) - 1) * CAST($w AS BIGINT)"
    }.mkString(" + ")
    val P = 4294967311L
    val minCols = (0 until 16).map { i =>
      s"min((${2 * i + 1} * x + ${7919 * (i + 1)}) % $P) AS m$i"
    }.mkString(", ")
    val M = 1000000007L; val R = 1000003L
    val bandArms = (0 until 4).map { b =>
      val v = (0 until 4).map(r => s"m${4 * b + r}")
        .foldLeft("CAST(0 AS BIGINT)")((acc, m) => s"((($acc) * $R + $m) % $M)")
      s"WHEN $b THEN $v"
    }.mkString(" ")
    val bandRange =
      if (sparkSide) "(SELECT explode(sequence(0, 3)) AS band_id)"
      else "(SELECT unnest(range(0, 4)) AS band_id)"
    s"""WITH corpus AS (
          SELECT doc_id, text FROM $docsRel WHERE doc_id % 10 <> 0),
        batch AS (
          SELECT doc_id, text FROM $docsRel WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id + 2199023255552 AS doc_id, $cloneText AS text
          FROM corpus WHERE doc_id % 7 = 1),
        allr AS (
          SELECT 0 AS side, doc_id, text FROM corpus
          UNION ALL
          SELECT 1 AS side, doc_id, text FROM batch),
        tk AS (SELECT side, doc_id, text, $toks AS toks FROM allr),
        sh AS (
          SELECT ${hint}side, doc_id, sh FROM (
            SELECT DISTINCT side, doc_id, sh FROM (
              SELECT side, doc_id, $unn(CASE WHEN $sz(toks) >= 3
                THEN $grams
                ELSE ${if (sparkSide) "array(text)" else "[text]"} END) AS sh
              FROM tk) s0) s1),
        sizes AS (
          SELECT side, doc_id, count(*) AS n_sh FROM sh GROUP BY side, doc_id),
        hx AS (
          SELECT side, doc_id, $xExpr AS x
          FROM (SELECT side, doc_id, md5(sh) AS h FROM sh) h0),
        mh AS (SELECT ${hint}side, doc_id, $minCols
               FROM hx GROUP BY side, doc_id),
        bands AS (
          SELECT side, doc_id, tt.band_id AS band_id,
            CASE tt.band_id $bandArms END AS band_hash
          FROM mh CROSS JOIN $bandRange tt),
        cand AS (
          SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
          FROM (SELECT * FROM bands WHERE side = 1) b
          JOIN (SELECT * FROM bands WHERE side = 0) c
            ON b.band_id = c.band_id AND b.band_hash = c.band_hash),
        inter AS (
          SELECT cd.batch_id, cd.corpus_id, count(*) AS n_common
          FROM cand cd
          JOIN sh sa ON sa.side = 1 AND sa.doc_id = cd.batch_id
          JOIN sh sb ON sb.side = 0 AND sb.doc_id = cd.corpus_id
            AND sb.sh = sa.sh
          GROUP BY cd.batch_id, cd.corpus_id),
        j AS (
          SELECT i.batch_id, i.corpus_id,
            round(CAST(i.n_common AS DOUBLE) /
              CAST(na.n_sh + nb.n_sh - i.n_common AS DOUBLE), 6) AS jaccard
          FROM inter i
          JOIN sizes na ON na.side = 1 AND na.doc_id = i.batch_id
          JOIN sizes nb ON nb.side = 0 AND nb.doc_id = i.corpus_id),
        best AS (
          SELECT batch_id, corpus_id, jaccard,
            row_number() OVER (PARTITION BY batch_id
              ORDER BY jaccard DESC, corpus_id ASC) AS rn
          FROM j WHERE jaccard >= 0.5)
        SELECT b.doc_id, w.corpus_id AS dup_of, w.jaccard,
          w.corpus_id IS NOT NULL AS is_dup
        FROM batch b
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) w
          ON w.batch_id = b.doc_id
        ORDER BY b.doc_id"""
  }

  // ---- r21 OPTIMIZATION: session-memoized twin signature bases ----
  //
  // VERDICT r20 "Next round" #4 (the round's one endorsed perf item
  // for the twin family): llm_dedup_near_md5 and
  // llm_dedup_incr_near_md5 rebuilt the SAME distinct-shingle +
  // md5-base-value + 16-minhash relation per call (~6.3 s combined
  // local min); llm_dedup_simhash_md5 and llm_simsearch_lsh_md5
  // likewise rebuilt their per-doc fingerprint / per-vector
  // projection relations. These are exactly the structures a
  // production dedup/ANN pipeline maintains INCREMENTALLY as a
  // signature index, so they are session memos ([[Memo]]).
  // The DuckDB oracle SQL is UNCHANGED and self-contained — the
  // driver's hash gate re-proves the restructured Spark side against
  // the identical oracle relation, and LlmSpec pins restructured ≡
  // monolithic shared-SQL results row-for-row at sf0.01.
  //
  // 100 TB reading (guide §2.4): the memo removes the re-tokenize /
  // re-hash / re-aggregate passes that dominated the twins — the
  // per-query work left is banding projections plus the candidate and
  // confirm equi-joins, which is the marginal cost an incremental
  // signature index gives a production pipeline on every batch.

  // shared fragments for the restructured Spark sides — same
  // constants/arithmetic as the monolithic builders above (drift is
  // pinned away by LlmSpec's restructured≡monolithic test)
  private def md5X32(h: String): String = (1 to 8).map { j =>
    val w = 1L << (4 * (8 - j))
    s"(instr('0123456789abcdef', substr($h, $j, 1)) - 1) * CAST($w AS BIGINT)"
  }.mkString(" + ")
  private def minhashMinCols: String = (0 until 16).map { i =>
    s"min((${2 * i + 1} * x + ${7919 * (i + 1)}) % 4294967311) AS m$i"
  }.mkString(", ")
  private def minhashBandExprs: Seq[String] = (0 until 4).map { b =>
    (0 until 4).map(r => s"m${4 * b + r}")
      .foldLeft("CAST(0 AS BIGINT)")((acc, m) =>
        s"((($acc) * 1000003 + $m) % 1000000007)")
  }
  // banding as ONE Generate (stack), not a CROSS JOIN against an
  // exploded 0..3 range: the range form planned as a
  // BroadcastNestedLoopJoin (broadcast build + join stage) per call —
  // stack emits the same (band_id, band_hash) rows inside the same
  // whole-stage span (r21, guide §2.4)
  private def minhashBandStack: String = {
    val args = minhashBandExprs.zipWithIndex
      .map { case (e, b) => s"$b, $e" }.mkString(", ")
    s"stack(4, $args) AS (band_id, band_hash)"
  }
  private val SparkCloneText =
    "array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ')"
  private val SparkGrams =
    "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', " +
      "element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))"

  /** Registers `graft_md5sh_base` (src, doc_id, xx, x) and
    * `graft_md5sig_base` (src, doc_id, m0..m15, n_sh): the distinct
    * 3-gram shingle relation with md5 base values and the per-doc
    * Carter–Wegman 16-minhash signature + shingle count, for raw
    * docs (src=0) and drop-last-token clones (src=1). Both MinHash
    * twins derive their corpus/batch/clone relations from these two
    * frames by pure filters + id arithmetic.
    *
    * r22 (guide §2.3 — shuffle keys instead of payloads): the base
    * carries the shingle as a 96-bit hash pair (xx = xxhash64(sh),
    * x = 32 md5 bits — the minhash input, already computed) instead
    * of the ~20-40 B shingle STRING; the intersection joins compare
    * (xx, x) equality. Distinct shingles are distinct-per-doc BEFORE
    * hashing, so n_common inflates only on a simultaneous collision
    * of two independent lanes (~2⁻⁹⁶ per compared shingle pair — the
    * llm_dedup_substring (h1, h2) argument, which the hash gate
    * re-proves against the string-joining oracle on every run). */
  private def minhashTwinViews(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val sh = Memo.frame("md5sh", docs) {
      docs.createOrReplaceTempView("graft_md5twin_docs")
      spark.sql(s"""
        SELECT /*+ REPARTITION(doc_id) */ src, doc_id,
          xxhash64(sh) AS xx, ${md5X32("md5(sh)")} AS x
        FROM (
          SELECT DISTINCT src, doc_id, sh FROM (
            SELECT src, doc_id, explode(CASE WHEN size(toks) >= 3
              THEN $SparkGrams
              ELSE array(text) END) AS sh
            FROM (SELECT src, doc_id, text, split(text, ' ') AS toks
                  FROM (SELECT 0 AS src, doc_id, text
                          FROM graft_md5twin_docs
                        UNION ALL
                        SELECT 1 AS src, doc_id, $SparkCloneText AS text
                          FROM graft_md5twin_docs) r) t) s0) s1""")
    }
    Memo.frame("md5sig", docs) {
      sh.createOrReplaceTempView("graft_md5sh_base")
      spark.sql(s"""
        SELECT /*+ REPARTITION(doc_id) */ src, doc_id, $minhashMinCols,
          count(*) AS n_sh
        FROM graft_md5sh_base GROUP BY src, doc_id""")
    }.createOrReplaceTempView("graft_md5sig_base")
    sh.createOrReplaceTempView("graft_md5sh_base")
  }

  /** Restructured Spark side of `llm_dedup_near_md5` over the
    * memoized base views: identical relation to
    * [[nearDupMd5Sql]](sparkSide = true) — corpus ids are src=0 raw /
    * src=1 clone + 2^40, all arithmetic unchanged. */
  private[graft] def nearDupMd5SparkSql: String =
    s"""WITH sh AS (
          SELECT doc_id + src * 1099511627776 AS doc_id, xx, x
          FROM graft_md5sh_base),
        sig AS (
          SELECT doc_id + src * 1099511627776 AS doc_id,
            ${(0 until 16).map(i => s"m$i").mkString(", ")}, n_sh
          FROM graft_md5sig_base),
        bands AS (
          SELECT doc_id, $minhashBandStack FROM sig),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_common
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.doc_a
          JOIN sh sb ON sb.doc_id = c.doc_b
            AND sb.xx = sa.xx AND sb.x = sa.x
          GROUP BY c.doc_a, c.doc_b),
        j AS (
          SELECT i.doc_a, i.doc_b,
            round(CAST(i.n_common AS DOUBLE) /
              CAST(na.n_sh + nb.n_sh - i.n_common AS DOUBLE), 6) AS jaccard
          FROM inter i
          JOIN sig na ON na.doc_id = i.doc_a
          JOIN sig nb ON nb.doc_id = i.doc_b)
        SELECT doc_a, doc_b, jaccard FROM j
        WHERE jaccard >= 0.5
        ORDER BY doc_a, doc_b"""

  /** Restructured Spark side of `llm_dedup_incr_near_md5` over the
    * memoized base views: corpus = src=0 ∧ id%10≠0, batch = src=0 ∧
    * id%10=0 ∪ (src=1 ∧ id%10≠0 ∧ id%7=1) + 2^41 — the same
    * relations [[incrNearMd5Sql]](sparkSide = true) builds inline. */
  private[graft] def incrNearMd5SparkSql: String = {
    def sideMap(cols: String) =
      s"""SELECT 0 AS side, doc_id, $cols FROM graft_md5%BASE%
            WHERE src = 0 AND doc_id % 10 <> 0
          UNION ALL
          SELECT 1 AS side, doc_id, $cols FROM graft_md5%BASE%
            WHERE src = 0 AND doc_id % 10 = 0
          UNION ALL
          SELECT 1 AS side, doc_id + 2199023255552 AS doc_id, $cols
            FROM graft_md5%BASE%
            WHERE src = 1 AND doc_id % 10 <> 0 AND doc_id % 7 = 1"""
    val shSide = sideMap("xx, x").replace("%BASE%", "sh_base")
    val sigCols = (0 until 16).map(i => s"m$i").mkString(", ") + ", n_sh"
    val sigSide = sideMap(sigCols).replace("%BASE%", "sig_base")
    s"""WITH sh AS ($shSide),
        sig AS ($sigSide),
        bands AS (
          SELECT side, doc_id, $minhashBandStack FROM sig),
        cand AS (
          SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
          FROM (SELECT * FROM bands WHERE side = 1) b
          JOIN (SELECT * FROM bands WHERE side = 0) c
            ON b.band_id = c.band_id AND b.band_hash = c.band_hash),
        inter AS (
          SELECT cd.batch_id, cd.corpus_id, count(*) AS n_common
          FROM cand cd
          JOIN sh sa ON sa.side = 1 AND sa.doc_id = cd.batch_id
          JOIN sh sb ON sb.side = 0 AND sb.doc_id = cd.corpus_id
            AND sb.xx = sa.xx AND sb.x = sa.x
          GROUP BY cd.batch_id, cd.corpus_id),
        j AS (
          SELECT i.batch_id, i.corpus_id,
            round(CAST(i.n_common AS DOUBLE) /
              CAST(na.n_sh + nb.n_sh - i.n_common AS DOUBLE), 6) AS jaccard
          FROM inter i
          JOIN sig na ON na.side = 1 AND na.doc_id = i.batch_id
          JOIN sig nb ON nb.side = 0 AND nb.doc_id = i.corpus_id),
        best AS (
          SELECT batch_id, corpus_id, jaccard,
            row_number() OVER (PARTITION BY batch_id
              ORDER BY jaccard DESC, corpus_id ASC) AS rn
          FROM j WHERE jaccard >= 0.5),
        batch AS (SELECT DISTINCT doc_id FROM sig WHERE side = 1)
        SELECT b.doc_id, w.corpus_id AS dup_of, w.jaccard,
          w.corpus_id IS NOT NULL AS is_dup
        FROM batch b
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) w
          ON w.batch_id = b.doc_id
        ORDER BY b.doc_id"""
  }

  /** Build SQL for the memoized SimHash-md5 fingerprint relation
    * `graft_shmd5_fp` (doc_id, lo, hi, b0..b5) — the corpus→tokens→
    * md5-digits→64-vote→pack pipeline of
    * [[simHashMd5Sql]](sparkSide = true), verbatim fragments. */
  private def simhashFpSparkSql: String = {
    def digitOf(dd: Int) = s"instr('0123456789abcdef', substr(h, $dd, 1)) - 1"
    val digitCols =
      (1 to 16).map(dd => s"${digitOf(dd)} AS d$dd").mkString(", ")
    val voteSums = (0 until 64).map { j =>
      val dd = j / 4 + 1; val b = j % 4; val w = 1 << (3 - b)
      s"sum(2 * ((d$dd DIV $w) % 2) - 1) AS v$j"
    }.mkString(", ")
    def bitOf(j: Int) = s"(CASE WHEN v$j > 0 THEN 1 ELSE 0 END)"
    def packBits(js: Range, off: Int) = js.map { j =>
      s"${bitOf(j)} * shiftleft(CAST(1 AS BIGINT), ${j - off})"
    }.mkString(" + ")
    val offs = Seq(0, 11, 22, 33, 44, 54, 64)
    val blockCols = (0 until 6).map { g =>
      s"${packBits(offs(g) until offs(g + 1), offs(g))} AS b$g"
    }.mkString(", ")
    s"""WITH corpus AS (
          SELECT doc_id, text FROM graft_shmd5_docs
          UNION ALL
          SELECT doc_id + 1099511627776 AS doc_id, $SparkCloneText AS text
          FROM graft_shmd5_docs),
        tk AS (SELECT doc_id, explode(split(text, ' ')) AS tok FROM corpus),
        dgt AS (
          SELECT doc_id, $digitCols
          FROM (SELECT doc_id, md5(tok) AS h FROM tk) t0),
        votes AS (SELECT doc_id, $voteSums FROM dgt GROUP BY doc_id)
        SELECT doc_id, ${packBits(0 until 32, 0)} AS lo,
          ${packBits(32 until 64, 32)} AS hi, $blockCols
        FROM votes"""
  }

  /** Restructured Spark side of `llm_dedup_simhash_md5` over the
    * memoized fingerprint view: bands → equi self-join → hamming
    * confirm, identical to the tail of [[simHashMd5Sql]]. */
  private[graft] def simhashMd5QuerySparkSql: String = {
    val combos = (0 until 6).combinations(3).toSeq
    // stack-banding, not CROSS JOIN — see [[minhashBandStack]].
    // Pair-dedup AFTER the hamming confirm, not between candidates and
    // scoring (the production simHashPairs r10 rule, applied to the
    // twin in r21): band collisions outnumber true near-dups ~50×,
    // hamming is identical for every banded copy of a pair, so
    // filtering first means the DISTINCT shuffle moves only survivors
    // — same relation, LlmSpec-pinned against the monolithic form.
    val stackArgs = combos.zipWithIndex.map { case (c, id) =>
      s"$id, b${c(0)} * 4398046511104 + b${c(1)} * 2097152 + b${c(2)}"
    }.mkString(", ")
    s"""WITH bands AS (
          SELECT doc_id,
            stack(${combos.size}, $stackArgs) AS (band_id, band_val)
          FROM graft_shmd5_fp),
        cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id),
        ham AS (
          SELECT c.doc_a, c.doc_b,
            CAST(bit_count(ha.lo ^ hb.lo) + bit_count(ha.hi ^ hb.hi)
              AS INTEGER) AS hamming
          FROM cand c
          JOIN graft_shmd5_fp ha ON ha.doc_id = c.doc_a
          JOIN graft_shmd5_fp hb ON hb.doc_id = c.doc_b)
        SELECT DISTINCT doc_a, doc_b, hamming FROM ham
        WHERE hamming <= 3
        ORDER BY doc_a, doc_b"""
  }

  /** Build SQL for the memoized LSH-md5 projection relation
    * `graft_lshmd5_proj` (vec_id, p0..p23) — the hp/hpw/ev/proj
    * pipeline of [[lshMd5Sql]](sparkSide = true), verbatim. */
  private def lshProjSparkSql: String = {
    def rng(a: Int, endEx: Int, alias: String) =
      s"(SELECT explode(sequence($a, ${endEx - 1})) AS $alias)"
    val sgnCols = (0 until 24).map { q =>
      val t = q / 6; val r = q % 6
      s"max(CASE WHEN t = $t AND r = $r THEN sgn END) AS s$q"
    }.mkString(", ")
    val projSums = (0 until 24).map(q => s"sum(x * s$q) AS p$q").mkString(", ")
    s"""WITH hp AS (
          SELECT tt.t AS t, rr.r AS r, ii.i AS i,
            CASE WHEN (instr('0123456789abcdef',
                substr(md5(concat_ws('|', tt.t, rr.r, ii.i)), 1, 1)) - 1)
                % 2 = 1
              THEN 1 ELSE -1 END AS sgn
          FROM ${rng(0, 4, "t")} tt
          CROSS JOIN ${rng(0, 6, "r")} rr
          CROSS JOIN ${rng(1, 65, "i")} ii),
        hpw AS (SELECT i, $sgnCols FROM hp GROUP BY i),
        ev AS (
          SELECT vec_id, ii.i AS i,
            CAST(round(CAST(element_at(e.embedding, ii.i) AS DOUBLE), 10)
              AS DECIMAL(38,10)) AS x
          FROM graft_lshmd5_emb e CROSS JOIN ${rng(1, 65, "i")} ii)
        SELECT /*+ REPARTITION(vec_id) */ v.vec_id, $projSums
        FROM ev v JOIN hpw h ON v.i = h.i
        GROUP BY v.vec_id"""
  }

  /** Restructured Spark side of `llm_simsearch_lsh_md5` over the
    * memoized projection view: band-pack → probe⋈corpus candidates →
    * exact cosine rescue → top-10, identical to the tail of
    * [[lshMd5Sql]]. */
  private[graft] def lshMd5QuerySparkSql: String = {
    def dot(x: String, y: String) =
      s"aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE), (a, k) -> " +
        s"a + CAST(element_at($x, k) AS DOUBLE) * " +
        s"CAST(element_at($y, k) AS DOUBLE))"
    // stack-banding, not CROSS JOIN — see [[minhashBandStack]]
    val stackArgs = (0 until 4).map { t =>
      val terms = (0 until 6).map(r =>
        s"(CASE WHEN p${t * 6 + r} > 0 THEN 1 ELSE 0 END) * ${1 << r}")
        .mkString(" + ")
      s"$t, CAST($terms AS BIGINT)"
    }.mkString(", ")
    s"""WITH sig AS (
          SELECT vec_id, stack(4, $stackArgs) AS (t, band_val)
          FROM graft_lshmd5_proj),
        cand AS (
          SELECT DISTINCT p.vec_id AS p_id, c.vec_id AS vec_id
          FROM (SELECT * FROM sig WHERE vec_id < 5) p
          JOIN sig c ON p.t = c.t AND p.band_val = c.band_val),
        scored AS (
          SELECT cd.p_id, cd.vec_id,
            round(${dot("pe.embedding", "ce.embedding")}
              / (sqrt(${dot("pe.embedding", "pe.embedding")})
               * sqrt(${dot("ce.embedding", "ce.embedding")})), 6) AS cosine
          FROM cand cd
          JOIN graft_lshmd5_emb pe ON pe.vec_id = cd.p_id
          JOIN graft_lshmd5_emb ce ON ce.vec_id = cd.vec_id),
        ranked AS (
          SELECT p_id, vec_id, cosine,
            row_number() OVER (PARTITION BY p_id
              ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored)
        SELECT p_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine
        FROM ranked WHERE rank <= 10
        ORDER BY p_id, rank"""
  }

  /** Distinct 4-gram postings (doc_id, g) off the memoized tokenized
    * corpus — shared base of the novelty forms below. */
  private def noveltyPostings(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    tokenizedDocs(s, d)
      .filter(size(col("toks")) >= 4)
      .select(col("doc_id"), explode(call_function(
        "graft_shingles_sorted", col("toks"), lit(4))).as("g"))
  }

  /** `llm_ngram_novelty`, r21 doc-grain form: n_shingles collapses
    * map-side, the first-seen owner is the one g-keyed aggregate, and
    * n_novel is a count over the first-doc relation — no shingle-grain
    * join anywhere. */
  private[graft] def ngramNovelty(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val ng = noveltyPostings(s, d)
    val ns = ng.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val novel = ng.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
      .groupBy("first_doc").agg(count(lit(1)).as("nn"))
    ns.join(novel, ns("doc_id") === novel("first_doc"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("nn"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  /** The pre-r21 join-back form, kept as the LlmSpec reference the
    * doc-grain form is pinned against. */
  private[graft] def ngramNoveltyJoinForm(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val ng = noveltyPostings(s, d)
    val first = ng.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
    ng.join(first, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L)
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  /** Banded random-hyperplane candidate pairs over an embedding
    * column: per vector one `graft_rpbands` signature (r bits ×
    * `bands` bands, one codegen pass), then the same
    * (band_id, band_value) equi-self-join as [[nearDupPairs]] /
    * [[simHashPairs]] — the shuffle carries only (vec_id, band_id,
    * band_val), never the vectors, and cost scales with collisions,
    * not corpus². Recall for pairs at angle θ: each band matches with
    * probability (1 − θ/π)^r; missing all `bands` bands at the
    * operating point (near-dup pairs, cos ≥ 0.99) is ~1e-9 —
    * measured recall is pinned in LlmSpec against the brute-force
    * scorer at two scale factors.
    */
  def rpBandCandidates(emb: DataFrame, r: Int = 16, bands: Int = 24,
      seed: Long = 7L, dedup: Boolean = true): DataFrame = {
    // NO signature materialization point here, deliberately (unlike
    // bandedMinhash): the hyperplane kernel is a few hundred flops per
    // vector — cheaper than the repartition a shared stage would cost.
    // Measured at driver config: the repartition variant was ~1.3×
    // SLOWER (2.0 s vs 1.5 s warm at sf0.1). The text-side kernels
    // (tokenize+shingle+minhash) are orders of magnitude heavier per
    // row, which is why they DO materialize
    val banded = emb.select(col("vec_id"),
        posexplode(call_function("graft_rpbands",
          col("embedding").cast("array<double>"), lit(r), lit(bands), lit(seed))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_val")
    val a = banded.select(col("vec_id").as("vec_a"), col("band_id"), col("band_val"))
    val b = banded.select(col("vec_id").as("vec_b"),
      col("band_id").as("band_id_b"), col("band_val").as("band_val_b"))
    val raw = a.join(b, col("band_id") === col("band_id_b") &&
        col("band_val") === col("band_val_b") && col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
    // dedup = false lets a caller that confirms candidates anyway
    // ([[embedNearDupBanded]]) defer the pair-dedup shuffle until
    // after its own filter, when only confirmed pairs move
    if (dedup) raw.dropDuplicates("vec_a", "vec_b") else raw
  }

  /** Embedding-cosine near-duplicate pairs, 100 TB shape: LSH banded
    * candidate generation ([[rpBandCandidates]]) in front of the
    * exact codegen'd scorer — no corpus×corpus product anywhere in
    * the plan (VERDICT r1 "What's wrong" #2). Vectors re-attach to
    * the (small) candidate set by vec_id equi-joins; norms are
    * precomputed once per vector. The scorer arithmetic is identical
    * to [[embedNearDup]], so on candidate pairs the two agree bit-
    * for-bit (LlmSpec pins full-result equality at two SFs).
    */
  def embedNearDupBanded(emb: DataFrame, tau: Double, r: Int = 16,
      bands: Int = 24, seed: Long = 7L): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("n", sqrt(call_function("graft_dot", col("e"), col("e"))))
    // dedup AFTER the tau confirm, not between candidates and scoring
    // (r10): a pair colliding on k bands is scored k times — a few
    // extra codegen'd dots on an already-tiny candidate set (0.1% of
    // pairs at sf0.1) — but the wide dropDuplicates shuffle now moves
    // only CONFIRMED pairs instead of every candidate. Same result:
    // scoring is deterministic per pair, so duplicates agree.
    rpBandCandidates(emb, r, bands, seed, dedup = false)
      .join(e.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("n").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("n").as("nb")), "vec_b")
      .withColumn("cosine", round(
        call_function("graft_dot", col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= tau)
      .select("vec_a", "vec_b", "cosine")
      .dropDuplicates("vec_a", "vec_b")
  }

  /** Exact embedding-cosine near-duplicate pairs. Brute-force n²
    * scorer — kept as the oracle-verifiable reference that LlmSpec
    * holds [[embedNearDupBanded]] against; the registered query uses
    * the banded path.
    */
  def embedNearDup(emb: DataFrame, tau: Double): DataFrame = {
    // pre-cast to array<double> and precompute norms ONCE per vector
    // (not per pair); the pairwise hot loop is a single codegen'd dot
    def side(pfx: String) = emb
      .select(col("vec_id").as(s"vec_$pfx"),
        col("embedding").cast("array<double>").as(s"e$pfx"))
      .withColumn(s"n$pfx",
        sqrt(call_function("graft_dot", col(s"e$pfx"), col(s"e$pfx"))))
    side("a").crossJoin(side("b")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", round(
        call_function("graft_dot", col("ea"), col("eb"))
          / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= tau)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Shared Zipf-fit finish (llm_zipf_slope): log-log OLS over the
    * ranked top-100 relation `ranked(c, r)`; ln terms rounded 10dp
    * and DECIMAL-reaccumulated (acf dsum rule), fixed IEEE finish.
    * `prefix` must be a WITH-chain ending in `ranked`. */
  private def zipfFinishSql(prefix: String): String =
    s"""$prefix,
        a AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(CAST(round(ln(CAST(r AS DOUBLE)), 10)
              AS DECIMAL(38,10))) AS DOUBLE) AS sx,
            CAST(sum(CAST(round(ln(CAST(c AS DOUBLE)), 10)
              AS DECIMAL(38,10))) AS DOUBLE) AS sy,
            CAST(sum(CAST(round(ln(CAST(r AS DOUBLE))
              * ln(CAST(c AS DOUBLE)), 10) AS DECIMAL(38,10)))
              AS DOUBLE) AS sxy,
            CAST(sum(CAST(round(ln(CAST(r AS DOUBLE))
              * ln(CAST(r AS DOUBLE)), 10) AS DECIMAL(38,10)))
              AS DOUBLE) AS sxx
          FROM ranked)
        SELECT CAST(n AS BIGINT) AS n_terms,
          round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
            AS zipf_slope,
          round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
            / n, 6) AS intercept
        FROM a"""

  /** Shared Kneser–Ney finish (llm_bigram_kn): one expression string
    * over exact-integer columns (c2, c1, npost, npre, tbig) — the
    * bm25 shared-text rule is what keeps the double bit-identical on
    * both engines. D = 0.75 as an exponent-form literal. */
  private val knFinishSql: String =
    "round(greatest(CAST(c2 AS DOUBLE) - 75e-2, 0e0) / CAST(c1 AS DOUBLE)" +
      " + (75e-2 * CAST(npost AS DOUBLE) / CAST(c1 AS DOUBLE))" +
      " * (CAST(npre AS DOUBLE) / CAST(tbig AS DOUBLE)), 6) AS p_kn"

  /** Shared bigram-LM document-scoring chain (llm_lm_score /
    * llm_ccnet_buckets): self-trained conditional model p = c2/c1
    * (exact-integer division, no smoothing — every doc bigram is in
    * the model by construction), then per-doc linear-space statistics
    * of p. See llm_lm_score's Op comment for why linear-space (ln is
    * libm-dependent) and for the two-bounded-shuffle 100 TB shape.
    */
  private def lmScores(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val bi = tokenizedDocs(s, d)
      .select(col("doc_id"), explode(call_function("graft_shingles",
        col("toks"), lit(2))).as("bigram"))
    val byW1 = org.apache.spark.sql.expressions.Window
      .partitionBy(substring_index(col("bigram"), " ", 1))
    val model = bi.groupBy("bigram").agg(count(lit(1)).as("c2"))
      .withColumn("c1", sum(col("c2")).over(byW1))
      .select(col("bigram"),
        (col("c2").cast("double") / col("c1").cast("double")).as("p"))
    bi.join(model, "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        davg(col("p")).as("avg_p"),
        min(col("p")).as("min_p"))
  }

  /** Shared DuckDB CTE prefix for the bigram-LM scoring chain — ends
    * in `ds(doc_id, n_bigrams, avg_p, min_p)`; each consumer appends
    * its own final SELECT (the statsMomentsSql discipline: one shared
    * expression shape is what keeps the doubles bit-identical).
    */
  private val lmScoreCteSql: String =
    """WITH tk AS (
         SELECT doc_id, string_split(
           lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
         FROM documents),
       bg AS (
         SELECT doc_id, unnest(list_transform(range(1, len(t)),
           i -> t[i] || ' ' || t[i+1])) AS bigram
         FROM tk WHERE len(t) >= 2),
       cnt AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
       model AS (
         SELECT bigram,
           CAST(c2 AS DOUBLE) /
             CAST(sum(c2) OVER (PARTITION BY split_part(bigram, ' ', 1))
                  AS DOUBLE) AS p
         FROM cnt),
       sc AS (SELECT doc_id, p FROM bg JOIN model USING (bigram)),
       ds AS (
         SELECT doc_id, count(*) AS n_bigrams,
           round(CAST(sum(CAST(p AS DECIMAL(38,10))) AS DOUBLE)
                 / count(p), 6) AS avg_p,
           min(p) AS min_p
         FROM sc GROUP BY doc_id)
    """

  /** DSIR core (Xie et al., NeurIPS 2023 — Data Selection via
    * Importance Resampling): rank raw documents by how target-like
    * they look under hashed bag-of-ngrams language models, then
    * Gumbel-top-k resample. Deterministic throughout, per this
    * engine's no-RNG rule:
    *
    *  - features = unigrams + bigrams of the shared tokenization,
    *    hashed into `m` buckets (xxhash64 — Spark-specific, which is
    *    why the family is test-only);
    *  - ONE feature aggregate computes target and raw bucket counts
    *    together (conditional sum — no second corpus pass); the
    *    add-one-smoothed log-ratio table is m rows of driver-free
    *    broadcast metadata;
    *  - per-doc log importance weight Σ c_f·lr_f accumulates the
    *    irrational lr terms in DECIMAL(38,18) — order-independent, so
    *    logw is run-stable even though it is a float sum in spirit;
    *  - the paper's Gumbel noise comes from the CONTENT HASH
    *    (u = (md5_32(norm text) + 0.5)/2³², g = −ln(−ln u)) — same
    *    doc, same draw, across runs and engines; byte-dups get
    *    identical scores and are kept/dropped together;
    *  - selected = top 25% by (logw + g), percent_rank with doc_id
    *    tiebreak.
    *
    * Shape at 100 TB: feature explode → one map-combined (bucket)
    * aggregate; scoring joins features against the broadcast m-row
    * table and re-aggregates per doc — two bounded shuffles, the
    * decontaminate shape. The final global rank is a full sort here
    * (oracle-exact form); at fleet scale the cut point comes from
    * approx-percentile on logw+g and selection is a stateless filter
    * (the agg_histogram_equidepth substitute).
    */
  private[graft] def dsirSample(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, isTarget: Column, m: Int = 1024,
      keep: Double = 0.25): DataFrame = {
    val toks = tokenizedDocs(spark, sfDir)
    val feats = toks.select(col("doc_id"), col("lang"),
        explode(concat(col("toks"),
          call_function("graft_shingles", col("toks"), lit(2)))).as("f"))
      .select(col("doc_id"), col("lang"),
        pmod(xxhash64(col("f")), lit(m)).as("b"))
    val counts = feats
      .groupBy("b")
      .agg(sum(when(isTarget, 1L).otherwise(0L)).as("tc"),
        count(lit(1)).as("rc"))
    val totals = counts.agg(sum("tc").as("tt"), sum("rc").as("rt"))
    val lr = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("tc") + 1).cast("double") / (col("tt") + m)) -
         log((col("rc") + 1).cast("double") / (col("rt") + m))).as("lr"))
    val logw = feats.join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(sum(col("lr").cast(
        org.apache.spark.sql.types.DecimalType(38, 18)))
        .cast("double").as("logw"))
    val u = (conv(substring(md5(normText(col("text"))), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        (-log(-log(u))).as("gumbel"))
      .join(logw, "doc_id")
      .withColumn("score", col("logw") + col("gumbel"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("selected", percent_rank().over(w) <= keep)
      .select(col("doc_id"), col("lang"), round(col("logw"), 6).as("logw"),
        col("selected"))
  }

  /** MOSS pairing core (llm_winnow_pairs / llm_boilerplate_rank):
    * document pairs scored by shared winnowing fingerprints. Pair
    * generation WITHOUT a self-join (the triangle-count expansion
    * pattern, adopted r14-late): ONE fp-keyed aggregate collects each
    * fingerprint's sorted doc set, the 2..16 df-cap becomes a size()
    * filter on the array, and the a<b pairs expand IN-STAGE from the
    * sorted array — the plan drops from four fp-clustered operators
    * (cap aggregate, keep join, two self-join sides) to ONE exchange
    * on fp plus the pair-count exchange. Expansion stays bounded by
    * C(16,2) = 120 pairs per fingerprint (the df-cap is what makes
    * the array form safe — an uncapped hot key would blow the array
    * buffer, which is exactly why the cap must precede the
    * expansion). The fp exchange is sized by the partition law
    * (pre-explode input estimate), same as the dedup joins.
    */
  private def winnowPairsOf(docsIn: DataFrame): DataFrame =
    winnowPairsFrom(winnowPostingsOf(docsIn))

  /** The fp-keyed posting relation (doc_id, fp), repartitioned by fp
    * per the sizing law — the winnowing index a production MOSS-style
    * pipeline maintains per corpus snapshot. */
  private def winnowPostingsOf(docsIn: DataFrame): DataFrame = {
    val docs = docsIn.filter(length(col("text")) >= 11)
    Scale.repartitionSized(Scale.sizedShuffle(docs),
      docs.select(col("doc_id"),
        explode(expr("graft_winnow_fps(text, 8, 4)")).as("fp")),
      col("fp"))
  }

  /** r22: the memoized corpus winnow index ([[Memo]]) — shared by
    * `llm_winnow_pairs` per call and by both boilerplate-rank cold
    * builds, which previously each re-ran the kernel + fp exchange
    * over the full corpus. */
  private def winnowPostings(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Memo.frame("wfp", docs)(winnowPostingsOf(docs))
  }

  private def winnowPairsFrom(f: DataFrame): DataFrame =
    f.groupBy("fp")
      .agg(array_sort(collect_set(col("doc_id"))).as("docs"))
      .filter(size(col("docs")).between(2, 16))
      .select(explode(expr(
        """flatten(transform(docs, (x, i) ->
           transform(slice(docs, i + 2, size(docs)),
                     y -> struct(x AS a, y AS b))))""")).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))

  /** Boilerplate detection by CENTRALITY in the shared-substring
    * graph — the cross-layer composition: [[winnowPairsOf]] (text
    * layer) supplies edges between documents sharing ≥ minShared
    * winnowing fingerprints, and PageRank (graph layer,
    * [[GraphOps.pageRankWithHandle]] with its iteration discipline)
    * ranks the nodes. A template/boilerplate document shares
    * substrings with MANY unrelated documents, so it sits at the
    * center of a hub — exactly what stationary-visit probability
    * measures, and something pairwise dedup cannot see (each single
    * pair may sit below any dedup threshold; the HUB is the signal).
    * The complementary boundary: a FULL clique (every doc carrying
    * the whole template) is flat under PageRank — a regular component
    * has uniform stationary mass — and belongs to the dedup family;
    * centrality earns its keep on the partial-quotation STAR, where
    * leaves touch the source but not each other (LlmSpec plants
    * exactly that shape). Returns (doc_id, degree, pr) for ranked
    * inspection; the real pipeline quarantines the top slice. Scale:
    * edges come from the
    * capped postings expansion (never all-pairs), PageRank is
    * |edges|-bounded per round — both layers' own 100 TB stories
    * compose unchanged.
    */
  /** Shared SQL for `llm_boilerplate_rank_fixed` — the hash-gated
    * twin of [[boilerplateRank]], composing TWO already-proven
    * disciplines: the winnow-pair edge layer is portable md5
    * arithmetic (the llm_winnow_pairs oracle verbatim — the
    * `graft_winnow_fps` kernel computes the identical fingerprints,
    * proven by that key's green hash row), and the rank layer is the
    * pageRankFixedSql DECIMAL(38,10) 5-round chain (per-edge
    * contributions quantized at 10dp BEFORE the per-node sum, fixed
    * IEEE finish per round). The winnow graph is bidirectional by
    * construction, so the float kernel's dangling-mass term is zero —
    * same recursion class as graph_pagerank_fixed. Engine splice:
    * edge source only (Spark persisted kernel-built view / DuckDB
    * inline winnow CTE chain). */
  private def boilerRankFixedSql(sparkSide: Boolean,
      rounds: Int = 5): String = {
    val edgesCte =
      if (sparkSide) "edges AS (SELECT src, dst, outdeg FROM graft_wr_edges)"
      else
        """pos AS (
            SELECT doc_id, text,
              unnest(generate_series(1, length(text) - 7)) AS i
            FROM documents WHERE length(text) >= 11),
          h AS (
            SELECT doc_id, i,
              substr(md5(substring(text, CAST(i AS INT), 8)), 1, 12) AS hh,
              length(text) - 7 AS npos
            FROM pos),
          m AS (
            SELECT doc_id, i, npos,
              min(hh) OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
            FROM h),
          f AS (
            SELECT DISTINCT doc_id, fp FROM m WHERE i <= npos - 3),
          keep AS (
            SELECT fp FROM f GROUP BY fp
            HAVING count(*) BETWEEN 2 AND 16),
          g AS (SELECT f.doc_id, f.fp FROM f JOIN keep USING (fp)),
          pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 2),
          edges0 AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs),
          edges AS (
            SELECT src, dst,
              CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS outdeg
            FROM edges0)"""
    val sb = new StringBuilder(s"""WITH $edgesCte,
        p0 AS (
          SELECT src AS v, CAST(1 AS DOUBLE) AS pr
          FROM (SELECT DISTINCT src FROM edges) n0)""")
    for (k <- 1 to rounds) {
      sb.append(s""",
        c$k AS (
          SELECT e.dst AS v,
            CAST(sum(CAST(round(p.pr / e.outdeg, 10) AS DECIMAL(38,10)))
              AS DECIMAL(38,10)) AS s
          FROM edges e
          JOIN p${k - 1} p ON e.src = p.v
          GROUP BY e.dst),
        p$k AS (
          SELECT v, round(15e-2 + 85e-2 * CAST(s AS DOUBLE), 10) AS pr
          FROM c$k)""")
    }
    sb.append(s""",
        deg AS (SELECT DISTINCT src AS node, outdeg AS degree FROM edges)
        SELECT p.v AS doc_id, d.degree, round(p.pr, 6) AS pr
        FROM p$rounds p JOIN deg d ON d.node = p.v
        ORDER BY round(p.pr, 6) DESC, p.v ASC LIMIT 20""")
    sb.toString
  }

  private[graft] def boilerplateRank(docs: DataFrame,
      minShared: Long = 2L, iters: Int = 5): DataFrame =
    // the result is a persisted flat copy; the loop's final round is
    // freed once it is materialized, so no unreachable cache entry
    // outlives the build
    Memo.frameFreeing(s"wrank|s$minShared|i$iters", docs) {
      val e = winnowPairsOf(docs).filter(col("n_shared") >= minShared)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val edges = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val deg = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("degree"))
      val (ranks, handle) = GraphOps.pageRankWithHandle(edges, iters = iters)
      (ranks.join(deg, "node")
        .select(col("node").as("doc_id"), col("degree"),
          round(col("pr"), 6).as("pr")), Seq(handle))
    }

  /** SemDeDup core: cluster-bounded semantic dedup verdicts. Assigns
    * every vector to a k-means bucket via the session IVF machinery
    * ([[ivfIndex]] — kernel-assigned, a session memo), then
    * confirms cosine ≥ tau on WITHIN-CLUSTER pairs only and drops the
    * larger vec_id of each confirmed pair (keep-min, the
    * llm_dedup_exact convention). Returns (vec_id, is_dup) for every
    * input vector. C = ⌈√n⌉ (min 8) — see the registered op's
    * Scaladoc for the cost balance; the cluster equi-join is the only
    * pair generator, so the plan contains no corpus×corpus product
    * (pinned in LlmSpec).
    *
    * SCALE BOUNDARY (revised r15 — the sub-split cap): flat-k-means
    * SemDeDup is Θ(n^1.5·d) BY CONSTRUCTION at the C=√n balance point
    * — both the full-corpus assignment (n·C·d) and the within-cluster
    * pairs (n²/C·d) are n^1.5·d, and the measured exponent at
    * 512k→1M planted vectors was α≈1.16–1.22 warm
    * (SOAK_SEMDEDUP2.json). The paper accepts that cost on GPU
    * matmuls; the r14 verdict asked for the skew/size guard SURVEY
    * row 162 promised instead: [[subSplitAssign]] now recursively
    * re-runs Lloyd INSIDE any cluster whose membership exceeds
    * `maxClusterSize` (default 256 ⇒ ≤ 32k pairs per cluster), so the
    * confirm join does Σ s_c² ≤ n·maxClusterSize work — LINEAR in
    * the corpus, with the one-time split cost amortized into the
    * cached index build. The residual quadratic end (coarse
    * assignment n·√n·d) sits on the COLD path only, behind the same
    * per-corpus cache as the paper's "build the index once" step.
    * For pure volume dedup the SUBLINEAR sibling is still
    * [[embedNearDupBanded]] (llm_dedup_embed, stateless LSH bands,
    * α≈0.5 measured); SemDeDup earns its seat where the cluster
    * index is wanted as a reusable corpus artifact.
    */
  private[graft] def semDedup(emb: DataFrame, tau: Double,
      maxClusterSize: Int = 256): DataFrame = {
    val n = emb.count()
    val c = math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
    // centroids learn from a BOUNDED deterministic sample (≤ 64k
    // vectors, hash-strided, seeds always included — lloydCentroids
    // seeds are the smallest vec_ids) while the full corpus is still
    // assigned: drops the redundant full-corpus Lloyd refinement pass
    // (the paper's own shape — cluster GEOMETRY needs a sample,
    // membership needs everyone; measured effect is modest because
    // the pair join dominates, see the SCALE BOUNDARY note). Below
    // 64k the sample is the corpus and behavior is unchanged.
    val maxTrain = 1L << 16
    val train = if (n <= maxTrain) None
      else Some(emb.filter(col("vec_id") < c ||
        pmod(xxhash64(col("vec_id")), lit(n / maxTrain + 1)) === 0))
    val idx = ivfIndex(emb, c, trainOn = train)
    // oversized-cluster sub-split (r15): bounds per-cluster pair work
    // BEFORE the confirm join. A session memo per cap, so the steady
    // state pays only the pair join — the refined assignment is the
    // in-session stand-in for re-writing the cid-partitioned corpus
    // table with the split ids. A no-op split returns the index's own
    // cached assignment, whose persist is then a CacheManager no-op
    // (one cached copy).
    val refined = Memo.frame(s"ssplit|m$maxClusterSize", emb)(
      subSplitAssign(idx.assign, maxClusterSize))
    // norms once per vector; the pairwise hot loop is one codegen dot
    val a = refined.select(col("cid"), col("vec_id"), col("e"),
      sqrt(call_function("graft_dot", col("e"), col("e"))).as("nrm"))
    val l = a.select(col("cid"), col("vec_id").as("vec_a"),
      col("e").as("ea"), col("nrm").as("na"))
    val r = a.select(col("cid").as("cid_b"), col("vec_id").as("vec_b"),
      col("e").as("eb"), col("nrm").as("nb"))
    val dropped = l.join(r,
        col("cid") === col("cid_b") && col("vec_a") < col("vec_b"))
      .filter(call_function("graft_dot", col("ea"), col("eb"))
        / (col("na") * col("nb")) >= tau)
      .select(col("vec_b").as("vec_id")).distinct()
    idx.assign.select(col("vec_id"))
      .join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("hit"), lit(false)).as("is_dup"))
  }

  /** Oversized-cluster sub-split — the skew/size guard for cluster-
    * bounded pair generation (SemDeDup row 162; the verdict-r14 #1
    * item). Any cluster with more than `maxClusterSize` members gets
    * Lloyd re-run INSIDE it (k = ⌈size/(cap/2)⌉ sub-centroids, seeds
    * = k members rank-STRIDED across the cluster's vec_id order —
    * r19: the previous k-smallest-vec_id seeds clump at one end of
    * id-ordered geometry and stall the split — `iters` refinement
    * passes), members re-assigned to injectively re-encoded
    * sub-cluster ids, the check recursed to `maxDepth`, and any
    * cluster STILL over the cap at depth exhaustion rank-BANDED so
    * the ≤-cap invariant holds by construction (r19 — the 512× soak
    * found Lloyd-resistant degenerate clusters). Returns the input
    * DataFrame UNCHANGED (same object — callers key caching off
    * `eq`) when nothing exceeds the cap, so below threshold every
    * existing plan and pin is byte-identical.
    *
    * Scale shape — everything is grouped, nothing loops per cluster:
    *  - cluster sizes are an O(C)-row aggregate (cluster-count
    *    scale, never corpus rows on the driver);
    *  - ALL oversized clusters split in the SAME distributed passes:
    *    seed selection is one rank-per-cluster window, each Lloyd
    *    iteration is one broadcast-hash-join of the members against
    *    the (cid → sub-centroids) table followed by the
    *    [[graft.functions.VectorKernels]] argmax kernel (per-row
    *    O(k_c·d), k_c ≤ 64) and one map-side-combined
    *    groupBy(cid, sub) per-dimension mean;
    *  - driver materialization is sub-centroid METADATA only
    *    (Σ k_c ≈ n/(cap/2) vectors of dim doubles — the
    *    [[collectCentroids]] discipline, broadcast-sized);
    *  - the re-encoded id `off + cid·stride + sub` is injective
    *    (sub < stride) and collision-free with untouched ids
    *    (≥ off = max cid + 1), so recursion composes.
    *
    * After the split every cluster holds ≤ cap members ⇒ a within-
    * cluster pair join does Σ s² ≤ n·cap work — linear in n with the
    * cap as the constant — instead of n²/C = n^1.5 at the C=√n
    * balance point. The trade is the documented SemDeDup one: a
    * near-dup pair straddling a NEW sub-cluster boundary is missed;
    * at clone-grade cosine (≥ τ=0.8 against an ~0.6 background) the
    * pair is almost always the closest geometry in the cluster, so
    * Lloyd co-locates it (LlmSpec pins recall ≥ 0.9 with the cap
    * forced small enough to split at test scale).
    */
  private[graft] def subSplitAssign(assign: DataFrame, maxClusterSize: Int,
      iters: Int = 2, maxDepth: Int = 3): DataFrame = {
    val spark = assign.sparkSession
    import spark.implicits._
    val target = math.max(2, maxClusterSize / 2)
    def refine(cur: DataFrame, depth: Int): DataFrame = {
      // O(C) rows on the driver — cluster-count scale
      val sizes = cur.groupBy("cid").agg(count(lit(1)).as("sz"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val big = sizes.filter(_._2 > maxClusterSize)
      if (big.isEmpty) cur
      else if (depth >= maxDepth) {
        // HARD BOUND (r19): clusters Lloyd could not split within
        // maxDepth — degenerate geometry, e.g. hundreds of
        // near-identical members, where every seed choice yields the
        // same argmax — get rank-BANDED instead: order members by
        // vec_id within the cluster and cut every `target` rows, so
        // the ≤-cap invariant holds BY CONSTRUCTION and the confirm
        // join's Σ s² ≤ n·cap bound is unconditional. The trade is
        // the documented SemDeDup boundary loss, and on exactly the
        // clusters where it matters least: a blob that resists Lloyd
        // is mutually near-identical, so any band still carries the
        // dup signal and the drop rule keeps one representative per
        // band. Found at the 512× soak: replica-shifted embeddings
        // form tight lines; smallest-vec_id seeds clumped at one end,
        // each depth peeled only the seed neighborhood, and the
        // stragglers' pair join went quadratic (1727 s cold — vs
        // linear after this bound).
        val bigDf = broadcast(big.map(_._1).toSeq.toDF("cid"))
        val keep = cur.join(bigDf, Seq("cid"), "left_anti")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cid").orderBy("vec_id")
        val off = sizes.map(_._1).max + 1
        val maxBands = big.map { case (_, sz) =>
          math.ceil(sz.toDouble / target).toLong }.max
        val banded = cur.join(bigDf, Seq("cid"), "left_semi")
          .withColumn("rn", row_number().over(w))
          // integral DIV, not IEEE `/`+cast: the floor is then exact
          // by construction, not by double-precision headroom (the
          // numerator stays under 2^53 today, but the intent is
          // integer band arithmetic — ADVICE r19)
          .select(col("vec_id"), col("e"),
            (lit(off) + col("cid") * lit(maxBands) +
              expr(s"(rn - 1) DIV $target")).as("cid"))
        keep.select("vec_id", "e", "cid").unionByName(banded)
      } else {
        val bigDf = broadcast(big.map(_._1).toSeq.toDF("cid"))
        val keep = cur.join(bigDf, Seq("cid"), "left_anti")
        val mem = cur.join(bigDf, Seq("cid"), "left_semi")
          .select("cid", "vec_id", "e")
        // k_c per cluster, capped at 64 (deeper skew recurses)
        val kOf: Map[Long, Int] = big.map { case (cid, sz) =>
          cid -> math.max(2, math.min(64,
            math.ceil(sz.toDouble / target).toInt))
        }.toMap
        val szOf: Map[Long, Long] = big.toMap
        // seeds: k_c members rank-STRIDED across the cluster's
        // vec_id order (the Bresenham selector ((rn−1)·k) mod sz <
        // k picks exactly k evenly spaced ranks; seed index =
        // (rn−1)·k DIV sz is injective over the picks). r18 used the
        // k SMALLEST vec_ids — for ordered geometry (the 512× soak's
        // replica-shifted lines, or any id-correlated embedding
        // drift) that clumps every seed at one end of the cluster,
        // Lloyd assigns ~everything to the clump's far edge, and the
        // split stalls against maxDepth. One window either way (cold
        // path only; the result is cached by the caller).
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cid").orderBy("vec_id")
        val kCol = element_at(typedLit(kOf), col("cid")).cast("long")
        val szCol = element_at(typedLit(szOf), col("cid"))
        val seedRows = mem
          .withColumn("rn", row_number().over(w))
          .withColumn("kc", kCol)
          .withColumn("szc", szCol)
          .filter(((col("rn") - 1) * col("kc")) % col("szc") < col("kc"))
          // integral DIV for the seed index (ADVICE r19): exact floor
          // by construction instead of IEEE `/` + cast riding on
          // sub-2^53 headroom
          .select(col("cid"),
            expr("CAST(((rn - 1) * kc) DIV szc AS INT)").as("sidx"),
            col("e"))
          .collect()
        var cents: Map[Long, Seq[Seq[Double]]] = seedRows
          .groupBy(_.getLong(0))
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(1))
              .map(_.getSeq[Double](2).toSeq).toSeq
          }
        val dim = cents.head._2.head.length
        // one broadcast join + argmax kernel per pass, all clusters
        // at once; `sub` is the index into the cluster's sub-centroid
        // array
        def assignSub(m: Map[Long, Seq[Seq[Double]]]): DataFrame =
          mem.join(broadcast(m.toSeq.toDF("cid", "cents")), Seq("cid"))
            .withColumn("best",
              call_function("graft_best_centroid", col("e"), col("cents")))
            .select(col("cid"), col("vec_id"), col("e"),
              col("best").getField("idx").as("sub"))
        (1 to iters).foreach { _ =>
          val upd = assignSub(cents).groupBy("cid", "sub")
            .agg(array((0 until dim).map(i => avg(col("e")(i))): _*).as("c"))
            .collect()
            .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq)
            .toMap
          // an emptied sub-cluster keeps its old centroid (harmless:
          // it attracts nothing, its slot just stays addressable)
          cents = cents.map { case (cid, cs) =>
            cid -> cs.zipWithIndex.map { case (old, i) =>
              upd.getOrElse((cid, i), old)
            }
          }
        }
        val off = sizes.map(_._1).max + 1
        val stride = kOf.values.max.toLong
        val split = assignSub(cents).select(col("vec_id"), col("e"),
          (lit(off) + col("cid") * lit(stride) + col("sub").cast("long"))
            .as("cid"))
        refine(keep.select("vec_id", "e", "cid").unionByName(split),
          depth + 1)
      }
    }
    refine(assign, 0)
  }

  /** Deterministic content-hash train/validation/test assignment —
    * the split step of a training-data pipeline. The bucket is the
    * first 32 bits of md5(normalized text) mod 100 (90/5/5), so:
    *
    *  - splits are STABLE across runs, clusters, and engine versions
    *    (no RNG, no partition-order dependence — `df.sample` has
    *    both);
    *  - byte-identical documents land in the SAME split by
    *    construction, so exact duplicates can never straddle the
    *    train/test boundary (the classic leakage bug with row-id or
    *    random splits).
    *
    * One codegen pass, no shuffle; at 100 TB the assignment is a
    * projection pushed to wherever the corpus is scanned.
    */
  def trainSplit(docs: DataFrame): DataFrame = {
    val bucket = conv(substring(md5(normText(col("text"))), 1, 8), 16, 10)
      .cast("long") % 100
    docs.select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "validation")
          .otherwise("test"))
  }

  /** Deterministic stratified downsampling — rebalance a corpus by
    * keeping a per-language fraction of documents (the standard move
    * against overrepresented languages/domains when mixing training
    * data). The keep decision is content-keyed (md5 bucket per mille
    * < rate·1000), NOT random: re-runs keep the same documents,
    * byte-identical duplicates are kept or dropped TOGETHER, and the
    * decision composes consistently with [[trainSplit]]. One codegen
    * projection + filter, no shuffle, pushdown-friendly.
    */
  def sampleStratified(docs: DataFrame, rates: Map[String, Double],
      defaultRate: Double): DataFrame = {
    val bucket = conv(substring(md5(normText(col("text"))), 1, 8), 16, 10)
      .cast("long") % 1000
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    docs.select(col("doc_id"), col("lang"), bucket.as("bucket"),
        (rate * 1000).cast("long").as("keep_below"))
      .filter(col("bucket") < col("keep_below"))
      .select("doc_id", "lang", "bucket")
  }

  /** N-gram decontamination — detect test documents whose content
    * overlaps the train split (the GPT-3/PaLM-style n-gram collision
    * check): any test doc sharing at least one `n`-token shingle with
    * any train doc is flagged, with the collision counts a filtering
    * policy needs. Docs shorter than `n` tokens carry no shingles and
    * cannot collide (standard).
    *
    * Scale shape: per-doc DISTINCT shingles explode once, the
    * test×train meeting happens in an equi-join ON THE SHINGLE — work
    * shuffles by content, collisions meet in hash buckets, no doc×doc
    * product anywhere. At 100 TB you'd join on xxhash64(shingle)
    * to cut shuffle bytes (the false-positive rate of a 64-bit hash
    * is negligible for a flag-and-review pipeline); the string join
    * here keeps the DuckDB oracle exact.
    *
    * `maxTrainDf` (off by default, for oracle parity) drops shingles
    * present in more than that many TRAIN docs before the join — the
    * skew/precision guard a web-scale corpus needs: boilerplate
    * ("all rights reserved …") otherwise makes one shingle a hot join
    * key with train-DF × test-DF fan-out AND flags unrelated docs.
    * The DF aggregation partial-aggregates map-side, so the guard
    * costs one narrow pass over the train postings.
    */
  def decontaminate(docs: DataFrame, n: Int = 8,
      maxTrainDf: Option[Long] = None,
      pretok: Option[DataFrame] = None): DataFrame = {
    // r12: split derives INLINE from the token array instead of
    // joining trainSplit(docs) back on doc_id — that was a corpus
    // self-join whose only payload was a CASE over md5, recomputable
    // per row. concat_ws(" ", toks) reconstructs normText(text)
    // exactly (the normal form has no edge/double spaces, so
    // split-then-join is the identity, "" included), so the md5
    // bucket — and therefore the split — is byte-identical to
    // [[trainSplit]]'s. `pretok` (doc_id, toks) lets the registered
    // queries feed from the session [[tokenizedDocs]] memo; values
    // are unchanged either way.
    val toked = pretok.map(_.select(col("doc_id"), col("toks")))
      .getOrElse(docs.select(col("doc_id"), tokens(col("text")).as("toks")))
    val bucket = conv(substring(md5(concat_ws(" ", col("toks"))), 1, 8), 16, 10)
      .cast("long") % 100
    val ngrams = toked
      .select(col("doc_id"),
        when(bucket < 90, "train").when(bucket < 95, "validation")
          .otherwise("test").as("split"),
        col("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("split"),
        // fused sorted-distinct kernel: same element SET as
        // array_distinct(graft_shingles(…)) — explode order differs but
        // everything downstream is a grouped aggregate (r10)
        explode(
          call_function("graft_shingles_sorted", col("toks"), lit(n))).as("ng"))
    val train0 = ngrams.filter(col("split") === "train")
      .select(col("ng"), col("doc_id").as("train_doc"))
    val train = maxTrainDf match {
      case None => train0
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy("ng")
        train0.withColumn("df", count(lit(1)).over(w))
          .filter(col("df") <= cap).drop("df")
    }
    val test = ngrams.filter(col("split") === "test")
      .select(col("ng"), col("doc_id").as("test_doc"))
    test.join(train, "ng")
      .groupBy("test_doc")
      .agg(countDistinct(col("ng")).as("n_shared_ngrams"),
        countDistinct(col("train_doc")).as("n_train_docs"))
      .select(col("test_doc").as("doc_id"),
        col("n_shared_ngrams"), col("n_train_docs"))
  }

  /** Approximate top-k cosine search via random-hyperplane LSH
    * buckets — the STATELESS scale path beside IVF
    * ([[simSearchIvfExact]]): no training, no index build, no session
    * cache. Each vector hashes to `bands` r-bit band values in one
    * kernel pass ([[graft.functions.RandomProjBands]]); a probe's
    * candidates are the corpus vectors sharing at least one
    * (band_id, band_val); the exact codegen'd scorer + a
    * probe-partitioned top-k window run on candidates only. The right
    * trade for append-heavy / streaming corpora where an IVF coarse
    * quantizer would churn: hashing is stateless, so new vectors
    * bucket themselves with zero re-indexing. Recall is tuned by
    * (r, bands) and pinned in LlmSpec for the registered parameters
    * (seeded-hash family → no DuckDB oracle, like the other LSH
    * entries; scores themselves are exact, also pinned).
    *
    * 100 TB: the band join ships only (id, band_id, band_val)
    * triples — embeddings re-attach BY ID to the candidate set — and
    * the ranking window is probe-partitioned over candidates, never
    * the corpus. Degrade path is a larger candidate set, never n².
    */
  def simSearchLsh(emb: DataFrame, nProbes: Int, topK: Int, r: Int = 5,
      bands: Int = 28, seed: Long = 7L): DataFrame = {
    val banded = emb.select(col("vec_id"),
        posexplode(call_function("graft_rpbands",
          col("embedding").cast("array<double>"), lit(r), lit(bands), lit(seed))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_val")
    val cand = banded.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("p_id"), col("band_id"), col("band_val"))
      .join(banded.select(col("vec_id"),
        col("band_id").as("band_id_b"), col("band_val").as("band_val_b")),
        col("band_id") === col("band_id_b") &&
          col("band_val") === col("band_val_b"))
      .select("p_id", "vec_id")
      .dropDuplicates("p_id", "vec_id")
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("n", sqrt(call_function("graft_dot", col("e"), col("e"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id").orderBy(col("cosine").desc, col("vec_id").asc)
    cand
      .join(vecs.select(col("vec_id").as("p_id"), col("e").as("pe"),
        col("n").as("pn")), "p_id")
      .join(vecs, "vec_id")
      .withColumn("cosine", round(
        call_function("graft_dot", col("pe"), col("e")) / (col("pn") * col("n")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("p_id", "rank", "vec_id", "cosine")
  }

  /** IVF-flat similarity search — the 100 TB path. Coarse quantizer:
    * `nCentroids` seed vectors (smallest vec_ids — deterministic);
    * every corpus vector is assigned to its nearest centroid once
    * (n×C distances, C small, centroids broadcast). A query then
    * scores only the vectors in its `nProbe` nearest buckets, so the
    * exact-cosine refine touches ~(nProbe/C)·n candidates instead of
    * n. With nProbe = nCentroids this degrades gracefully to exact
    * brute force (asserted in LlmSpec, along with recall@10 vs the
    * exact scorer).
    *
    * At scale: `assign` is written once as a bucketed/partitioned
    * table keyed by cid, so a query's candidate fetch is a partition-
    * pruned scan + broadcast join — no shuffle of the corpus per
    * query batch.
    */
  /** clamp to [-1, 1] and null/NaN-proof (zero-norm centroid) before
    * acos — the angle computations below must never produce NaN */
  private[ops] def clamp1(c: Column): Column =
    least(lit(1.0), greatest(lit(-1.0), coalesce(nanvl(c, lit(0.0)), lit(0.0))))

  /** Centroid set materialized as driver-side index METADATA — the
    * coarse quantizer. This is the ONE deliberate driver
    * materialization in the library, and it is the standard IVF
    * pattern (MLlib `KMeansModel.clusterCenters`, FAISS coarse
    * quantizers live on the coordinator): O(C·dim) doubles, shipped
    * to executors as plan literals the codegen kernels loop over.
    * Even a 65k-centroid × 64-dim index is ~33 MB — broadcast-sized —
    * while keeping assignment a pure map (no join, no shuffle, no
    * window; VERDICT r2 "What's wrong" #1). The CORPUS never comes
    * anywhere near the driver.
    */
  private def collectCentroids(centroids: DataFrame): (Seq[Long], Seq[Seq[Double]]) = {
    val rows = centroids.orderBy("cid").collect()
    (rows.map(_.getLong(0)).toSeq,
      rows.map(_.getSeq[Double](1).toSeq).toSeq)
  }

  /** corpus → (vec_id, e, cid, c_sim) in one codegen'd argmax pass per
    * row over the literal centroid array — scan → project, nothing
    * else. Arithmetic is bit-identical to the r2 clamp1(cosineCols) +
    * row_number rendering (same folds, same tie-break: lowest cid
    * wins), pinned by the exact-vs-brute LlmSpec equalities.
    */
  private def assignTo(emb: DataFrame, cids: Seq[Long],
      cents: Seq[Seq[Double]]): DataFrame = {
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("best",
        call_function("graft_best_centroid", col("e"), typedLit(cents)))
      .select(col("vec_id"), col("e"),
        element_at(typedLit(cids), col("best.idx") + 1).as("cid"),
        col("best.c_sim").as("c_sim"))
  }

  /** One Lloyd refinement of `nCentroids` seed vectors (smallest
    * vec_ids): assign every vector to its nearest seed (kernel pass,
    * see [[assignTo]]), recompute each bucket as the per-dimension
    * mean. The per-dimension groupBy partial-aggregates map-side into
    * C×dim groups, so the shuffle is tiny. Deterministic up to
    * float-summation order, which is fine: no downstream result
    * depends on centroid bits — [[simSearchIvfExact]] is exact for
    * ANY centroids, and the approximate path is covered by recall
    * tests, not oracles.
    */
  private[graft] def lloydCentroids(emb: DataFrame, nCentroids: Int): DataFrame = {
    val seeds = emb.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("c_emb"))
    val (cids, cents) = collectCentroids(seeds)
    // per-dimension mean as ONE groupBy with dim avg aggregates (dim is
    // known from the collected seeds): single tiny shuffle of C×dim
    // partials, no posexplode of an n×dim row blow-up and no second
    // shuffle to re-assemble the array — at 100 TB the explode was an
    // n·dim-row shuffle write for what is a C×dim-cell result
    val dim = cents.headOption.map(_.length).getOrElse(0)
    assignTo(emb, cids, cents)
      .groupBy("cid")
      .agg(array((0 until dim).map(i => avg(col("e")(i))): _*).as("c_emb"))
  }

  /** Corpus → nearest-centroid assignment, keeping the assignment
    * angle α = acos(cos_sim) that the exact-search bucket bound
    * needs. One linear kernel pass over the corpus ([[assignTo]]) —
    * at scale the result is written once as a cid-partitioned table
    * and reused across query batches; [[ivfIndex]] is the in-session
    * stand-in for that.
    */
  private[graft] def assignBuckets(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val (cids, cents) = collectCentroids(centroids)
    assignTo(emb, cids, cents)
      .select(col("vec_id"), col("e"), col("cid"), acos(col("c_sim")).as("alpha"))
  }

  /** The IVF index: coarse-quantizer metadata (cids ∥ cents ∥ per-
    * bucket α_max, driver-resident — see [[collectCentroids]]) plus
    * the persisted corpus assignment. A session memo ([[ivfIndex]]):
    * every phase inside one query and every registered simsearch
    * query over the same corpus reuses it
    * instead of re-deriving Lloyd + assignment per reference (VERDICT
    * r2 next-round #1). At 100 TB the equivalent move is writing
    * `assign` as a cid-partitioned table.
    */
  private[graft] case class IvfIdx(cids: Seq[Long], cents: Seq[Seq[Double]],
      alphaMax: Seq[Double], assign: DataFrame)

  /** Session-memoized tokenized corpus — ONE row per document:
    * (doc_id, lang, toks ARRAY<STRING>), where toks is the shared
    * [[tokens]] normalization. Five registered text queries
    * (llm_tfidf, llm_bm25, llm_bigram_lm, llm_cooccur_lift,
    * llm_ngrams_tf) previously each re-ran scan → regexp-normalize →
    * split over the whole corpus; they now all read this one session
    * memo ([[Memo]]).
    *
    * Shape notes for 100 TB: the compact array form is deliberately
    * the DOC-grain relation, not exploded (doc_id, term) rows — no
    * per-token key duplication, order preserved so both the
    * term-explode consumers (explode(toks)) and the adjacency
    * consumers (graft_shingles bigrams) derive from it. MEMORY_AND_DISK
    * so token arrays spill rather than evict under pressure; at
    * production scale this relation is a materialized tokenized-column
    * table written once per corpus snapshot, which a session persist
    * stands in for here.
    */
  private[ops] def tokenizedDocs(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Memo.frame("tok", docs)(
      docs.select(col("doc_id"), col("lang"), tokens(col("text")).as("toks")))
  }

  /** Recursively clone `src` into `dst` with hardlinks (same
    * filesystem — both are tmp scratch), falling back to a byte copy
    * per file. A clone shares inodes but not directory entries:
    * Spark's append adds new files and overwrite replaces entries in
    * the CLONE only, so the memoized source dir is never perturbed.
    */
  private[graft] def cloneDirByLink(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val sp = Paths.get(src)
    val dp = Paths.get(dst)
    val it = Files.walk(sp)
    try it.forEach { p: Path =>
      val t = dp.resolve(sp.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else try Files.createLink(t, p)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING) }
    } finally it.close()
  }

  /** The session memo ([[Memo]]) of [[buildIvfIndex]]: the coarse
    * quantizer is a driver value and the corpus assignment a persisted
    * frame, the in-session stand-in for a cid-partitioned corpus
    * table. */
  private[graft] def ivfIndex(emb: DataFrame, nCentroids: Int,
      trainOn: Option[DataFrame] = None): IvfIdx = {
    val inputs = emb +: trainOn.toSeq
    Memo.value(s"ivf|c$nCentroids", inputs: _*)(buildIvfIndex(emb, nCentroids,
      trainOn, a => Memo.frame(s"ivfassign|c$nCentroids", inputs: _*)(a)))
  }

  /** The IVF index over `emb`; `keep` wraps the assignment before its
    * per-bucket α_max is read (by default nothing is persisted, for a
    * caller whose one consumer is a write). */
  private[graft] def buildIvfIndex(emb: DataFrame, nCentroids: Int,
      trainOn: Option[DataFrame] = None,
      keep: DataFrame => DataFrame = identity): IvfIdx = {
    // trainOn: optionally learn the centroids from a bounded sample
    // while still assigning the FULL corpus — the PQ-codebook
    // discipline applied to the coarse quantizer (semDedup uses it;
    // search quality only needs centroids that SHAPE the space)
    val (cids, cents) =
      collectCentroids(lloydCentroids(trainOn.getOrElse(emb), nCentroids))
    val assign = keep(assignTo(emb, cids, cents)
      .select(col("vec_id"), col("e"), col("cid"),
        acos(col("c_sim")).as("alpha")))
    val am = assign.groupBy("cid").agg(max("alpha").as("alpha_max"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // an empty bucket (possible only with duplicate seed vectors)
    // gets α_max = 0: it holds no vectors, so any bound is vacuous
    IvfIdx(cids, cents, cids.map(am.getOrElse(_, 0.0)), assign)
  }

  /** Persist an IVF index as the 100 TB on-disk layout the Scaladoc
    * above names: the corpus assignment as a CID-PARTITIONED parquet
    * table (so probing nProbe of C buckets is partition pruning — the
    * scan touches nProbe/C of the data, enforced in ScaleSpec) plus
    * the coarse-quantizer metadata as a tiny side table. This is the
    * cross-session / cross-job form of [[ivfIndex]]'s in-session
    * cache: build once, then every batch of probes reads only the
    * buckets it ranks.
    */
  private[graft] def writeIvfIndex(idx: IvfIdx, dir: String): Unit = {
    // repartition on the partition column first: partitionBy alone
    // writes one file per (task × cid) — up to shuffle.partitions
    // small files PER BUCKET. One shuffle keyed on cid gives one file
    // per bucket per write, the layout a probe scan wants (fewer
    // footers to open per pruned partition) and the same shape the
    // compaction op exists to restore
    idx.assign.repartition(idx.cids.length, col("cid"))
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$dir/assign")
    val spark = idx.assign.sparkSession
    import spark.implicits._
    idx.cids.zip(idx.cents).zip(idx.alphaMax)
      .map { case ((c, v), a) => (c, v, a) }
      .toDF("cid", "cent", "alpha_max")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Load an index written by [[writeIvfIndex]]. The assignment scan
    * stays lazy — a downstream `cid` equi-join or filter prunes
    * partitions at planning time. Metadata is O(C·dim), the one
    * acceptable driver materialization (same as [[collectCentroids]]).
    */
  private[graft] def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfIdx = {
    val md = spark.read.parquet(s"$dir/centroids")
      .select("cid", "cent", "alpha_max")
      .collect()
      .sortBy(_.getLong(0))
    val assign = spark.read.parquet(s"$dir/assign")
      // partition-column type inference narrows cid to int; restore
      // the long the join/bucket logic uses
      .withColumn("cid", col("cid").cast("long"))
      .select("vec_id", "e", "cid", "alpha")
    IvfIdx(md.map(_.getLong(0)).toSeq,
      md.map(_.getSeq[Double](1)).toSeq,
      md.map(_.getDouble(2)).toSeq, assign)
  }

  /** Append-maintain an index written by [[writeIvfIndex]] — the
    * production cadence for a GROWING corpus (VERDICT r7 "What's
    * missing" #2, the IVF analogue of `appendCorpusPostings`):
    * assigning a new batch is ONE linear kernel pass over the batch
    * with the EXISTING coarse quantizer, appended into its cid
    * directories — never a corpus rebuild, never a full-corpus scan.
    * Per-bucket α_max merges as max(old, batch), keeping the
    * exact-search bucket bound valid for the grown corpus.
    *
    * Centroid RE-TRAINING is deliberately the caller's call, gated on
    * the returned DRIFT SIGNAL: the fraction of batch vectors landing
    * OUTSIDE their bucket's previous α_max. A well-fitting quantizer
    * keeps that fraction small; a rising value means the data
    * distribution moved and the centroids should be re-learned (a
    * rebuild via [[ivfIndex]] + [[writeIvfIndex]]). Batch vec_ids are
    * assumed disjoint from the corpus — same contract as the postings
    * append.
    */
  private[graft] def appendIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, newEmb: DataFrame): Double = {
    val idx = loadIvfIndex(spark, dir)
    val oldAm = idx.cids.zip(idx.alphaMax).toMap
    val batch = assignTo(newEmb, idx.cids, idx.cents)
      .select(col("vec_id"), col("e"), col("cid"),
        acos(col("c_sim")).as("alpha"))
      .cache() // two consumers: the partition append + the stats pass
    try {
      // O(C) per-bucket stats in one aggregate: merged α_max plus the
      // out-of-radius counts the drift signal needs
      val st = batch.groupBy("cid").agg(
        max("alpha").as("am"), count(lit(1)).as("n"),
        sum(when(col("alpha") >
          coalesce(element_at(typedLit(oldAm), col("cid")), lit(0.0)), 1L)
          .otherwise(0L)).as("out"))
        .collect()
      val batchAm = st.map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val merged = idx.cids.map(c =>
        math.max(oldAm(c), batchAm.getOrElse(c, 0.0)))
      // CRASH-SAFETY ORDER: the merged (larger) α_max is written BEFORE
      // the batch rows are appended. An overstated α_max only loosens
      // the exact-search bucket bound (conservative — extra buckets get
      // rescued); an understated one silently prunes true matches. So a
      // crash between the two writes always leaves a VALID index:
      // either metadata-ahead (safe) or fully appended.
      import spark.implicits._
      idx.cids.zip(idx.cents).zip(merged)
        .map { case ((c, v), a) => (c, v, a) }
        .toDF("cid", "cent", "alpha_max")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
      // one file per touched bucket per increment (see writeIvfIndex)
      batch.repartition(idx.cids.length, col("cid"))
        .write.mode("append").partitionBy("cid").parquet(s"$dir/assign")
      val nNew = st.map(_.getLong(2)).sum
      if (nNew == 0) 0.0 else st.map(_.getLong(3)).sum.toDouble / nNew
    } finally batch.unpersist(blocking = false)
  }

  /** Rank ALL centroids per probe by angle: one [[CosCentroids]]
    * kernel pass + a per-row array sort — no window, no join, no
    * shuffle (ordering theta asc, cid asc is identical to the r2
    * `row_number` over (pc_sim desc, cid asc)). Each row also carries
    * its bucket's α_max so the exact-search bound needs no stats
    * join.
    */
  private[ops] def rankCentroids(probes: DataFrame, idx: IvfIdx): DataFrame = {
    probes
      .withColumn("cs",
        call_function("graft_cos_centroids", col("p_emb"), typedLit(idx.cents)))
      .select(col("p_id"), col("p_emb"),
        posexplode(array_sort(zip_with(
          // .toList, not .toSeq — a Range IS a Seq, and typedLit
          // rejects Range literals (UNSUPPORTED_FEATURE.LITERAL_TYPE)
          col("cs"), typedLit(idx.cids.indices.toList),
          (c, i) => struct(acos(c).as("theta"), i.as("idx"))))))
      .select(col("p_id"), col("p_emb"), (col("pos") + 1).as("c_rn"),
        element_at(typedLit(idx.cids), col("col.idx") + 1).as("cid"),
        col("col.theta").as("theta"),
        element_at(typedLit(idx.alphaMax), col("col.idx") + 1).as("alpha_max"))
  }

  /** EXACT top-k via adaptive IVF (the primary simsearch — VERDICT r1
    * "What's wrong" #3). Two phases, both plain equi-joins on cid:
    *
    *  1. score the `nProbe` buckets nearest each probe; take the
    *     kth-best score s_k as that probe's pruning threshold;
    *  2. rescue any remaining bucket whose geometric upper bound can
    *     still beat s_k: for x assigned to centroid c with max
    *     assignment angle α_max, angle(p, x) ≥ θ_pc − α_max (reverse
    *     triangle inequality on the sphere), so
    *     cos(p, x) ≤ cos(max(θ_pc − α_max, 0)). Buckets below
    *     s_k − 1e-5 are provably irrelevant — the slack absorbs both
    *     acos/cos float error and the round-6 half-width, so a pruned
    *     vector can never round up into a tie at rank k.
    *
    * Exact for ANY data and ANY centroids: clustered data prunes most
    * buckets in phase 2; adversarially isotropic data (like the
    * synthetic testdata) degrades to an exact full scan through
    * equi-joins — the information-theoretic floor for exact top-k —
    * never through a corpus×corpus product.
    */
  def simSearchIvfExact(emb: DataFrame, nProbes: Int, topK: Int,
      nCentroids: Int = 8,
      excludeSameLabel: Boolean = false): DataFrame = {
    val nProbe = math.max(1, nCentroids / 2)
    val idx = ivfIndex(emb, nCentroids)
    val assign = idx.assign
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(Seq(col("vec_id").as("p_id"),
        col("embedding").cast("array<double>").as("p_emb")) ++
        (if (excludeSameLabel) Seq(col("label").as("p_label"))
         else Nil): _*)
    val ranked = rankCentroids(probes, idx)
    // clamp1 on the scorer too (ADVICE r2): a degenerate zero-norm
    // vector must score deterministically low in both phases, never
    // NaN-high; on well-formed data the clamp is a no-op after round-6
    val scoreOf = round(clamp1(cosineCols(col("p_emb"), col("e"))), 6)
    // hard-negative mode: drop same-label candidates BEFORE any
    // ranking, so the phase-1 kth bound and the bucket rescue both
    // see the restricted candidate set — the rescue geometry only
    // ever widens when candidates drop, so exactness is preserved.
    // Probe labels ride a probe-sized broadcast (rankCentroids
    // projects them away); candidate labels a vec_id-keyed equi-join
    // co-partitioned with the assignment — never a corpus broadcast.
    val probeLabels =
      if (excludeSameLabel) Some(broadcast(probes.select("p_id", "p_label")))
      else None
    def scoreBuckets(buckets: DataFrame): DataFrame = {
      val scored = buckets.join(assign.select("vec_id", "e", "cid"), "cid")
      val kept = probeLabels match {
        case Some(pl) =>
          scored.join(pl, "p_id")
            .join(emb.select(col("vec_id"), col("label")), "vec_id")
            .filter(col("label") =!= col("p_label"))
        case None => scored
      }
      kept.select(col("p_id"), col("p_emb"), col("vec_id"),
        scoreOf.as("cosine"))
    }
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id").orderBy(col("cosine").desc, col("vec_id").asc)
    val phase1 = scoreBuckets(ranked.filter(col("c_rn") <= nProbe))
    // kth best per probe; a probe with < topK phase-1 candidates gets
    // s_k = -2 (below any cosine) → every bucket is rescued → exact
    val sk = phase1.withColumn("rk", row_number().over(wR))
      .groupBy("p_id")
      .agg(max(when(col("rk") === topK, col("cosine"))).as("kth"))
      .select(col("p_id"), coalesce(col("kth"), lit(-2.0)).as("s_k"))
    // `ranked` already carries each bucket's alpha_max (attached per
    // row by rankCentroids from the index metadata) — no stats join
    val phase2 = scoreBuckets(
      ranked.filter(col("c_rn") > nProbe)
        .join(broadcast(sk), "p_id")
        .filter(cos(greatest(col("theta") - col("alpha_max"), lit(0.0)))
          >= col("s_k") - lit(1e-5))
        .select("p_id", "p_emb", "cid"))
    phase1.select("p_id", "vec_id", "cosine")
      .unionByName(phase2.select("p_id", "vec_id", "cosine"))
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= topK)
      .select("p_id", "rank", "vec_id", "cosine")
  }

  /** Approximate IVF-flat search: score only the `nProbe` nearest
    * buckets, no rescue — the throughput-over-recall trade the
    * 100 TB fast path takes when the corpus IS clustered. Recall
    * vs the exact scorer is pinned in LlmSpec (and is 1.0 when
    * nProbe = nCentroids: probing every bucket IS the exact search).
    */
  def simSearchIvf(emb: DataFrame, nProbes: Int, topK: Int,
      nCentroids: Int = 8, nProbe: Int = 3): DataFrame = {
    val idx = ivfIndex(emb, nCentroids)
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("p_id"), col("embedding").cast("array<double>").as("p_emb"))
    simSearchIvfOn(idx, probes, topK, nProbe)
  }

  /** The probe path against ANY materialized index — in-session
    * ([[ivfIndex]]) or disk-backed ([[loadIvfIndex]]); with a
    * cid-partitioned assignment table the cid equi-join is partition
    * pruning, so the scan reads nProbe/C of the corpus. */
  private[graft] def simSearchIvfOn(idx: IvfIdx, probes: DataFrame,
      topK: Int, nProbe: Int): DataFrame = {
    val probeBuckets = rankCentroids(probes, idx)
      .filter(col("c_rn") <= nProbe)
      .select(col("p_id"), col("p_emb"), col("cid"))
    // exact refine inside the probed buckets only
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id").orderBy(col("cosine").desc, col("vec_id").asc)
    probeBuckets.join(idx.assign.select("vec_id", "e", "cid"), "cid")
      .withColumn("cosine", round(clamp1(cosineCols(col("p_emb"), col("e"))), 6))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= topK)
      .select("p_id", "rank", "vec_id", "cosine")
  }

  /** EXACT n-gram Jaccard near-dup pairs via PREFIX FILTERING (the
    * PPJoin family's core trick) — completes the dedup battery with
    * the one family whose result is fully SQL-oracle-able (MinHash/
    * SimHash pairs are seeded-hash approximations; this is the exact
    * set-similarity ground truth they approximate).
    *
    * Theorem (prefix filter): order every doc's shingle set by one
    * GLOBAL order (here: ascending document frequency, rarest first,
    * ties by value); if J(a,b) ≥ τ then the first
    * |s| − ⌈τ·|s|⌉ + 1 shingles of a and of b share an element. So the
    * self-join explodes only PREFIXES — dominated by rare shingles
    * with small postings — and the exact Jaccard confirm touches
    * candidates only. At 100 TB this is the standard exact
    * set-similarity join: no corpus×corpus product, shuffle carries
    * (shingle, doc_id) prefix postings, and full shingle arrays move
    * only for candidate pairs.
    */
  /** Sorted distinct shingle sets per doc — the shared front half of
    * every exact-Jaccard operator ([[jaccardPairs]],
    * [[PipelineOps.dedupIncremental]]). Lexicographically sorted so
    * the prefix-filter theorem has its one consistent total order
    * without any document-frequency aggregation (see note in
    * [[jaccardPairs]]).
    */
  private[graft] def shingleSets(docs: DataFrame, shingleN: Int): DataFrame = {
    val toked = docs.select(col("doc_id"), tokens(col("text")).as("toks"),
      normText(col("text")).as("norm"))
    // the fused kernel ≡ array_sort(array_distinct(graft_shingles(…)))
    // (same binary order/equality) but keeps the whole Project inside
    // whole-stage codegen — the HOF pair forced this, the heaviest
    // stage of the exact-Jaccard family, into interpreted eval (r10).
    // The < shingleN fallback is a singleton: sorted/distinct trivially
    val sh = when(size(col("toks")) >= shingleN,
      call_function("graft_shingles_sorted", col("toks"), lit(shingleN)))
      .otherwise(array(col("norm")))
    toked.select(col("doc_id"), sh.as("sh"))
  }

  /** The non-empty sorted shingle sets, shuffled on doc_id — the base
    * both prefix joins ([[jaccardPairs]], [[containmentPairs]]) read
    * four times. Lazy here (the r12 exchange-reuse form);
    * [[sortedShingles]] is its session memo. */
  private def shingleBase(docs: DataFrame, shingleN: Int,
      sized: Option[Int]): DataFrame =
    Scale.repartitionSized(sized,
      shingleSets(docs, shingleN)
        .filter(col("doc_id").isNotNull && col("sh").isNotNull &&
          size(col("sh")) > 0), col("doc_id"))

  /** [[shingleBase]] as the PPJoin index base a production dedup
    * service maintains per corpus snapshot: a session memo ([[Memo]])
    * keyed on `docs`, so the per-call work becomes postings +
    * candidate join + exact confirm. */
  private def sortedShingles(docs: DataFrame, shingleN: Int,
      sized: Option[Int]): DataFrame =
    Memo.frame(s"shsets$shingleN", docs)(shingleBase(docs, shingleN, sized))

  /** Prefix-filter postings: the first |s| − ⌈τ·|s|⌉ + 1 shingles of
    * each doc, exploded to (doc_id, shingle) rows.
    */
  private[ops] def prefixPostings(sorted: DataFrame, tau: Double): DataFrame =
    sorted.select(col("doc_id"), size(col("sh")).as("n"), col("sh"))
      .select(col("doc_id"),
        explode(slice(col("sh"), lit(1),
          (col("n") - ceil(col("n") * tau) + 1).cast("int"))).as("s"))

  def jaccardPairs(docs: DataFrame, tau: Double = 0.6,
      shingleN: Int = 3): DataFrame =
    jaccardPairsOver(docs, tau, shingleN, sortedShingles)

  /** [[jaccardPairs]] over the lazy [[shingleBase]], leaving no memo
    * entry: for a caller that memoizes its own result. */
  private[ops] def jaccardPairsUnmemoized(docs: DataFrame, tau: Double,
      shingleN: Int): DataFrame =
    jaccardPairsOver(docs, tau, shingleN, shingleBase)

  private def jaccardPairsOver(docs: DataFrame, tau: Double, shingleN: Int,
      base: (DataFrame, Int, Option[Int]) => DataFrame): DataFrame = {
    // shingleN is the collision-density dial: longer shingles make the
    // shingle space sparser, so prefix postings (and candidate pairs)
    // shrink. A Zipfian real-world vocabulary is fine at 3; this
    // fixture corpus draws from ~30 tokens, so every 3-gram is common
    // and the registered query uses 5 (measured 9 s → sub-second at
    // sf0.1 with an identical high-similarity pair set).
    // The prefix theorem needs ONE CONSISTENT total order on shingles —
    // any order. Lexicographic (array_sort) keeps the whole pipeline
    // shuffle-free up to the candidate join: no document-frequency
    // aggregation, no re-assembly join. The classic rarest-first order
    // is a posting-size heuristic worth its extra df join only when the
    // shingle space is dense.
    //
    // The repartition below is the whole-query economy (VERDICT r7 #1):
    // `sorted` feeds FOUR plan branches (both prefix-posting sides and
    // both confirm sides), and without a materialization point each
    // branch re-runs scan → shingle kernel → per-row sort. Pinning one
    // shuffle on doc_id makes every branch's subtree canonically equal
    // up to that Exchange, so ReuseExchange/AQE stage reuse computes
    // the shingle sets ONCE and the other branches read shuffle files —
    // disk-backed sharing with no block-manager residency (a persist()
    // would hold corpus-sized shingle arrays in executor memory at
    // 100 TB and leak for the session without an unpersist point).
    // The explicit no-op filter mirrors [[containmentPairs]]: it
    // pre-applies the union of every branch's pushed-down predicates so
    // the four consuming subtrees stay canonically equal and AQE reuses
    // ONE kernel corpus pass (without it, each branch's own pushed
    // isnotnull/size filters below the repartition broke reuse and the
    // kernel ran four times — measured via explain, r12).
    // The measured partition-sizing law (Scale.sizedShuffle, SCALE.md
    // "Deep point: 256×"): sized off the pre-explode corpus estimate,
    // a no-op (plan byte-identical to r13) at oracle/bench scales,
    // widening this materialization point AND the candidate-join
    // exchanges below once the corpus outgrows the session default.
    val sized = Scale.sizedShuffle(docs)
    val sorted = base(docs, shingleN, sized)
    // Prefix postings as posexplode + pos-filter (not explode(slice)):
    // value-identical, but the Generate's implicit predicates land on
    // `sh` itself — the same expressions every other branch pushes — so
    // the prefix relation reuses the shared exchange too. Candidates
    // join on xxhash64(shingle): 8-byte keys through the largest
    // shuffle; a collision only ADDS a candidate the exact confirm
    // rejects (the containmentPairs argument).
    val pref0 = sorted
      .select(col("doc_id"), size(col("sh")).as("n"),
        posexplode(col("sh")).as(Seq("pos", "s")))
      .filter(col("pos") <
        (col("n") - ceil(col("n") * tau) + 1).cast("int"))
      .select(col("doc_id"), col("n"), xxhash64(col("s")).as("h"))
    // r22: a memoized h-partitioned prefix-posting relation (the
    // phash banded-table move) was MEASURED WORSE here (warm 1.22 →
    // 1.52 s at sf0.1: two posting-grain IMR scans cost more than
    // re-deriving the prefix from the doc-grain sorted memo, whose
    // explode is cheap and whose join exchange AQE coalesces) — the
    // prefix stays derived per call.
    val pref = pref0
    val a = pref.select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("h"))
    val b = pref.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
      col("h").as("h_b"))
    // PPJoin+ length filter: J(a,b) ≥ τ ⇒ τ·|a| ≤ |b| ≤ |a|/τ, so a
    // size-mismatched collision never reaches the dedup shuffle or
    // the exact confirm. Relaxed by 1e-9 so double rounding can only
    // KEEP a borderline candidate (the confirm rejects it), never
    // prune a true pair. Carries one int through the posting shuffle.
    // The posting join is the family's largest shuffle — the exchange
    // the sizing law exists for. Pinning both sides to the sized
    // hash partitioning on their join key means the SMJ adopts it
    // (no second exchange); law off → no plan change.
    val cand = Scale.shuffleSized(sized, a, col("h"))
      .join(Scale.shuffleSized(sized, b, col("h_b")),
        col("h") === col("h_b") && col("doc_a") < col("doc_b")
        && col("n_b").cast("double") >= col("n_a") * tau - 1e-9
        && col("n_a").cast("double") >= col("n_b") * tau - 1e-9)
      .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
    val sa = sorted.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = sorted.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Asymmetric containment pairs: C(a→b) = |Sa ∩ Sb| / |Sa| ≥ τ —
    * the doc⊂doc family Jaccard structurally misses (an excerpt of a
    * long document has tiny Jaccard but containment 1.0): quotes,
    * chunk re-ingestion, boilerplate wrapping.
    *
    * Prefix theorem, asymmetric form: |Sa∩Sb| ≥ ⌈τ|Sa|⌉ forces any
    * |Sa| − ⌈τ|Sa|⌉ + 1 shingles of Sa to hit Sb — the SAME prefix
    * length as Jaccard on the contained side, but the probe side must
    * be FULL postings (the bound says nothing about where the shared
    * shingles sit in Sb's order, so Sb can't be prefixed). Candidate
    * volume is prefix(A) ⋈ postings(B) — the incremental-dedup
    * corpus-postings shape, linear in corpus shingles, never corpus².
    * The confirm filters on the UNROUNDED ratio (one IEEE division —
    * bit-identical across engines) so the τ boundary can never
    * disagree with the oracle through rounding.
    *
    * `maxPostingDf` is the web-corpus skew guard (the
    * [[decontaminate]] `maxTrainDf` move, asymmetric form): a
    * boilerplate shingle ("all rights reserved …") is a hot join key
    * whose containing-side posting list is O(corpus) — the candidate
    * join would land that key's entire fan-out on one reducer. The cap
    * drops postings whose document frequency exceeds it from the
    * CONTAINING side only (the contained side is already
    * prefix-bounded), bounding per-key candidate fan-out at
    * prefix_df × cap. It is a recall trade: a pair whose every shared
    * prefix shingle is hotter than the cap is no longer proposed —
    * exactly the boilerplate-only overlaps the confirm would reject on
    * containment anyway for real corpora; LlmSpec pins that at the
    * registered cap the confirmed pair set is UNCHANGED on this
    * corpus. df is counted on the 64-bit shingle hash (`sh` is
    * distinct per doc, so rows per hash = df); a hash collision can
    * only merge two shingles' counts and at worst drops an extra
    * candidate — never a false positive, the confirm is exact.
    */
  def containmentPairs(docs: DataFrame, tau: Double = 0.9,
      shingleN: Int = 3, maxPostingDf: Option[Long] = None): DataFrame = {
    // The explicit filter is semantically a no-op (sh is a CASE that
    // always yields a non-empty array; doc_id is a key) but it is what
    // makes exchange reuse HAPPEN: each consuming branch pushes its own
    // predicates (the posexplode sides push size(sh)>0 ∧ isnotnull(sh),
    // the join sides push isnotnull(doc_id)) through the repartition,
    // and branches with different pushed-down filters are no longer
    // canonically equal subtrees — the kernel corpus pass ran FOUR
    // times (measured via explain, r12). Pre-applying the UNION of
    // those predicates makes every pushed copy redundant (CombineFilters
    // drops it), so all four branches share ONE exchange.
    // Partition-sizing law (Scale.sizedShuffle) — this op is WHY it
    // exists: at the 256× soak point the fixed-width posting-join
    // shuffle spilled and α_cold hit 1.03 (SOAK_R13_DEEP_SH256.json);
    // sized partitions restored 0.73. No-op below the threshold.
    val sized = Scale.sizedShuffle(docs)
    val sorted = sortedShingles(docs, shingleN, sized)
    // BOTH candidate sides derive from ONE posexploded posting
    // relation: the contained side is `pos < prefixLen`, the
    // containing side is every row (the asymmetric bound says nothing
    // about position in S_b). Deriving them as two filters of the
    // same subplan lets ReusedExchange share the shingle-kernel
    // corpus pass — as separate explodes, each side pushed different
    // scan filters, the exchanges stopped matching, and the kernel
    // ran the corpus TWICE (measured, the op's dominant cost).
    // Candidates also join on the HASH of the shingle: 8-byte longs
    // through the family's largest shuffle instead of n-gram-sized
    // strings; equal shingles always hash equal (no false negative),
    // a collision only ADDS a candidate the exact confirm rejects.
    val posted = sorted
      .select(col("doc_id"), size(col("sh")).as("n"),
        posexplode(col("sh")).as(Seq("pos", "s")))
      .select(col("doc_id"), col("n"), col("pos"),
        xxhash64(col("s")).as("h"))
    val a = posted
      .filter(col("pos") < (col("n") - ceil(col("n") * tau) + 1).cast("int"))
      .select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("h"))
    // sized BEFORE the df window: the window clusters on h, adopts the
    // sized exchange, and the join side stays co-partitioned on h all
    // the way through — one sized shuffle serves df-count AND join
    val full0 = Scale.shuffleSized(sized,
      posted.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("h")), col("h"))
    def fullBuild = maxPostingDf match {
      case None => full0
      case Some(cap) =>
        // window-count df over the SAME shared posting subplan (the
        // decontaminate pattern): one shuffle on h — the key the
        // candidate join needs anyway — no second corpus pass
        val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
        full0.withColumn("df", count(lit(1)).over(w))
          .filter(col("df") <= cap).drop("df")
    }
    // r22: the df-capped containing-side posting table is the other
    // half of the PPJoin index — memoizing it removes the per-call
    // posting explode + df window (the op's dominant recurring cost);
    // its window exchange leaves the cached relation hash-partitioned
    // on h, which the candidate join adopts.
    val full = Memo.frame(
      s"contfull${shingleN}_${maxPostingDf.getOrElse(0L)}", docs)(fullBuild)
    // one-sided length filter (asymmetric PPJoin+ form):
    // |Sa∩Sb| ≥ τ|Sa| and |Sa∩Sb| ≤ |Sb| force |Sb| ≥ τ|Sa|; there
    // is no upper bound on |Sb| (a huge doc can contain a small
    // one). Relaxed by 1e-9 so rounding can only keep a candidate.
    val cand = Scale.shuffleSized(sized, a, col("h")).join(full, Seq("h"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("n_b").cast("double") >= col("n_a") * tau - 1e-9)
      .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
    val sa = sorted.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = sorted.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("c_raw",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")))
      .filter(col("c_raw") >= tau)
      .select(col("doc_a"), col("doc_b"),
        round(col("c_raw"), 6).as("containment"))
  }

  /** Character n-gram language ID, Cavnar–Trenkle style (the n-gram
    * heuristic of the classic "N-Gram-Based Text Categorization"):
    * build a top-`topK` character-trigram profile per language from a
    * supervised train split (`doc_id % trainMod != 0`), then classify
    * every document by profile-hit count (ties → lexicographically
    * smallest language; no hits → "und").
    *
    * Everything is scale-shaped: the profile build is one explode +
    * groupBy whose OUTPUT is bounded (langs × topK rows) regardless
    * of corpus size; that bounded profile then ships to executors as
    * plan literals (the IVF-centroid pattern — the one acceptable
    * driver materialization class) and scoring is a single
    * shuffle-free codegen pass: per-lang array_intersect sizes +
    * struct argmax, no explode, no join, no window. At 100 TB the
    * profile is built once and reused across batches like any
    * dimension table.
    */
  def langId(docs: DataFrame, topK: Int = 200, trainMod: Int = 5): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"),
      normText(col("text")).as("txt"))
    // trigrams via the fused kernel — the declarative transform+substr
    // rendering was quadratic per doc (O(i) UTF-8 re-seek per element
    // AND the captured normalization re-evaluated per element, the
    // known HOF hazard): 60 s → sub-second at sf0.1. The kernel
    // returns [] for texts shorter than n, so no length guard.
    val tris = base.select(col("doc_id"), col("lang"),
      coalesce(array_distinct(
          call_function("graft_char_ngrams", col("txt"), lit(3))),
        typedLit(Seq.empty[String])).as("ts"))
    val wProf = org.apache.spark.sql.expressions.Window
      .partitionBy("plang").orderBy(col("c").desc, col("t").asc)
    val profile = tris.filter(col("doc_id") % trainMod =!= 0)
      .select(col("lang").as("plang"), explode(col("ts")).as("t"))
      .groupBy("plang", "t").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(wProf))
      .filter(col("rn") <= topK)
      .select("plang", "t")
    // Scoring (r5, VERDICT r4 #7): the profile is BOUNDED metadata
    // (langs × topK trigrams), so it rides to executors as plan
    // literals — like the IVF centroids — and per-doc match counts
    // become size(array_intersect(ts, <lang's trigrams>)): ONE
    // shuffle-free codegen pass over the corpus, replacing the
    // explode → broadcast join → groupBy → per-doc window pipeline
    // (4 stages and 2 corpus-sized shuffles of trigram rows).
    // Value-identical: ts is distinct, so the intersect size IS the
    // join-count m; argmax tie-break (m desc, plang asc) is encoded
    // as max over (m, -langIndex) structs.
    val profMap = profile.collect()
      .map(r => r.getString(0) -> r.getString(1))
      .groupBy(_._1).map { case (l, ts) => l -> ts.map(_._2).toSeq }
    val langs = profMap.keys.toSeq.sorted
    if (langs.isEmpty)
      base.select(col("doc_id"), col("lang"), lit("und").as("lang_pred"))
    else {
      val scored = langs.zipWithIndex.map { case (l, i) =>
        struct(size(array_intersect(col("ts"), typedLit(profMap(l)))).as("m"),
          lit(-i).as("ni"))
      }
      tris.select(col("doc_id"), col("lang"),
          array_max(array(scored: _*)).as("best"))
        .select(col("doc_id"), col("lang"),
          when(col("best.m") > 0,
            element_at(typedLit(langs.toList), -col("best.ni") + 1))
            .otherwise(lit("und")).as("lang_pred"))
    }
  }

  override def ops: Seq[Op] = Seq(

    Op("llm_dedup_exact",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("text_hash")
        Tables.documents(s, d)
          .withColumn("text_hash", md5(normText(col("text"))))
          .withColumn("rn", row_number().over(w.orderBy(col("doc_id").asc)))
          .withColumn("n_copies", count(lit(1)).over(w))
          .filter(col("rn") === 1)
          .select("doc_id", "text_hash", "n_copies")
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
                SELECT doc_id,
                  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                    AS text_hash
                FROM documents),
              r AS (
                SELECT doc_id, text_hash,
                  row_number() OVER (PARTITION BY text_hash
                    ORDER BY doc_id ASC) AS rn,
                  count(*) OVER (PARTITION BY text_hash) AS n_copies
                FROM h)
              SELECT doc_id, text_hash, n_copies FROM r WHERE rn = 1
              ORDER BY doc_id""")),

    Op("llm_dedup_near",
      // not DuckDB-expressible (seeded-hash family); property-tested in
      // LlmSpec. The registered query runs recall-demonstrably: corpus ∪
      // one-token-truncated clones must pair up with their originals.
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val toks = tokens(col("text"))
        // clone ids carry a disjoint high-bit tag (ADVICE r2): an
        // additive +1e6 offset would alias real doc_ids past 1e6 rows
        val clones = docs.select(
          col("doc_id").bitwiseOR(lit(1L << 40)).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
        nearDupPairs(docs.unionByName(clones), k = 16, bands = 4,
          jaccardMin = 0.5)
          .orderBy("doc_a", "doc_b")
      },
      None),

    Op("llm_dedup_near_md5",
      // the hash-gated twin of llm_dedup_near (r20, fifth no-oracle
      // label promotion): the production label belongs to the
      // seeded-FNV kernel, not to MinHash or the b×r banding — this
      // sibling draws base values from md5's first 32 bits, signature
      // functions from the Carter–Wegman universal family (exact
      // BIGINT arithmetic), bands from an exact polynomial fold, and
      // confirms with exact shingle-set Jaccard, so the full pair
      // relation hash-matches DuckDB at the production operating
      // point (k=16, b=4, r=4, τ=0.5). Same candidate plan class
      // (band equi self-join, postings confirm); md5 + the portable
      // rendering cost more than the fused kernel, which is exactly
      // why production keeps the kernel and THIS op carries the gate.
      // r21: the Spark side reads the session-memoized shingle +
      // signature base ([[minhashTwinViews]] — VERDICT r20 #4); the
      // oracle SQL is the unchanged self-contained relation, so the
      // driver's hash gate re-proves the restructure. LlmSpec
      // additionally pins restructured ≡ monolithic row-for-row.
      (s, d) => {
        minhashTwinViews(s, d)
        s.sql(nearDupMd5SparkSql)
      },
      Some(nearDupMd5Sql(sparkSide = false))),

    Op("llm_dedup_incr_near_md5",
      // the hash-gated twin of llm_dedup_incr_near (r20, eighth
      // no-oracle label promotion): the production label belongs to
      // the seeded kernel, not to the incremental posture — batch
      // band signatures meeting CORPUS band signatures in an
      // equi-join (the corpus never self-pairs), best-match selection
      // per batch doc, exact confirm. Same Carter–Wegman-over-md5
      // machinery as llm_dedup_near_md5; the full
      // (doc, dup_of, jaccard, is_dup) relation hash-matches DuckDB,
      // putting the batch-vs-corpus join + tiebreak under the gate.
      // r21: shares the SAME memoized base as llm_dedup_near_md5
      // (the two twins previously rebuilt the identical
      // shingle+signature relation per call — VERDICT r20 #4); the
      // batch/corpus split is pure filters + id arithmetic on it.
      (s, d) => {
        minhashTwinViews(s, d)
        s.sql(incrNearMd5SparkSql)
      },
      Some(incrNearMd5Sql(sparkSide = false))),

    Op("llm_dedup_jaccard",
      // exact n-gram Jaccard pairs (prefix filter, [[jaccardPairs]]) on
      // the same corpus ∪ truncated-clones workload as llm_dedup_near —
      // and, unlike the seeded-hash families, fully oracled: the DuckDB
      // side prunes by shared-shingle inverted index (necessary for
      // J > 0, so exact) then brute-confirms. τ=0.8: clone pairs sit at
      // J≈0.95 and the tight threshold keeps prefixes short — this
      // 30-word-vocabulary corpus is the worst case for prefix
      // filtering (every shingle is common; real corpora are Zipfian
      // with genuinely rare prefixes), so the registered operating
      // point is the high-similarity dedup setting, not a fuzzy search
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val toks = tokens(col("text"))
        val clones = docs.select(
          col("doc_id").bitwiseOR(lit(1L << 40)).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
        jaccardPairs(docs.unionByName(clones), tau = 0.8, shingleN = 5)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH raw AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                -- NB DuckDB list slices are END-INCLUSIVE ([:-1] keeps
                -- the last element); slice by explicit length instead
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
              s AS (
                SELECT doc_id,
                  CASE WHEN len(toks) >= 5 THEN
                    list_distinct(list_transform(
                      generate_series(1, len(toks) - 4),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4]))
                  ELSE [norm] END AS sh
                FROM t),
              ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
              cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id),
              j AS (
                SELECT c.doc_a, c.doc_b,
                  len(list_intersect(sa.sh, sb.sh)) AS inter,
                  len(sa.sh) AS na, len(sb.sh) AS nb
                FROM cand c
                JOIN s sa ON sa.doc_id = c.doc_a
                JOIN s sb ON sb.doc_id = c.doc_b)
              SELECT doc_a, doc_b,
                round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
              FROM j
              WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
              ORDER BY doc_a, doc_b""")),

    Op("llm_simsearch",
      // primary = EXACT adaptive IVF (bucket bound rescue); the oracle
      // stays the brute-force SQL because the result is provably the
      // exact top-k. simSearch (crossJoin brute force) survives only
      // as the LlmSpec reference implementation.
      (s, d) => {
        val out = simSearchIvfExact(Tables.embeddings(s, d), nProbes = 5,
          topK = 10)
        out.orderBy("p_id", "rank")
      },
      Some("""WITH probes AS (
                SELECT vec_id AS p_id, embedding AS p_emb
                FROM embeddings WHERE vec_id < 5),
              scored AS (
                SELECT p_id, vec_id,
                  round(
                    list_reduce(list_transform(range(1, 65),
                      i -> p_emb[i]::DOUBLE * embedding[i]::DOUBLE),
                      (a, b) -> a + b)
                    / (sqrt(list_reduce(list_transform(p_emb,
                         x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))
                     * sqrt(list_reduce(list_transform(embedding,
                         x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))),
                    6) AS cosine
                FROM probes, embeddings),
              ranked AS (
                SELECT p_id, vec_id, cosine,
                  row_number() OVER (PARTITION BY p_id
                    ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM scored)
              SELECT p_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine
              FROM ranked WHERE rank <= 10
              ORDER BY p_id, rank""")),

    Op("llm_mask_tokens",
      // MLM masking prep (BERT, Devlin et al. 2019 §3.1) — the
      // transform between a clean corpus and a masked-LM trainer:
      // each token masks independently at 15%, but the coin is the
      // CONTENT-KEYED hash of (doc_id, position) — the trainSplit
      // determinism rule applied at token grain, so re-runs,
      // replicas and both engines mask the identical positions (a
      // random() mask would neither replay nor hash-match). One
      // codegen HOF projection over the token array (transform +
      // array_join — no explode, no shuffle); per-doc stats ride
      // the same pass.
      (s, d) => {
        Tables.documents(s, d).createOrReplaceTempView("graft_docs_mask")
        s.sql(maskSql("graft_docs_mask", spark = true))
      },
      Some(maskSql("documents", spark = false))),

    Op("llm_keyness_chi2",
      // chi-squared keyness — distinctive-term extraction per source
      // (the corpus-linguistics method behind "what makes this
      // domain's language different", complementing llm_tfidf's
      // per-DOC weighting and llm_cooccur_lift's pair statistics):
      // 2×2 contingency per (source, term) on DOCUMENT frequencies,
      // keyness chi2 = n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)), top-5
      // OVERUSED terms per source (positive keyness only, df floor
      // 3). Counts are exact longs; the statistic multiplies their
      // DOUBLE casts in one fixed sequence (products would overflow
      // longs at corpus scale — identical IEEE text on both
      // engines). Postings carry each DISTINCT (source, term) once;
      // the top-5 rank-filter plans WindowGroupLimit.
      (s, d) => {
        val docs = tokenizedDocs(s, d)
          .join(Tables.documents(s, d).select("doc_id", "source"),
            "doc_id")
        val post = docs.select(col("doc_id"), col("source"),
            explode(array_distinct(array_remove(col("toks"), "")))
              .as("term"))
        val st = post.groupBy("source", "term")
          .agg(count(lit(1)).as("a"))
        val tt = post.groupBy("term")
          .agg(count(lit(1)).as("df_tot"))
        val srcDocs = docs.groupBy("source")
          .agg(count(lit(1)).as("n_src"))
        val nTot = docs.agg(count(lit(1)).cast("long").as("n_tot"))
        val cells = st.join(tt, "term")
          .join(broadcast(srcDocs), "source")
          .join(broadcast(nTot))
          .select(col("source"), col("term"), col("a"),
            (col("df_tot") - col("a")).as("b"),
            (col("n_src") - col("a")).as("c"),
            (col("n_tot") - col("n_src") - col("df_tot") + col("a"))
              .as("d0"), col("n_tot"))
        val D = (n: String) => col(n).cast("double")
        val chi2 = round(
          D("n_tot") * (D("a") * D("d0") - D("b") * D("c")) *
            (D("a") * D("d0") - D("b") * D("c")) /
            ((D("a") + D("b")) * (D("c") + D("d0")) *
             (D("a") + D("c")) * (D("b") + D("d0"))), 6)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(col("chi2").desc, col("term").asc)
        cells
          .filter(col("a") >= 3L)
          .withColumn("chi2", chi2)
          // overused only: within-source rate above rest-rate
          .filter(D("a") * (D("b") + D("d0")) >
            D("b") * (D("a") + D("c")))
          .withColumn("rank_in_source", row_number().over(w))
          .filter(col("rank_in_source") <= 5)
          .select(col("source"), col("rank_in_source"), col("term"),
            col("a").cast("long").as("df_in_source"), col("chi2"))
          .orderBy("source", "rank_in_source")
      },
      Some("""WITH tok AS (
                SELECT doc_id, source,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                    AS toks
                FROM documents),
              post AS (
                SELECT doc_id, source,
                  unnest(list_distinct(list_filter(toks, t -> t <> '')))
                    AS term
                FROM tok),
              st AS (
                SELECT source, term, count(*) AS a
                FROM post GROUP BY 1, 2),
              tt AS (
                SELECT term, count(*) AS df_tot FROM post GROUP BY 1),
              sd AS (
                SELECT source, count(*) AS n_src FROM tok GROUP BY 1),
              nt AS (SELECT count(*) AS n_tot FROM tok),
              cells AS (
                SELECT st.source, st.term, st.a,
                  tt.df_tot - st.a AS b,
                  sd.n_src - st.a AS c,
                  nt.n_tot - sd.n_src - tt.df_tot + st.a AS d0,
                  nt.n_tot AS n_tot
                FROM st JOIN tt ON st.term = tt.term
                JOIN sd ON st.source = sd.source, nt),
              k AS (
                SELECT source, term, a,
                  round(CAST(n_tot AS DOUBLE)
                    * (CAST(a AS DOUBLE) * CAST(d0 AS DOUBLE)
                       - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                    * (CAST(a AS DOUBLE) * CAST(d0 AS DOUBLE)
                       - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                    / ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                     * (CAST(c AS DOUBLE) + CAST(d0 AS DOUBLE))
                     * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
                     * (CAST(b AS DOUBLE) + CAST(d0 AS DOUBLE))), 6)
                    AS chi2
                FROM cells
                WHERE a >= 3
                  AND CAST(a AS DOUBLE)
                    * (CAST(b AS DOUBLE) + CAST(d0 AS DOUBLE))
                    > CAST(b AS DOUBLE)
                    * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))),
              r AS (
                SELECT source, term, a, chi2,
                  row_number() OVER (PARTITION BY source
                    ORDER BY chi2 DESC, term ASC) AS rank_in_source
                FROM k)
              SELECT source, CAST(rank_in_source AS INTEGER)
                  AS rank_in_source,
                term, CAST(a AS BIGINT) AS df_in_source, chi2
              FROM r WHERE rank_in_source <= 5
              ORDER BY source, rank_in_source""")),

    Op("llm_ngram_coverage",
      // train→test n-gram coverage — the generalization-gap profiler
      // beside llm_decontaminate (that op flags CONTAMINATED docs;
      // this measures, per language, what fraction of the test
      // split's distinct 4-grams the train split covers — high
      // coverage means the held-out split barely tests anything new,
      // low coverage warns the split is out-of-domain): both sides
      // reduce to DISTINCT n-gram vocabularies (posting-grain — the
      // exchange carries each distinct 4-gram once, never token
      // streams), coverage = one LEFT JOIN + exact-int division.
      // Split assignment is the shared trainSplit md5 bucket, so
      // coverage composes exactly with llm_train_split/decontaminate.
      (s, d) => {
        val sp = trainSplit(Tables.documents(s, d))
          .select(col("doc_id"), col("split"))
        val docs = tokenizedDocs(s, d)
          .select(col("doc_id"), col("lang"),
            array_remove(col("toks"), "").as("toks"))
          .filter(size(col("toks")) >= 4)
          .join(sp, "doc_id")
        val ng = docs.select(col("lang"), col("split"),
          explode(array_distinct(expr(
            """transform(sequence(1, size(toks) - 3),
               i -> array_join(slice(toks, i, 4), ' '))"""))).as("ng"))
        val testNg = ng.filter(col("split") === "test")
          .select("lang", "ng").distinct()
        val trainNg = ng.filter(col("split") === "train")
          .select(col("ng").as("tng")).distinct()
        testNg.join(trainNg, col("ng") === col("tng"), "left")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_test_ngrams"),
            count(col("tng")).as("n_covered"))
          .withColumn("coverage",
            round(col("n_covered").cast("double") /
              col("n_test_ngrams").cast("double"), 6))
          .orderBy("lang")
      },
      Some("""WITH s AS (
                SELECT doc_id, lang,
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS txt
                FROM documents),
              sp AS (
                SELECT doc_id, lang, txt,
                  CASE WHEN CAST(('0x' || substr(md5(txt), 1, 8)) AS BIGINT)
                         % 100 < 90 THEN 'train'
                       WHEN CAST(('0x' || substr(md5(txt), 1, 8)) AS BIGINT)
                         % 100 < 95 THEN 'validation'
                       ELSE 'test' END AS split
                FROM s),
              tk AS (
                SELECT doc_id, lang, split, string_split(txt, ' ') AS toks
                FROM sp WHERE len(string_split(txt, ' ')) >= 4),
              ng AS (
                SELECT lang, split,
                  unnest(list_distinct(list_transform(
                    generate_series(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+3], ' ')))) AS ng
                FROM tk),
              te AS (SELECT DISTINCT lang, ng FROM ng
                     WHERE split = 'test'),
              tr AS (SELECT DISTINCT ng AS tng FROM ng
                     WHERE split = 'train')
              SELECT te.lang,
                count(*) AS n_test_ngrams,
                count(tr.tng) AS n_covered,
                round(CAST(count(tr.tng) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE), 6) AS coverage
              FROM te LEFT JOIN tr ON te.ng = tr.tng
              GROUP BY te.lang ORDER BY te.lang""")),

    Op("llm_ann_ndcg",
      // retrieval-quality evaluation — NDCG@10 of the exact top-10
      // against label ground truth (the metric a similarity-search
      // deployment tracks; label agreement as binary relevance, the
      // embeddings fixture's documented use). Libm-free by
      // construction: the 1/log2(rank+1) discounts and their ideal
      // cumulative sums are INLINE DECIMAL LITERALS (exponent form —
      // both engines parse the same decimal to the same double), DCG
      // is a rank-ordered LEFT FOLD over the collected 10-row list
      // (never a group-sum of doubles — association order), IDCG a
      // single literal lookup at n_rel. Search cost amortizes on the
      // session IVF memo shared with llm_simsearch; the eval adds two
      // label joins and a 10-row-per-probe fold.
      (s, d) => {
        val discA = "array(1e0, 6309297535714575e-16, 5e-1, " +
          "43067655807339306e-17, 38685280723454163e-17, " +
          "3562071871080222e-16, 3333333333333333e-16, " +
          "31546487678572877e-17, 3010299956639812e-16, " +
          "2890648263178879e-16)"
        val cumA = "array(1e0, 16309297535714575e-16, " +
          "21309297535714578e-16, 25616063116448506e-16, " +
          "29484591188793923e-16, 33046663059874146e-16, " +
          "3637999639320748e-15, 3953464516106477e-15, " +
          "4254494511770458e-15, 4543559338088346e-15)"
        val emb = Tables.embeddings(s, d)
        val top = simSearchIvfExact(emb, nProbes = 5, topK = 10)
        val plab = emb.select(col("vec_id").as("p_id"),
          col("label").as("p_label"))
        val rel = top
          .join(broadcast(plab), "p_id")
          .join(emb.select(col("vec_id"), col("label")), "vec_id")
          .select(col("p_id"), col("rank"),
            (col("label") === col("p_label")).cast("int").as("rel"))
          .withColumn("term",
            expr(s"CASE WHEN rel = 1 THEN element_at($discA, rank) " +
              "ELSE 0e0 END"))
        rel.groupBy("p_id")
          .agg(sum(col("rel")).cast("long").as("n_rel"),
            array_sort(collect_list(struct(col("rank"), col("term"))))
              .as("xs"))
          .select(col("p_id"), col("n_rel"),
            expr("""aggregate(
                      slice(transform(xs, x -> x.term), 2, size(xs) - 1),
                      element_at(transform(xs, x -> x.term), 1),
                      (a, x) -> a + x)""").as("dcg"))
          .withColumn("ndcg",
            when(col("n_rel") === 0L, lit(0.0))
              .otherwise(round(col("dcg") /
                expr(s"element_at($cumA, CAST(n_rel AS INT))"), 6)))
          .select("p_id", "n_rel", "ndcg")
          .orderBy("p_id")
      },
      Some("""WITH probes AS (
                SELECT vec_id AS p_id, embedding AS p_emb, label AS p_label
                FROM embeddings WHERE vec_id < 5),
              scored AS (
                SELECT p_id, p_label, vec_id,
                  round(
                    list_reduce(list_transform(range(1, 65),
                      i -> p_emb[i]::DOUBLE * embedding[i]::DOUBLE),
                      (a, b) -> a + b)
                    / (sqrt(list_reduce(list_transform(p_emb,
                         x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))
                     * sqrt(list_reduce(list_transform(embedding,
                         x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))),
                    6) AS cosine
                FROM probes, embeddings),
              ranked AS (
                SELECT p_id, p_label, vec_id, cosine,
                  row_number() OVER (PARTITION BY p_id
                    ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM scored),
              rel AS (
                SELECT r.p_id, r.rank,
                  CASE WHEN e.label = r.p_label THEN 1 ELSE 0 END AS rel,
                  CASE WHEN e.label = r.p_label THEN
                    ([1e0, 6309297535714575e-16, 5e-1,
                      43067655807339306e-17, 38685280723454163e-17,
                      3562071871080222e-16, 3333333333333333e-16,
                      31546487678572877e-17, 3010299956639812e-16,
                      2890648263178879e-16])[r.rank]
                  ELSE 0e0 END AS term
                FROM ranked r JOIN embeddings e ON r.vec_id = e.vec_id
                WHERE r.rank <= 10),
              f AS (
                SELECT p_id, CAST(sum(rel) AS BIGINT) AS n_rel,
                  list_reduce(list(term ORDER BY rank),
                    (a, b) -> a + b) AS dcg
                FROM rel GROUP BY p_id)
              SELECT p_id, n_rel,
                CASE WHEN n_rel = 0 THEN 0e0
                     ELSE round(dcg /
                       ([1e0, 16309297535714575e-16,
                         21309297535714578e-16, 25616063116448506e-16,
                         29484591188793923e-16, 33046663059874146e-16,
                         3637999639320748e-15, 3953464516106477e-15,
                         4254494511770458e-15, 4543559338088346e-15])
                         [CAST(n_rel AS INTEGER)], 6)
                END AS ndcg
              FROM f ORDER BY p_id""")),

    Op("llm_vocab_growth",
      // Heaps-law vocabulary-growth curve — the corpus profile that
      // sizes a tokenizer vocabulary and predicts OOV rates before
      // training one (V(n) ≈ K·n^β; the curve's flattening tells you
      // when more data stops buying new types): distinct vocabulary
      // and token totals after 10/25/50/100% of the corpus (prefix by
      // doc_id — the ingest order). The trick that keeps it ONE pass:
      // a term's contribution to every prefix is determined by its
      // FIRST occurrence (min doc_id per term — one map-combined
      // aggregate over the posting relation), so each cut is a
      // conditional count over the vocabulary relation, never a
      // re-scan; token totals are 4 conditional sums in the same
      // single doc-grain aggregate. All exact ints.
      (s, d) => {
        val docs = tokenizedDocs(s, d)
        val terms = docs.select(col("doc_id"),
            explode(array_distinct(col("toks"))).as("term"))
          .filter(col("term") =!= "")
          .groupBy("term").agg(min(col("doc_id")).as("first_doc"))
        val dstats = docs.select(col("doc_id"),
          size(array_remove(col("toks"), "")).as("ntok"))
        val m = dstats.agg((max(col("doc_id")) + 1L).as("maxd"))
        val cuts = Seq(10, 25, 50, 100)
        def cutOf(k: Int) = expr(s"maxd * $k DIV 100")
        val dCols = cuts.flatMap { k =>
          Seq(count(when(col("doc_id") < cutOf(k), 1)).as(s"nd_$k"),
            sum(when(col("doc_id") < cutOf(k), col("ntok"))
              .otherwise(0L)).cast("long").as(s"nt_$k"))
        }
        val dAgg = dstats.join(broadcast(m)).agg(dCols.head, dCols.tail: _*)
        val tCols = cuts.map { k =>
          count(when(col("first_doc") < cutOf(k), 1)).as(s"v_$k")
        }
        val tAgg = terms.join(broadcast(m)).agg(tCols.head, tCols.tail: _*)
        dAgg.join(broadcast(tAgg))
          .select(explode(array(cuts.map { k =>
            struct(lit(k).as("pct"), col(s"nd_$k").as("n_docs"),
              col(s"nt_$k").as("n_tokens"), col(s"v_$k").as("vocab"))
          }: _*)).as("r"))
          .select("r.*").orderBy("pct")
      },
      Some("""WITH tok AS (
                SELECT doc_id,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                    AS toks
                FROM documents),
              td AS (
                SELECT doc_id,
                  len(list_filter(toks, t -> t <> '')) AS ntok
                FROM tok),
              terms AS (
                SELECT u.t AS term, min(u.doc_id) AS first_doc
                FROM (SELECT doc_id, unnest(list_distinct(toks)) AS t
                      FROM tok) u
                WHERE u.t <> '' GROUP BY 1),
              m AS (SELECT max(doc_id) + 1 AS maxd FROM tok),
              c AS (
                SELECT pct, (m.maxd * pct) // 100 AS cut
                FROM (SELECT unnest([10, 25, 50, 100]) AS pct), m),
              d1 AS (
                SELECT c.pct,
                  count(CASE WHEN td.doc_id < c.cut THEN 1 END) AS n_docs,
                  CAST(coalesce(sum(CASE WHEN td.doc_id < c.cut
                    THEN td.ntok ELSE 0 END), 0) AS BIGINT) AS n_tokens
                FROM c, td GROUP BY c.pct),
              d2 AS (
                SELECT c.pct,
                  count(CASE WHEN terms.first_doc < c.cut THEN 1 END)
                    AS vocab
                FROM c, terms GROUP BY c.pct)
              SELECT CAST(d1.pct AS INTEGER) AS pct,
                CAST(d1.n_docs AS BIGINT) AS n_docs, d1.n_tokens,
                CAST(d2.vocab AS BIGINT) AS vocab
              FROM d1 JOIN d2 ON d1.pct = d2.pct
              ORDER BY pct""")),

    Op("llm_hard_negatives",
      // hard-negative mining — the contrastive-training prep step
      // (dense-retriever / embedding-model training wants, per query,
      // the nearest vectors that are NOT its class — the examples the
      // model most confuses): exact top-k over the different-label
      // candidate set via the SAME adaptive-IVF rescue path as
      // llm_simsearch (one extra label equi-join + filter applied
      // BEFORE ranking — dropping candidates only widens the rescue,
      // so exactness is preserved; same session index memo). Oracle =
      // brute force with the label exclusion, provably the same
      // exact top-k.
      (s, d) => simSearchIvfExact(Tables.embeddings(s, d), nProbes = 5,
          topK = 10, excludeSameLabel = true)
        .orderBy("p_id", "rank"),
      Some("""WITH probes AS (
                SELECT vec_id AS p_id, embedding AS p_emb, label AS p_label
                FROM embeddings WHERE vec_id < 5),
              scored AS (
                SELECT p_id, vec_id,
                  round(
                    list_reduce(list_transform(range(1, 65),
                      i -> p_emb[i]::DOUBLE * embedding[i]::DOUBLE),
                      (a, b) -> a + b)
                    / (sqrt(list_reduce(list_transform(p_emb,
                         x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))
                     * sqrt(list_reduce(list_transform(embedding,
                         x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))),
                    6) AS cosine
                FROM probes, embeddings
                WHERE embeddings.label <> probes.p_label),
              ranked AS (
                SELECT p_id, vec_id, cosine,
                  row_number() OVER (PARTITION BY p_id
                    ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM scored)
              SELECT p_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine
              FROM ranked WHERE rank <= 10
              ORDER BY p_id, rank""")),

    Op("llm_simsearch_ivf_exact",
      // the IVF PROBE PATH itself, hash-matched (VERDICT r7 #7):
      // probing nProbe = nCentroids buckets IS the exact search —
      // every vector is scored through the same cid equi-join plan the
      // approximate path uses, so the brute-force oracle applies
      // verbatim. This pins the probe machinery (rankCentroids, the
      // bucket join, the per-probe window) with a DuckDB hash, where
      // llm_simsearch pins the adaptive bound-rescue variant
      (s, d) => simSearchIvf(Tables.embeddings(s, d), nProbes = 5,
        topK = 10, nCentroids = 8, nProbe = 8)
        .orderBy("p_id", "rank"),
      Some("""WITH probes AS (
                SELECT vec_id AS p_id, embedding AS p_emb
                FROM embeddings WHERE vec_id < 5),
              scored AS (
                SELECT p_id, vec_id,
                  round(
                    list_reduce(list_transform(range(1, 65),
                      i -> p_emb[i]::DOUBLE * embedding[i]::DOUBLE),
                      (a, b) -> a + b)
                    / (sqrt(list_reduce(list_transform(p_emb,
                         x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))
                     * sqrt(list_reduce(list_transform(embedding,
                         x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))),
                    6) AS cosine
                FROM probes, embeddings),
              ranked AS (
                SELECT p_id, vec_id, cosine,
                  row_number() OVER (PARTITION BY p_id
                    ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM scored)
              SELECT p_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine
              FROM ranked WHERE rank <= 10
              ORDER BY p_id, rank""")),

    // SimHash: Spark-only hash family → no oracle; recall/precision on
    // crafted fixtures + fingerprint locality pinned in LlmSpec
    Op("llm_dedup_simhash",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val toks = tokens(col("text"))
        // high-bit clone tag — see llm_dedup_near
        val clones = docs.select(
          col("doc_id").bitwiseOR(lit(1L << 40)).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1), size(toks) - 1)).as("text"))
        simHashPairs(docs.unionByName(clones), maxHamming = 3)
          .orderBy("doc_a", "doc_b")
      },
      None),

    Op("llm_dedup_simhash_md5",
      // the hash-gated twin of llm_dedup_simhash (r20 — the
      // rendezvous_md5/abc_approx no-oracle-label audit, third
      // application): the production op's no-oracle label belongs to
      // the graft_simhash_text HASH, not to SimHash voting or Manku
      // triple-banding, so this sibling derives per-token bits from
      // md5 and runs the IDENTICAL vote→6-block→20-triple-band→
      // equi-self-join→hamming-confirm pipeline in shared integer SQL
      // — the full pair relation hash-matches DuckDB, putting the
      // banding machinery itself under the driver's gate. Clone
      // construction (drop-last-token + high-bit tag) mirrors the
      // production fixture portably. md5 costs more per token than
      // the codegen kernel, which is exactly why production keeps the
      // kernel and THIS op carries the gate; the candidate join is
      // the same (band_id, band_val) shuffle — never doc×doc.
      // r21: the fingerprint relation (md5 per token occurrence + 64
      // vote sums — the dominant cost) is the signature index a
      // production SimHash dedup maintains incrementally; it is
      // session-memoized ([[Memo]], cold build disclosed) and the
      // per-call work is bands + candidate join + hamming confirm.
      // Oracle unchanged; LlmSpec pins restructured ≡ monolithic.
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        Memo.frame("shfp", docs) {
          docs.createOrReplaceTempView("graft_shmd5_docs")
          s.sql(simhashFpSparkSql)
        }.createOrReplaceTempView("graft_shmd5_fp")
        s.sql(simhashMd5QuerySparkSql)
      },
      Some(simHashMd5Sql(sparkSide = false))),

    Op("llm_dedup_embed",
      // A REAL near-dup workload: the synthetic embeddings are
      // isotropic noise (round-1's τ=0.45 pairs were random-overlap
      // pairs straddling the threshold — a regime where NO exact
      // sub-n² algorithm exists), so the query plants deterministic
      // near-duplicates (0.9·v + 0.1·reverse(v), cos ≈ 0.994 to the
      // original, background ≤ 0.62) and detects them at τ=0.8 via
      // the banded LSH candidate path — no corpus×corpus product in
      // the plan; the oracle is the exact n² SQL over the same union.
      // Candidate-stage recall vs the brute-force scorer is pinned in
      // LlmSpec; at the operating margin the per-pair miss
      // probability is ~1e-9.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val ed = col("embedding").cast("array<double>")
        val base = emb.select(col("vec_id"), ed.as("embedding"))
        // high-bit clone tag (ADVICE r2) — additive offsets alias real
        // vec_ids once the corpus passes the offset; the oracle SQL
        // applies the same tag (| 2^40 ≡ +2^40 for ids < 2^40)
        val clones = emb.select(
          col("vec_id").bitwiseOR(lit(1L << 40)).as("vec_id"),
          zip_with(ed, reverse(ed),
            (x, y) => lit(0.9) * x + lit(0.1) * y).as("embedding"))
        embedNearDupBanded(base.unionByName(clones), tau = 0.8)
          .orderBy("vec_a", "vec_b")
      },
      Some("""WITH u AS (
                SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                FROM embeddings
                UNION ALL
                SELECT vec_id + 1099511627776,
                  list_transform(range(1, 65),
                    i -> 0.9::DOUBLE * (embedding[i]::DOUBLE)
                       + 0.1::DOUBLE * (embedding[65 - i]::DOUBLE))
                FROM embeddings),
              scored AS (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  round(
                    list_reduce(list_transform(range(1, 65),
                      i -> a.e[i] * b.e[i]), (x, y) -> x + y)
                    / (sqrt(list_reduce(list_transform(a.e,
                         x -> x * x), (x, y) -> x + y))
                     * sqrt(list_reduce(list_transform(b.e,
                         x -> x * x), (x, y) -> x + y))),
                    6) AS cosine
                FROM u a, u b
                WHERE a.vec_id < b.vec_id)
              SELECT vec_a, vec_b, cosine FROM scored
              WHERE cosine >= 0.8 ORDER BY vec_a, vec_b""")),

    Op("llm_semdedup",
      // SemDeDup (Abbas et al., arXiv 2303.09540): semantic dedup
      // where K-MEANS CLUSTERS bound the candidate space — every
      // pairwise cosine is evaluated only WITHIN a cluster, never
      // across the corpus. The complementary design point to
      // llm_dedup_embed's stateless LSH bands: the cluster index is a
      // reusable corpus artifact (here literally the session IVF
      // index — same Lloyd machinery, kernel-assigned), and the drop
      // rule composes with downstream IVF search because near-dups
      // are removed from exactly the buckets a probe would rescore.
      // Same planted-clone protocol as llm_dedup_embed (isotropic
      // noise has no real near-dups): clone = 0.9·v + 0.1·reverse(v)
      // (cos ≈ 0.994 to its source, background ≤ 0.62), verdict at
      // τ = 0.8, drop rule = smaller-vec_id representative survives.
      // C = ⌈√n⌉ balances the two quadratic ends (assign O(n·C·d) vs
      // within-cluster pairs O(n²/C·d) — both n^1.5·d at C = √n);
      // at 100 TB the paper's shape applies: train centroids on a
      // bounded sample, write the assignment as the cid-partitioned
      // table (writeIvfIndex), and cap oversized clusters by
      // sub-splitting — the same skew guard as the dedup joins'
      // df-cap. Not oracleable (seeded k-means assignment); LlmSpec
      // pins planted-clone recall, zero false drops (precision 1.0
      // against the 0.62 background margin), and the no-cross-
      // cluster-product plan shape.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val ed = col("embedding").cast("array<double>")
        val base = emb.select(col("vec_id"), ed.as("embedding"))
        val clones = emb.select(
          col("vec_id").bitwiseOR(lit(1L << 40)).as("vec_id"),
          zip_with(ed, reverse(ed),
            (x, y) => lit(0.9) * x + lit(0.1) * y).as("embedding"))
        semDedup(base.unionByName(clones), tau = 0.8)
          .orderBy("vec_id")
      },
      None),

    Op("llm_dsir_sample",
      // DSIR — importance resampling toward a target distribution
      // (Xie et al., NeurIPS 2023); see [[dsirSample]] for the
      // deterministic construction (hashed-ngram LMs, DECIMAL-
      // accumulated log weights, content-hash Gumbel draws).
      // Registered with target = the English subset: the raw corpus
      // is reweighted toward English-like text, and LlmSpec pins that
      // en documents carry higher mean log-weight and higher
      // selection rate than every other language, plus exact
      // determinism across runs. Test-only: the feature hash is
      // xxhash64 (Spark-specific) and ln is libm — neither crosses
      // the DuckDB oracle boundary.
      (s, d) => dsirSample(s, d, isTarget = col("lang") === "en")
        .orderBy("doc_id"),
      None),

    Op("llm_boilerplate_rank",
      // boilerplate detection by centrality in the shared-substring
      // graph — the cross-layer composition ([[boilerplateRank]]):
      // winnowing pairs (text layer) feed PageRank (graph layer). A
      // template shares substrings with MANY unrelated docs; each
      // single pair can sit below every dedup threshold, but the HUB
      // is unmistakable — stationary-visit probability is exactly the
      // hub measure. Top-20 for inspection; the real pipeline
      // quarantines the top slice. Test-only (PageRank's float sums
      // have no portable SQL rendering — the graph_pagerank
      // precedent); LlmSpec pins that a planted template clique
      // outranks a background chain, plus determinism of the
      // degree/edge layer.
      (s, d) => boilerplateRank(Tables.documents(s, d))
        .orderBy(col("pr").desc, col("doc_id").asc)
        .limit(20),
      None),

    Op("llm_boilerplate_rank_fixed",
      // the hash-gated twin of llm_boilerplate_rank (r20, ninth
      // no-oracle label promotion — and the first CROSS-LAYER one):
      // the float PageRank above has no portable rendering, but its
      // two layers separately do — winnow pairs are md5 arithmetic
      // (llm_winnow_pairs' green row proves kernel ≡ oracle) and the
      // fixed-point DECIMAL chain is the graph_pagerank_fixed
      // discipline — so their COMPOSITION goes under the gate: the
      // full top-20 (doc, degree, score) relation hash-matches
      // DuckDB. Spark side feeds the chain from the kernel-built
      // edge relation (persisted, outdeg hoisted); converged scores
      // session-memoized like every fixed-point rank (cold discloses
      // the winnow + chain build).
      (s, d) => {
        val scores = Memo.frameFreeing("wrankfx", Tables.documents(s, d)) {
          // r22: edge layer reads the session winnow index — the cold
          // build no longer re-runs the kernel + fp exchange that
          // llm_winnow_pairs already paid for
          val p = winnowPairsFrom(winnowPostings(s, d))
            .filter(col("n_shared") >= 2)
            .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          val edges0 = p.unionByName(
            p.select(col("dst").as("src"), col("src").as("dst")))
          val edges = edges0
            .withColumn("outdeg",
              count(lit(1)).over(org.apache.spark.sql.expressions.Window
                .partitionBy("src")).cast("long"))
            .persist()
          edges.count()
          edges.createOrReplaceTempView("graft_wr_edges")
          (s.sql(boilerRankFixedSql(sparkSide = true)), Seq(edges))
        }
        scores.orderBy(col("pr").desc, col("doc_id").asc)
      },
      Some(boilerRankFixedSql(sparkSide = false))),

    Op("llm_ngram_novelty",
      // corpus-order novelty scoring — the crawl-curation metric
      // ("how much NEW content does each snapshot add?"): a shingle
      // is credited to the FIRST document (smallest doc_id = corpus
      // arrival order) that carries it; each document's novelty is
      // the fraction of its distinct 4-gram shingles it was first to
      // introduce. Template spam and boilerplate re-crawls score near
      // 0, fresh content near 1 — the complement of the dedup family
      // (which asks "is this a copy of ONE other doc"; novelty asks
      // "how much of this is new against EVERYONE before me", without
      // enumerating pairs). Shape at 100 TB: the decontaminate shape
      // exactly — per-doc DISTINCT shingles explode once (kernel),
      // the first-seen owner is ONE map-combined min-aggregate keyed
      // by shingle content, and the credit joins back on the same
      // shingle key (both sides cluster on g — one exchange reused);
      // no doc×doc product anywhere, and the incremental form is the
      // same query with min over (corpus ∪ batch) — first-seen owners
      // are append-stable because doc_ids only grow.
      // r21 (guide §2.3/§2.4): the join-back form carried the FULL
      // postings relation through the g-exchange into a shingle-grain
      // SortMergeJoin and re-aggregated it to doc grain. Both numbers
      // are doc-grain aggregates, so compute them that way: n_shingles
      // collapses map-side (partial agg — the postings never shuffle
      // for it), n_novel = count per first-seen owner over the
      // first-doc relation (the one g-keyed exchange that is
      // fundamentally required), and a doc-grain left join stitches
      // the two ≤|docs| relations. The shingle-grain join + its
      // sort are gone; LlmSpec pins new ≡ join-form row-for-row and
      // the unchanged oracle re-proves it under the hash gate.
      (s, d) => ngramNovelty(s, d),
      Some("""WITH tk AS (
                SELECT doc_id, string_split(
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                  AS toks
                FROM documents),
              ng AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, len(toks) - 3),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    || ' ' || toks[i+3]))) AS g
                FROM tk WHERE len(toks) >= 4),
              f AS (SELECT g, min(doc_id) AS first_doc FROM ng GROUP BY g),
              a AS (
                SELECT ng.doc_id, count(*) AS n_shingles,
                  CAST(sum(CASE WHEN f.first_doc = ng.doc_id
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                FROM ng JOIN f ON ng.g = f.g GROUP BY ng.doc_id)
              SELECT doc_id, n_shingles, n_novel,
                round(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty
              FROM a ORDER BY doc_id""")),

    Op("llm_token_count",
      // whitespace tokens vs a BPE-ish regex segmentation (letter runs /
      // digit runs / single other-chars), plus compression ratio
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
            .as("bpe_tokens"),
          round(col("n_chars").cast("double") /
            size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))), 6)
            .as("chars_per_token"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
                CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                  AS INTEGER) AS bpe_tokens,
                round(CAST(n_chars AS DOUBLE) /
                  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')), 6)
                  AS chars_per_token
              FROM documents ORDER BY doc_id""")),

    Op("llm_bpe",
      // REAL learned subword tokenization (Sennrich ACL'16 BPE —
      // see [[Bpe]]) where llm_token_count keeps the cheap regex
      // profiler: 200 merges trained on the top-2048 word-count
      // sample (bounded driver metadata — the PQ-codebook
      // discipline; collect is V rows, never corpus rows), then each
      // DISTINCT word is encoded ONCE cluster-wide (vocabulary-grain
      // mapPartitions — the dictionary-stateful segmentation loop no
      // Catalyst expression composition expresses) and documents
      // pick up per-word subword counts through a word-keyed
      // equi-join + doc-grain sum. No oracle (the merge-training
      // loop has no SQL rendering); LlmSpec pins determinism,
      // round-trip, the planted most-frequent-pair merge, and the
      // per-row count invariants.
      (s, d) => {
        import s.implicits._
        val docs = tokenizedDocs(s, d)
        val occurrences = docs
          .select(col("doc_id"), explode(col("toks")).as("word"))
          .filter(col("word") =!= "")
        val wc = occurrences.groupBy("word").agg(count(lit(1)).as("cnt"))
        val sample = wc.orderBy(col("cnt").desc, col("word").asc)
          .limit(2048)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val ranks = Bpe.trainMerges(sample, 200).zipWithIndex.toMap
        val vocabEnc = wc.select("word").as[String]
          .mapPartitions { it =>
            it.map(w => (w, Bpe.encode(w, ranks).length))
          }.toDF("word", "n_sub")
        occurrences.join(vocabEnc, "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_sub").cast("long")).as("n_bpe"))
          .withColumn("bpe_per_word",
            round(col("n_bpe").cast("double") / col("n_words"), 6))
          .select("doc_id", "n_words", "n_bpe", "bpe_per_word")
          .orderBy("doc_id")
      },
      None),

    // IVF path: recall vs the exact scorer is property-tested in
    // LlmSpec (and exact when nProbe = nCentroids); no DuckDB oracle —
    // the assignment step's argmax has no portable rendering
    Op("llm_simsearch_ivf",
      // shares the IVF index memo with llm_simsearch
      (s, d) => simSearchIvf(Tables.embeddings(s, d), nProbes = 5, topK = 10)
        .orderBy("p_id", "rank"),
      None),

    Op("llm_ivf_append_probe",
      // the PRODUCTION IVF maintenance cadence as a registered query
      // (VERDICT r8 #3): build+persist an index over 4/5 of the
      // corpus, append the remaining 1/5 as the synthetic disjoint
      // batch through the EXISTING quantizer (one linear kernel pass
      // over the batch — never a rebuild, never a corpus scan), then
      // probe the GROWN disk index with the drift signal alongside.
      // Rows-only driver check; append ≡ same-quantizer rebuild is
      // pinned exactly in ScaleSpec. The BASE index is a session
      // fixture dir ([[Memo.dir]]) — a service builds its index once,
      // not per maintenance run (NEXT r9 #2) — and is hardlink-cloned
      // into a fresh run dir beside it, so the cycle under measurement
      // (append → load → probe) is the steady-state cadence; the cold
      // pass still carries (and discloses) the one-time build.
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val base = emb.filter(col("vec_id") % 5 =!= 0)
        val batch = emb.filter(col("vec_id") % 5 === 0)
        // the base index in `base/`, each run's clone in its own dir
        // beside it, so clearing the entry deletes both. The index
        // build persists nothing: this write is its one consumer.
        val root = Memo.dir("ivf_maint_base", base)(root =>
          writeIvfIndex(buildIvfIndex(base, nCentroids = 8), s"$root/base"))
        val dir = java.nio.file.Files
          .createTempDirectory(java.nio.file.Paths.get(root), "run").toString
        // clone by hardlink (same filesystem): append writes NEW files
        // and replaces the clone's centroids dir, never mutating a
        // shared inode in place — the base stays pristine
        cloneDirByLink(s"$root/base", dir)
        val drift = appendIvfIndex(s, dir, batch)
        val grown = loadIvfIndex(s, dir)
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("p_id"),
            col("embedding").cast("array<double>").as("p_emb"))
        simSearchIvfOn(grown, probes, topK = 10, nProbe = 3)
          .withColumn("drift_frac", round(lit(drift), 6))
          .orderBy("p_id", "rank")
      },
      None),

    Op("llm_train_split",
      // deterministic content-hash split assignment (90/5/5): stable
      // across runs and engines, exact dups can never straddle splits
      (s, d) => trainSplit(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""WITH s AS (
                SELECT doc_id, lang,
                  CAST(('0x' || substr(md5(lower(trim(
                    regexp_replace(text, '\s+', ' ', 'g')))), 1, 8)) AS BIGINT)
                    % 100 AS bucket
                FROM documents)
              SELECT doc_id, lang, bucket,
                CASE WHEN bucket < 90 THEN 'train'
                     WHEN bucket < 95 THEN 'validation'
                     ELSE 'test' END AS split
              FROM s ORDER BY doc_id""")),

    Op("llm_decontaminate",
      // n-gram contamination check: test docs sharing an n-token
      // shingle with any train doc, with collision counts. Registered
      // at n=4 — the synthetic shared-vocab corpus produces natural
      // collisions at that length at every SF (16/15/259 docs); real
      // pipelines dial n to 8-13 via the parameter, and a planted-leak
      // test pins the n=8 path in LlmSpec
      (s, d) => decontaminate(Tables.documents(s, d), n = 4,
        pretok = Some(tokenizedDocs(s, d))).orderBy("doc_id"),
      Some("""WITH s AS (
                SELECT doc_id,
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS txt
                FROM documents),
              sp AS (
                SELECT doc_id, txt,
                  CASE WHEN CAST(('0x' || substr(md5(txt), 1, 8)) AS BIGINT)
                         % 100 < 90 THEN 'train'
                       WHEN CAST(('0x' || substr(md5(txt), 1, 8)) AS BIGINT)
                         % 100 < 95 THEN 'validation'
                       ELSE 'test' END AS split
                FROM s),
              tk AS (
                SELECT doc_id, split, string_split(txt, ' ') AS toks
                FROM sp WHERE len(string_split(txt, ' ')) >= 4),
              ng AS (
                SELECT doc_id, split,
                  unnest(list_distinct(list_transform(
                    generate_series(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+3], ' ')))) AS ng
                FROM tk)
              SELECT t.doc_id AS doc_id,
                count(DISTINCT t.ng) AS n_shared_ngrams,
                count(DISTINCT r.doc_id) AS n_train_docs
              FROM ng t JOIN ng r ON t.ng = r.ng
              WHERE t.split = 'test' AND r.split = 'train'
              GROUP BY 1 ORDER BY doc_id""")),

    Op("llm_decontaminate_semantic",
      // SEMANTIC eval decontamination — the embedding-level
      // complement of the n-gram collision check (`llm_decontaminate`
      // catches verbatim/near-verbatim overlap; a paraphrased or
      // translated eval item shares no 8-gram but sits next to its
      // source in embedding space, the failure mode eval suites
      // actually worry about): flag TEST vectors whose cosine to ANY
      // TRAIN vector clears τ. Candidates come from the banded
      // random-hyperplane join (graft_rpbands, TEST bands ⋈ TRAIN
      // bands on (band_id, band_val) — never test×train product;
      // the llm_dedup_embed machinery pointed across two relations),
      // confirm is the exact codegen dot. Workload: content-split
      // 90/10 train/test + planted contamination (clones of every
      // 7th train vector injected as extra test rows, the
      // llm_dedup_embed clone protocol: cos ≈ 0.994 vs ≤ 0.62
      // background). Not oracleable (seeded hyperplanes); LlmSpec
      // pins precision 1.0 (only planted rows flag) and recall ≥ 0.9.
      (s, d) => {
        val ed = col("embedding").cast("array<double>")
        val base = Tables.embeddings(s, d).select(col("vec_id"), ed.as("e"))
          .withColumn("is_train",
            pmod(xxhash64(col("vec_id")), lit(10)) < 9)
        val train = base.filter(col("is_train")).select("vec_id", "e")
        val planted = train.filter(pmod(col("vec_id"), lit(7)) === 0)
          .select(col("vec_id").bitwiseOR(lit(1L << 41)).as("vec_id"),
            zip_with(col("e"), reverse(col("e")),
              (x, y) => lit(0.9) * x + lit(0.1) * y).as("e"))
        val test = base.filter(!col("is_train")).select("vec_id", "e")
          .unionByName(planted)
        def bandsOf(df: DataFrame, idc: String) =
          df.select(col("vec_id").as(idc),
              posexplode(call_function("graft_rpbands", col("e"),
                lit(16), lit(24), lit(7L))))
            .select(col(idc), col("pos").as(s"band_$idc"),
              col("col").as(s"val_$idc"))
        val cand = bandsOf(test, "tid").join(bandsOf(train, "sid"),
            col("band_tid") === col("band_sid") &&
              col("val_tid") === col("val_sid"))
          .select("tid", "sid").dropDuplicates("tid", "sid")
        val nt = test.select(col("vec_id").as("tid"), col("e").as("et"),
          sqrt(call_function("graft_dot", col("e"), col("e"))).as("nt"))
        val ns = train.select(col("vec_id").as("sid"), col("e").as("es"),
          sqrt(call_function("graft_dot", col("e"), col("e"))).as("ns"))
        val hits = cand.join(nt, "tid").join(ns, "sid")
          .filter(call_function("graft_dot", col("et"), col("es"))
            / (col("nt") * col("ns")) >= 0.8)
          .select(col("tid")).distinct()
        test.select(col("vec_id"))
          .join(hits.withColumn("hit", lit(true)),
            col("vec_id") === col("tid"), "left")
          .select(col("vec_id"),
            coalesce(col("hit"), lit(false)).as("contaminated"))
          .orderBy("vec_id")
      },
      None),

    Op("llm_decontaminate_capped",
      // the df-capped form of [[decontaminate]] under the hash gate —
      // the skew/precision guard a web-scale corpus needs registered,
      // not just available: boilerplate shingles ("all rights
      // reserved …") otherwise make one join key a train-DF × test-DF
      // hot spot AND flag unrelated docs. cap=2 provably bites on
      // this corpus (4,420 shingles dropped at sf0.1) while keeping
      // every SF's output non-empty; the oracle applies the IDENTICAL
      // cap via HAVING on the train postings, so the gate stays exact
      (s, d) => decontaminate(Tables.documents(s, d), n = 4,
        maxTrainDf = Some(2L), pretok = Some(tokenizedDocs(s, d)))
        .orderBy("doc_id"),
      Some("""WITH s AS (
                SELECT doc_id,
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS txt
                FROM documents),
              sp AS (
                SELECT doc_id, txt,
                  CASE WHEN CAST(('0x' || substr(md5(txt), 1, 8)) AS BIGINT)
                         % 100 < 90 THEN 'train'
                       WHEN CAST(('0x' || substr(md5(txt), 1, 8)) AS BIGINT)
                         % 100 < 95 THEN 'validation'
                       ELSE 'test' END AS split
                FROM s),
              tk AS (
                SELECT doc_id, split, string_split(txt, ' ') AS toks
                FROM sp WHERE len(string_split(txt, ' ')) >= 4),
              ng AS (
                SELECT doc_id, split,
                  unnest(list_distinct(list_transform(
                    generate_series(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+3], ' ')))) AS ng
                FROM tk),
              tr AS (SELECT ng, doc_id FROM ng WHERE split = 'train'),
              keep AS (SELECT ng FROM tr GROUP BY ng HAVING count(*) <= 2)
              SELECT t.doc_id AS doc_id,
                count(DISTINCT t.ng) AS n_shared_ngrams,
                count(DISTINCT r.doc_id) AS n_train_docs
              FROM ng t
              JOIN keep k ON t.ng = k.ng
              JOIN tr r ON t.ng = r.ng
              WHERE t.split = 'test'
              GROUP BY 1 ORDER BY doc_id""")),

    Op("llm_sample_stratified",
      // deterministic per-language downsampling (content-keyed, not
      // random): en kept at 40%, fr at 70%, everything else at 100%
      (s, d) => sampleStratified(Tables.documents(s, d),
          Map("en" -> 0.4, "fr" -> 0.7), defaultRate = 1.0)
        .orderBy("doc_id"),
      Some("""WITH s AS (
                SELECT doc_id, lang,
                  CAST(('0x' || substr(md5(lower(trim(
                    regexp_replace(text, '\s+', ' ', 'g')))), 1, 8)) AS BIGINT)
                    % 1000 AS bucket
                FROM documents)
              SELECT doc_id, lang, bucket
              FROM s
              WHERE bucket < CASE WHEN lang = 'en' THEN 400
                                  WHEN lang = 'fr' THEN 700
                                  ELSE 1000 END
              ORDER BY doc_id""")),

    Op("llm_simsearch_lsh",
      // stateless LSH-bucketed ANN (no index build — the streaming/
      // append-heavy trade); recall + exact-score pins in LlmSpec
      (s, d) => simSearchLsh(Tables.embeddings(s, d), nProbes = 5, topK = 10)
        .orderBy("p_id", "rank"),
      None),

    Op("llm_simsearch_lsh_md5",
      // the hash-gated twin of llm_simsearch_lsh (r20): the
      // production op's no-oracle label belongs to graft_rpbands'
      // Spark-only hyperplane RNG, not to sign-random-projection
      // banding or the candidate→exact-rescue pipeline. Rademacher
      // hyperplanes drawn from md5 parity reproduce bit-identically
      // in both engines; ±1 weights make each projection a lossless
      // sign-flip sum, DECIMAL-accumulated so the signature bits are
      // order-independent; candidates come from the same
      // (band, band_val) probe⋈corpus equi-join as production and
      // the exact cosine rescue is the shared left-fold idiom — the
      // full top-k relation hash-matches DuckDB. Production keeps
      // the codegen kernel for throughput; this twin carries the
      // gate for the banding + probe + rescue machinery.
      // r21: the per-vector Rademacher projection relation (64-row
      // explode ⋈ hyperplanes + 24 DECIMAL sums — the dominant cost)
      // is the LSH signature index; session-memoized like the IVF
      // index ([[Memo]]), per-call work = band-pack + probe join +
      // exact rescue. Oracle unchanged; LlmSpec pins restructured ≡
      // monolithic.
      (s, d) => {
        val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
        Memo.frame("lshp", emb) {
          emb.createOrReplaceTempView("graft_lshmd5_emb")
          s.sql(lshProjSparkSql)
        }.createOrReplaceTempView("graft_lshmd5_proj")
        // the probe and rescue joins read the vectors too
        emb.createOrReplaceTempView("graft_lshmd5_emb")
        s.sql(lshMd5QuerySparkSql)
      },
      Some(lshMd5Sql(sparkSide = false))),

    Op("llm_vector_ops",
      (s, d) => {
        def fold(c: Column, f: Column => Column): Column =
          aggregate(c, lit(0.0), (acc, x) => acc + f(x.cast("double")))
        Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            round(sqrt(fold(col("embedding"), x => x * x)), 6).as("l2_norm"),
            round(fold(col("embedding"), abs), 6).as("l1_norm"),
            round(fold(col("embedding"), identity) / lit(64.0), 6).as("vmean"),
            array_max(col("embedding")).as("vmax"),
            array_min(col("embedding")).as("vmin"),
            round(element_at(col("embedding"), 1).cast("double") /
              sqrt(fold(col("embedding"), x => x * x)), 6).as("unit0"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, label,
                round(sqrt(list_reduce(list_transform(embedding,
                  x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b)), 6) AS l2_norm,
                round(list_reduce(list_transform(embedding,
                  x -> abs(x::DOUBLE)), (a, b) -> a + b), 6) AS l1_norm,
                round(list_reduce(list_transform(embedding,
                  x -> x::DOUBLE), (a, b) -> a + b) / 64.0, 6) AS vmean,
                list_max(embedding) AS vmax,
                list_min(embedding) AS vmin,
                round(embedding[1]::DOUBLE /
                  sqrt(list_reduce(list_transform(embedding,
                    x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b)), 6) AS unit0
              FROM embeddings ORDER BY vec_id""")),

    Op("llm_vector_quant",
      // symmetric int8 embedding quantization (graft_quant8 kernel):
      // the compression step before storing/shipping a 100 TB
      // embedding corpus. Emits per-vector scale, the quantized
      // codes (as a CSV digest — the driver's checker sorts/hashes
      // scalar columns only), and the max reconstruction error, which
      // is bounded by scale/2 by construction — the oracle recomputes
      // all three.
      (s, d) => {
        val e = col("embedding").cast("array<double>")
        Tables.embeddings(s, d)
          .select(col("vec_id"), call_function("graft_quant8", e).as("qz"), e.as("e"))
          .select(col("vec_id"), col("qz.scale").as("scale"),
            concat_ws(",", col("qz.q").cast("array<string>")).as("q_csv"),
            round(aggregate(zip_with(col("qz.q"), col("e"),
                (qi, xi) => abs(qi * col("qz.scale") - xi)),
              lit(0.0), (acc, v) => greatest(acc, v)), 9).as("max_err"))
          .orderBy("vec_id")
      },
      Some("""WITH t AS (
                SELECT vec_id,
                  list_transform(embedding, x -> x::DOUBLE) AS e,
                  list_max(list_transform(embedding,
                    x -> abs(x::DOUBLE))) / 127.0 AS scale
                FROM embeddings),
              q AS (
                SELECT vec_id, e, scale,
                  list_transform(e, x -> CASE WHEN scale = 0 THEN 0
                    ELSE CAST(floor(x / scale + 0.5) AS INTEGER) END) AS q
                FROM t)
              SELECT vec_id, scale,
                array_to_string(q, ',') AS q_csv,
                round(list_reduce(
                  list_transform(range(1, len(q) + 1),
                    i -> abs(q[i] * scale - e[i])),
                  (a, b) -> CASE WHEN b > a THEN b ELSE a END), 9) AS max_err
              FROM q ORDER BY vec_id""")),

    Op("llm_text_stats",
      (s, d) => Tables.documents(s, d)
        .select(col("lang"), col("source"), col("n_chars"),
          size(tokens(col("text"))).as("n_toks"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks").cast("long")).as("total_tokens"),
          round(sum(col("n_toks").cast("long")).cast("double") / count(lit(1)), 6)
            .as("avg_tokens"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
            .as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang"),
      Some("""WITH t AS (
                SELECT lang, source, n_chars,
                  len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
                    AS n_toks
                FROM documents)
              SELECT lang, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS total_tokens,
                round(CAST(sum(n_toks) AS DOUBLE) / count(*), 6) AS avg_tokens,
                round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars,
                count(DISTINCT source) AS n_sources
              FROM t GROUP BY lang ORDER BY lang""")),

    Op("llm_lang_id",
      // real n-gram language ID (vs llm_text_quality's stopword
      // heuristic): character-trigram profiles per language — see
      // [[langId]]. On THIS corpus the lang labels are uncorrelated
      // with the text (shared vocab, verified), so predictions sit at
      // chance; the oracle grades the deterministic pipeline, and
      // LlmSpec proves classifier QUALITY on a planted corpus whose
      // languages genuinely differ.
      (s, d) => langId(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""WITH base AS (
                SELECT doc_id, lang,
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS txt
                FROM documents),
              tris AS (
                SELECT doc_id, lang,
                  CASE WHEN length(txt) < 3 THEN []
                    ELSE list_distinct(list_transform(
                      generate_series(1, length(txt) - 2),
                      i -> txt[i:i+2])) END AS ts
                FROM base),
              prof AS (
                SELECT plang, t FROM (
                  SELECT lang AS plang, t, count(*) AS c,
                    row_number() OVER (PARTITION BY lang
                      ORDER BY count(*) DESC, t ASC) AS rn
                  FROM (SELECT lang, unnest(ts) AS t FROM tris
                        WHERE doc_id % 5 <> 0)
                  GROUP BY lang, t) WHERE rn <= 200),
              m AS (
                SELECT d.doc_id, k.plang, count(*) AS m
                FROM (SELECT doc_id, unnest(ts) AS t FROM tris) d
                JOIN prof k ON d.t = k.t
                GROUP BY 1, 2),
              best AS (
                SELECT doc_id, plang,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY m DESC, plang ASC) AS rn
                FROM m)
              SELECT b.doc_id, b.lang, coalesce(p.plang, 'und') AS lang_pred
              FROM base b LEFT JOIN
                (SELECT doc_id, plang FROM best WHERE rn = 1) p
                ON b.doc_id = p.doc_id
              ORDER BY b.doc_id""")),

    Op("llm_text_quality",
      // quality scoring + n-gram-free language ID heuristic: stopword
      // hit-rate + token diversity (corpus text is lowercase
      // pseudo-words, so punctuation/digit ratios are degenerate here)
      (s, d) => {
        val stop = array(Seq("the", "of", "and", "to", "a", "in", "is",
          "for", "on", "with").map(lit): _*)
        val toks = tokens(col("text"))
        // quality derives from the UNROUNDED ratio: rounding an
        // already-rounded value can land exactly on a .5 boundary where
        // Spark (exact decimal) and DuckDB (fp-scaled) disagree
        val uniqRaw = size(array_distinct(toks)).cast("double") / size(toks)
        Tables.documents(s, d)
          .withColumn("n_toks", size(toks))
          .withColumn("uniq_ratio", round(uniqRaw, 6))
          .withColumn("stop_ratio", round(
            size(filter(toks, t => array_contains(stop, t))).cast("double")
              / size(toks), 6))
          .withColumn("quality", round(
            uniqRaw * 0.5 +
              least(col("n_toks").cast("double") / 50.0, lit(1.0)) * 0.5, 6))
          .withColumn("lang_guess",
            when(col("stop_ratio") > 0.02, "en_like").otherwise("other"))
          .select("doc_id", "lang", "n_toks", "uniq_ratio", "stop_ratio",
            "quality", "lang_guess")
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, lang,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                    AS toks
                FROM documents)
              SELECT doc_id, lang,
                CAST(len(toks) AS INTEGER) AS n_toks,
                round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
                  AS uniq_ratio,
                round(CAST(len(list_filter(toks, t -> t IN ('the','of','and',
                  'to','a','in','is','for','on','with'))) AS DOUBLE)
                  / len(toks), 6) AS stop_ratio,
                round(
                  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.5 +
                  least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.5, 6)
                  AS quality,
                CASE WHEN round(CAST(len(list_filter(toks, t -> t IN ('the',
                  'of','and','to','a','in','is','for','on','with')))
                  AS DOUBLE) / len(toks), 6) > 0.02
                  THEN 'en_like' ELSE 'other' END AS lang_guess
              FROM t ORDER BY doc_id""")),

    Op("llm_token_budget",
      // token-budget sampling — the data-MIXTURE step the domain-mix
      // ratios feed: a pretraining mix is specified in TOKENS per
      // source ("30B tokens of web, 5B of code"), so the sampler
      // must stop at a token budget, not a document count
      // (llm_sample_stratified keeps a per-doc FRACTION — different
      // contract). Deterministic greedy fill: docs order by
      // content-hash (md5 of normalized text — stable across runs,
      // engines, and partitionings; byte-identical dups are adjacent
      // so a budget boundary never splits them apart arbitrarily),
      // running token cumsum per lang, keep while cum ≤ budget.
      // TWO-LEVEL cumsum, because a 90%-English 100 TB corpus makes
      // `Window.partitionBy(lang)` a single ~90 TB task: each lang is
      // split 4096 ways by the first 3 hex chars of the SAME ordering
      // hash k (a string prefix, so (pfx, k, doc_id) order ≡ the
      // global (k, doc_id) order per lang). Level 1 cumsums within
      // (lang, pfx) — the largest per-task sort is corpus/4096.
      // Level 2 computes per-prefix token totals straight off the
      // base projection with a MAP-SIDE-COMBINED sum (each scan task
      // emits ≤4096·|langs| partial rows, so its shuffle is bytes,
      // not data), offsets them with an EXCLUSIVE running sum over
      // the ≤4096 prefixes of each lang (a |langs|×4096-row bounded
      // window — the agg_mode rule), and broadcasts the tiny offset
      // relation back. cum_toks = offset + within-prefix cum,
      // exactly the single-window value. The trade is a second scan
      // of the text (re-md5'd for pfx) versus the old plan's
      // single-task ~whole-corpus sort; a production run caches the
      // ~50 B/row base projection to drop the rescan too.
      (s, d) => {
        val budget = 2000L
        val nt = size(tokens(col("text")))
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), nt.as("n_toks"),
            md5(normText(col("text"))).as("k"))
          .withColumn("pfx", substring(col("k"), 1, 3))
        val wIn = org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "pfx").orderBy("k", "doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val wOff = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("pfx")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val cumIn = base.withColumn("cum_in",
          sum(col("n_toks").cast("long")).over(wIn))
        val offsets = base.groupBy("lang", "pfx")
          .agg(sum(col("n_toks").cast("long")).as("pfx_toks"))
          .withColumn("off_toks",
            coalesce(sum(col("pfx_toks")).over(wOff), lit(0L)))
          .select(col("lang").as("o_lang"), col("pfx").as("o_pfx"),
            col("off_toks"))
        // null-SAFE key equality: (a) a null lang stays one group,
        // exactly as the single window treated it; (b) no asymmetric
        // IsNotNull pushdown into just one lane, so the two subtrees
        // under the (lang, pfx) exchange stay canonically identical
        // and AQE reuses ONE scan+window for both (ReusedExchange —
        // the text is read and md5'd once)
        cumIn.join(broadcast(offsets),
            col("lang") <=> col("o_lang") && col("pfx") <=> col("o_pfx"))
          .withColumn("cum_toks", col("off_toks") + col("cum_in"))
          .filter(col("cum_toks") <= budget)
          .select("doc_id", "lang", "n_toks", "cum_toks")
          .orderBy("lang", "cum_toks", "doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, lang,
                  CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
                    AS INTEGER) AS n_toks,
                  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS k
                FROM documents),
              c AS (
                SELECT doc_id, lang, n_toks,
                  CAST(sum(CAST(n_toks AS BIGINT)) OVER (PARTITION BY lang
                    ORDER BY k, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_toks
                FROM t)
              SELECT doc_id, lang, n_toks, cum_toks
              FROM c WHERE cum_toks <= 2000
              ORDER BY lang, cum_toks, doc_id""")),

    Op("llm_blocklist_filter",
      // C4's blocklist filter (Raffel et al. 2020, "Exploring the
      // Limits of Transfer Learning..." §2.2 — the "List of Dirty,
      // Naughty..." word filter): drop any document containing a
      // blocklisted TOKEN — the bluntest and most universally
      // deployed content filter, reported per-doc like the gopher
      // battery (count + distinct hits + the keep verdict) so a
      // filtering run can audit WHAT it dropped. Token-grain match
      // via the shared tokens() kernel (substring matches would flag
      // 'class' for 'ass' — the published filter's known footgun,
      // avoided by construction here); the list itself is a stand-in
      // vocabulary (this corpus is synthetic). One codegen
      // projection, no shuffle — a map over the scan at any scale.
      (s, d) => {
        val toks = tokens(col("text"))
        val bl = array(Seq("slow", "crash", "error").map(lit): _*)
        Tables.documents(s, d)
          .withColumn("graft_toks", toks)
          .select(col("doc_id"),
            size(expr(
              "filter(graft_toks, t -> t IN ('slow', 'crash', 'error'))"))
              .as("n_flagged"),
            size(array_intersect(array_distinct(col("graft_toks")), bl))
              .as("n_distinct_flagged"))
          .withColumn("keep", col("n_flagged") === 0)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                    AS toks
                FROM documents)
              SELECT doc_id,
                CAST(len(list_filter(toks,
                  t -> t IN ('slow', 'crash', 'error'))) AS INTEGER)
                  AS n_flagged,
                CAST(len(list_intersect(list_distinct(toks),
                  ['slow', 'crash', 'error'])) AS INTEGER)
                  AS n_distinct_flagged,
                len(list_filter(toks,
                  t -> t IN ('slow', 'crash', 'error'))) = 0 AS keep
              FROM t ORDER BY doc_id""")),

    Op("llm_quality_gopher",
      // the PUBLISHED quality-filter battery (Rae et al. 2021,
      // "Scaling Language Models: ... Gopher", Appendix A) — the
      // rule set most production pretraining pipelines start from,
      // vs llm_text_quality's composite score: each rule is a named
      // boolean verdict and `keep` is their conjunction, so a
      // filtering run can report WHICH rule killed a document (the
      // operational requirement — silent quality filters are
      // undebuggable). Rules, with the paper's thresholds:
      // word count ∈ [50, 100k]; mean word length ∈ [3, 10];
      // symbol-to-word ratio (# and …) ≤ 0.1; ≥ 80% of words carry
      // an alphabetic char; bullet-started lines ≤ 90%;
      // ellipsis-ended lines ≤ 30%; ≥ 2 distinct stop words of the
      // paper's list. One codegen projection, no shuffle, no state —
      // at 100 TB this is a map over the corpus scan, exactly like
      // trainSplit. Ratios divide exact ints as doubles on BOTH
      // engines (identical quotients bit-for-bit), then round 6dp.
      // Lines split the RAW text (tokens() collapses newlines).
      (s, d) => {
        val stop = array(Seq("the", "be", "to", "of", "and",
          "that", "have", "with").map(lit): _*)
        val toks = tokens(col("text"))
        val nW = size(toks).cast("double")
        val meanLen = expr(
          "aggregate(graft_toks, 0L, (a, t) -> a + length(t))")
          .cast("double") / nW
        val alphaPct = size(expr(
          "filter(graft_toks, t -> t rlike '[a-z]')")).cast("double") / nW
        val symbols = (length(col("text")) -
          length(replace(col("text"), lit("#"), lit(""))) +
          (length(col("text")) -
            length(replace(col("text"), lit("..."), lit("")))) / 3).cast("double")
        val lines = split(col("text"), "\n")
        val nL = size(lines).cast("double")
        val bulletPct = size(expr(
          "filter(graft_lines, l -> startswith(ltrim(l), '- ') " +
            "or startswith(ltrim(l), '* ') or startswith(ltrim(l), '•'))"))
          .cast("double") / nL
        val ellipsisPct = size(expr(
          "filter(graft_lines, l -> endswith(rtrim(l), '...'))"))
          .cast("double") / nL
        val stopHits = size(array_intersect(array_distinct(toks), stop))
        Tables.documents(s, d)
          .withColumn("graft_toks", toks)
          .withColumn("graft_lines", lines)
          .select(col("doc_id"),
            size(col("graft_toks")).as("n_words"),
            round(meanLen, 6).as("mean_word_len"),
            round(alphaPct, 6).as("alpha_pct"),
            round(symbols / nW, 6).as("symbol_ratio"),
            round(bulletPct, 6).as("bullet_pct"),
            round(ellipsisPct, 6).as("ellipsis_pct"),
            stopHits.as("n_stop"),
            (size(col("graft_toks")).between(50, 100000) &&
              meanLen.between(3.0, 10.0) &&
              (symbols / nW) <= 0.1 &&
              alphaPct >= 0.8 &&
              bulletPct <= 0.9 &&
              ellipsisPct <= 0.3 &&
              stopHits >= 2).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, text,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                    AS toks,
                  string_split(text, chr(10)) AS lines
                FROM documents),
              m AS (
                SELECT doc_id,
                  CAST(len(toks) AS INTEGER) AS n_words,
                  CAST(list_sum(list_transform(toks, x -> length(x)))
                    AS DOUBLE) / len(toks) AS mean_word_len,
                  CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                    AS DOUBLE) / len(toks) AS alpha_pct,
                  (CAST(length(text) - length(replace(text, '#', ''))
                      AS DOUBLE) +
                   CAST(length(text) - length(replace(text, '...', ''))
                      AS DOUBLE) / 3) / len(toks) AS symbol_ratio,
                  CAST(len(list_filter(lines, l ->
                      starts_with(ltrim(l), '- ') OR
                      starts_with(ltrim(l), '* ') OR
                      starts_with(ltrim(l), '•')))
                    AS DOUBLE) / len(lines) AS bullet_pct,
                  CAST(len(list_filter(lines, l ->
                      ends_with(rtrim(l), '...')))
                    AS DOUBLE) / len(lines) AS ellipsis_pct,
                  CAST(len(list_intersect(list_distinct(toks),
                    ['the','be','to','of','and','that','have','with']))
                    AS INTEGER) AS n_stop
                FROM t)
              SELECT doc_id, n_words,
                round(mean_word_len, 6) AS mean_word_len,
                round(alpha_pct, 6) AS alpha_pct,
                round(symbol_ratio, 6) AS symbol_ratio,
                round(bullet_pct, 6) AS bullet_pct,
                round(ellipsis_pct, 6) AS ellipsis_pct,
                n_stop,
                (n_words BETWEEN 50 AND 100000
                  AND mean_word_len BETWEEN 3.0 AND 10.0
                  AND symbol_ratio <= 0.1
                  AND alpha_pct >= 0.8
                  AND bullet_pct <= 0.9
                  AND ellipsis_pct <= 0.3
                  AND n_stop >= 2) AS keep
              FROM m ORDER BY doc_id""")),

    Op("llm_fingerprint",
      // rolling polynomial hash over per-token xxhash64 — Spark-only
      // hash family, no oracle; determinism pinned in LlmSpec
      // shift/xor mixing instead of h*31+x: multiplicative rolling
      // hashes overflow-trap under Spark 4's default ANSI mode
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          aggregate(transform(tokens(col("text")), t => xxhash64(t)),
            lit(0L), (h, x) => shiftleft(h, 5)
              .bitwiseXOR(shiftrightunsigned(h, 27)).bitwiseXOR(x))
            .as("fingerprint"))
        .orderBy("doc_id"),
      None),

    Op("llm_ngrams_tf",
      (s, d) => {
        // bigrams via the fused graft_shingles kernel (value-identical
        // to the old transform+slice+concat_ws HOF rendering, which
        // paid interpreted lambda evals per gram); the kernel returns
        // [] below n tokens so no size guard is needed. Tokens come
        // from the session-shared [[tokenizedDocs]] memo — one corpus
        // tokenize pass feeds the whole text-analysis family
        val exploded = tokenizedDocs(s, d)
          .select(col("lang"),
            explode(call_function("graft_shingles", col("toks"), lit(2)))
              .as("ngram"))
          .groupBy("lang", "ngram").agg(count(lit(1)).as("tf"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("tf").desc, col("ngram").asc)
        exploded.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select("lang", "rank", "ngram", "tf")
          .orderBy("lang", "rank")
      },
      Some("""WITH t AS (
                SELECT lang,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                    AS toks
                FROM documents),
              g AS (
                SELECT lang, unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i + 1])) AS ngram
                FROM t),
              tf AS (
                SELECT lang, ngram, count(*) AS tf FROM g GROUP BY lang, ngram),
              ranked AS (
                SELECT lang, ngram, tf,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY tf DESC, ngram ASC) AS rank
                FROM tf)
              SELECT lang, CAST(rank AS INTEGER) AS rank, ngram, tf
              FROM ranked WHERE rank <= 5 ORDER BY lang, rank""")),

    Op("llm_dedup_containment",
      // asymmetric containment dedup ([[containmentPairs]]) on a
      // corpus ∪ half-excerpt-clones workload: each clone is the first
      // ⌈n/2⌉ tokens of its document, so clone→original containment is
      // exactly 1.0 while the pair's Jaccard is ≈0.5 — below any
      // dedup threshold, which is precisely the family Jaccard misses.
      // τ=0.9 keeps the contained-side prefixes short; candidates are
      // contained-prefix ⋈ full-postings, confirmed on the unrounded
      // ratio so the boundary agrees with the oracle bit for bit.
      // Registered WITH the df-cap skew guard (cap=16): on this corpus
      // max shingle df is 6 (sf0.01) / 8 (sf0.1) — LlmSpec pins
      // df_max < cap — so the cap provably filters nothing here and
      // the oracle (which mirrors the cap via HAVING on the b-side
      // postings) stays exact; at web scale it bounds the hot-key
      // candidate fan-out at prefix_df × 16. When the cap DOES bite,
      // Spark proposes from capped prefix postings while the oracle
      // proposes from all capped postings — a superset — so the cap
      // value must stay above the corpus df_max for oracle parity;
      // production callers dial it down knowing the recall trade.
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val toks = tokens(col("text"))
        val clones = docs.select(
          col("doc_id").bitwiseOR(lit(1L << 40)).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1),
            ((size(toks) + 1) / 2).cast("int"))).as("text"))
        containmentPairs(docs.unionByName(clones), tau = 0.9, shingleN = 5,
          maxPostingDf = Some(16L))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH raw AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT d.doc_id | (1::BIGINT << 40) AS doc_id,
                  array_to_string(tk[1:(len(tk) + 1) // 2], ' ') AS text
                FROM (SELECT doc_id, string_split(
                    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                    ' ') AS tk FROM documents) d),
              t AS (
                SELECT doc_id,
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                    AS toks
                FROM raw),
              s AS (
                SELECT doc_id,
                  CASE WHEN len(toks) >= 5 THEN
                    list_distinct(list_transform(
                      generate_series(1, len(toks) - 4),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4]))
                  ELSE [norm] END AS sh
                FROM t),
              ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
              keep AS (SELECT g FROM ex GROUP BY g HAVING count(*) <= 16),
              exb AS (SELECT e.doc_id, e.g FROM ex e JOIN keep k ON e.g = k.g),
              cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM ex a JOIN exb b ON a.g = b.g AND a.doc_id <> b.doc_id),
              j AS (
                SELECT c.doc_a, c.doc_b,
                  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                    / len(sa.sh) AS c_raw
                FROM cand c
                JOIN s sa ON sa.doc_id = c.doc_a
                JOIN s sb ON sb.doc_id = c.doc_b)
              SELECT doc_a, doc_b, round(c_raw, 6) AS containment
              FROM j WHERE c_raw >= 0.9
              ORDER BY doc_a, doc_b""")),

    Op("llm_chunking",
      // context-window chunking — the RAG / training-prep staple:
      // split each document into 64-token chunks on a 48-token stride
      // (16-token overlap so no boundary context is lost). Pure
      // per-row computation: explode over the stride grid + a slice —
      // one narrow projection, NO shuffle at all until the output
      // sort, and at 100 TB none (chunks stay co-located with their
      // document partition; the orderBy exists only for the oracle
      // compare). Complements llm_pack_sequences (which packs MANY
      // short docs into one window; this splits LONG docs across
      // windows).
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.select(col("doc_id"), tokens(col("text")).as("toks"))
          .withColumn("n", size(col("toks")))
          .withColumn("start",
            explode(sequence(lit(0), greatest(lit(0), col("n") - 1), lit(48))))
          .withColumn("ct", slice(col("toks"), col("start") + 1, lit(64)))
          .select(col("doc_id"),
            (col("start") / 48).cast("int").as("chunk_id"),
            size(col("ct")).as("n_tokens"),
            concat_ws(" ", col("ct")).as("chunk"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, string_split(
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                  AS toks
                FROM documents),
              s AS (
                SELECT doc_id, toks,
                  unnest(range(0, greatest(len(toks), 1), 48)) AS start
                FROM t),
              c AS (
                SELECT doc_id, CAST(start // 48 AS INTEGER) AS chunk_id,
                  toks[start + 1 : start + 64] AS ct
                FROM s)
              SELECT doc_id, chunk_id, CAST(len(ct) AS INTEGER) AS n_tokens,
                array_to_string(ct, ' ') AS chunk
              FROM c ORDER BY doc_id, chunk_id""")),

    Op("llm_tfidf",
      // corpus term weighting — top-5 terms per document by tf·idf.
      // idf is the LINEAR ODDS (N - df)/df, not ln(N/df): the score is
      // then one integer product and ONE IEEE-754 division, both
      // exactly specified, so Spark and DuckDB produce bit-identical
      // doubles (ln is only correctly-rounded-ish per libm and could
      // flake the hash gate; rank order is identical for any
      // monotone idf). Shuffle shape: explode → (doc, term) agg →
      // df as count() OVER (PARTITION BY term) — the df aggregate and
      // the tf⋈df join collapse into ONE term-keyed shuffle (an
      // unordered whole-partition frame needs no sort and partial-
      // aggregates nothing it shouldn't) → per-doc top-k window; N is
      // a 1-row aggregate broadcast. At 100 TB every shuffle is an
      // equi-shuffle on a natural key, the per-term partition is
      // vocabulary-bounded, and the final window is per-doc (no
      // global sort).
      (s, d) => {
        val docs = tokenizedDocs(s, d)
        val tf = docs
          .select(col("doc_id"), explode(col("toks")).as("term"))
          .filter(col("term") =!= "")
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val byTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf.withColumn("df", count(lit(1)).over(byTerm))
          .crossJoin(broadcast(n))
          .withColumn("score",
            (col("tf") * (col("n_docs") - col("df"))).cast("double") /
              col("df").cast("double"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select("doc_id", "rank", "term", "tf", "df", "score")
          .orderBy("doc_id", "rank")
      },
      Some("""WITH tk AS (
                SELECT doc_id, unnest(string_split(
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
                  AS term
                FROM documents),
              tf AS (
                SELECT doc_id, term, count(*) AS tf FROM tk
                WHERE term <> '' GROUP BY doc_id, term),
              df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
              n AS (SELECT count(*) AS n_docs FROM documents),
              scored AS (
                SELECT t.doc_id, t.term, t.tf, d.df,
                  CAST(t.tf * (n.n_docs - d.df) AS DOUBLE) / CAST(d.df AS DOUBLE)
                    AS score
                FROM tf t JOIN df d USING (term), n),
              r AS (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, term ASC) AS rank
                FROM scored)
              SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df, score
              FROM r WHERE rank <= 5 ORDER BY doc_id, rank""")),

    Op("llm_tokenizer_fertility",
      // tokenizer fertility per language — the multilingual-equity
      // metric every tokenizer paper reports (subword tokens per
      // whitespace word; a vocabulary tuned to one language fragments
      // the others, inflating their compute cost and shrinking their
      // effective context — fertility is the number that shows it):
      // whitespace vs BPE-ish regex segmentation (llm_token_count's
      // expressions, aggregated per lang instead of per doc), plus
      // chars per subword token. ONE map-combined aggregate to
      // |langs| rows; exact int sums, IEEE ratios. Word counts run on
      // whitespace-NORMALIZED text (trim + \s+ collapse, the shared
      // tokens() discipline): Spark's split drops trailing empties
      // while DuckDB's string_split keeps them, so un-normalized text
      // with trailing/consecutive spaces would diverge between the
      // engines.
      (s, d) => Tables.documents(s, d)
        .groupBy("lang")
        .agg(
          sum(size(split(trim(regexp_replace(col("text"), "\\s+", " ")), " "))
            .cast("long"))
            .as("ws_tokens"),
          sum(size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long"))
            .as("bpe_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .selectExpr("lang", "ws_tokens", "bpe_tokens",
          "round(CAST(bpe_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE), 6) AS fertility",
          "round(CAST(n_chars AS DOUBLE) / CAST(bpe_tokens AS DOUBLE), 6) AS chars_per_token")
        .orderBy("lang"),
      Some("""SELECT lang,
                CAST(sum(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))) AS BIGINT)
                  AS ws_tokens,
                CAST(sum(len(regexp_extract_all(text,
                  '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT)
                  AS bpe_tokens,
                round(CAST(sum(len(regexp_extract_all(text,
                    '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE)
                  / CAST(sum(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))) AS DOUBLE), 6)
                  AS fertility,
                round(CAST(sum(n_chars) AS DOUBLE)
                  / CAST(sum(len(regexp_extract_all(text,
                    '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE), 6)
                  AS chars_per_token
              FROM documents GROUP BY lang ORDER BY lang""")),

    Op("llm_context_fit",
      // context-window fit report — the one-aggregate readout that
      // decides a trainer's sequence-length config before
      // llm_pack_sequences runs (what fraction of documents fit, and
      // what share of TOKENS a hard truncation at each window would
      // discard — doc-fit and token-loss disagree exactly when long
      // docs carry the mass): conditional sums over per-doc
      // whitespace token counts at three windows (16/64/256 —
      // parameters sized to the fixture's 10–99-token docs; a
      // production corpus swaps in 2k/8k/32k, the plan is identical).
      // ONE map-combined aggregate collapses the corpus to a single
      // row; all exact ints + one IEEE share per window. Token counts
      // run on whitespace-normalized text (same reason as
      // llm_tokenizer_fertility: Spark split vs DuckDB string_split
      // disagree on trailing empties).
      (s, d) => {
        val n = size(split(trim(regexp_replace(col("text"), "\\s+", " ")), " "))
        def fit(w: Int) = Seq(
          sum(when(n <= w, 1L).otherwise(0L)).as(s"docs_fit_$w"),
          sum(greatest(n.cast("long") - w, lit(0L))).as(s"tok_lost_$w"))
        val aggs = count(lit(1)).as("n_docs") +:
          sum(n.cast("long")).as("n_tokens") +:
          (fit(16) ++ fit(64) ++ fit(256))
        Tables.documents(s, d)
          .agg(aggs.head, aggs.tail: _*)
          .selectExpr(("n_docs" +: "n_tokens" +:
            Seq(16, 64, 256).flatMap(w => Seq(
              s"docs_fit_$w",
              s"tok_lost_$w",
              s"round(CAST(tok_lost_$w AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS loss_share_$w"))): _*)
      },
      Some("""WITH n AS (
                SELECT CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n
                FROM documents),
              a AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n) AS BIGINT) AS n_tokens,
                  CAST(sum(CASE WHEN n <= 16 THEN 1 ELSE 0 END) AS BIGINT) AS docs_fit_16,
                  CAST(sum(greatest(n - 16, 0)) AS BIGINT) AS tok_lost_16,
                  CAST(sum(CASE WHEN n <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS docs_fit_64,
                  CAST(sum(greatest(n - 64, 0)) AS BIGINT) AS tok_lost_64,
                  CAST(sum(CASE WHEN n <= 256 THEN 1 ELSE 0 END) AS BIGINT) AS docs_fit_256,
                  CAST(sum(greatest(n - 256, 0)) AS BIGINT) AS tok_lost_256
                FROM n)
              SELECT n_docs, n_tokens,
                docs_fit_16, tok_lost_16,
                round(CAST(tok_lost_16 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS loss_share_16,
                docs_fit_64, tok_lost_64,
                round(CAST(tok_lost_64 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS loss_share_64,
                docs_fit_256, tok_lost_256,
                round(CAST(tok_lost_256 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS loss_share_256
              FROM a""")),

    Op("llm_zipf_slope",
      // Zipf rank-frequency fit — the corpus-health one-liner
      // (natural language sits near slope −1; a much flatter slope
      // means templated/synthetic text, much steeper means a
      // degenerate vocabulary — the fastest smell test on a new
      // crawl feed, beside llm_unigram_entropy's usage read): OLS of
      // ln(freq) on ln(rank) over the top-100 terms. The rank window
      // runs on the ALREADY-CUT 100-row relation (TakeOrdered makes
      // the cut — no global sort materializes the vocabulary); ln
      // terms round at 10dp and re-accumulate through DECIMAL (acf
      // dsum rule), finish is one shared fixed IEEE sequence.
      (s, d) => {
        val cnt = tokenizedDocs(s, d)
          .select(explode(col("toks")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("c"))
        cnt.orderBy(col("c").desc, col("term")).limit(100)
          .withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("c").desc, col("term"))))
          .createOrReplaceTempView("graft_zipf_top")
        s.sql(zipfFinishSql(
          "WITH ranked AS (SELECT c, r FROM graft_zipf_top)"))
      },
      Some(zipfFinishSql("""WITH tk AS (
                SELECT string_split(
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                  ' ') AS t
                FROM documents),
              tok AS (SELECT unnest(t) AS term FROM tk),
              cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
              top AS (SELECT term, c FROM cnt
                      ORDER BY c DESC, term LIMIT 100),
              ranked AS (
                SELECT c, row_number() OVER (ORDER BY c DESC, term)
                  AS r
                FROM top)"""))),

    Op("llm_unigram_entropy",
      // per-language unigram entropy + type/token ratio — the
      // information-density read beside llm_vocab_growth (growth says
      // how the vocabulary SCALES; entropy says how it is USED: low
      // H = boilerplate-heavy/repetitive corpus, H near ln(vocab) =
      // flat, diverse). Counts collapse to the (lang, term) vocab
      // relation map-side; per-lang totals are a |langs|-row
      // broadcast joined back (NOT a per-lang whole-partition window
      // — one partition per language over a 100 TB vocabulary is the
      // llm_token_budget hazard); each p·ln p term rounds at 10dp
      // and re-accumulates through DECIMAL (the acf dsum rule —
      // vocab-sized double sums are NOT under the 6dp round's
      // protection, unlike agg_entropy's ≤|langs| terms).
      (s, d) => {
        val cnt = tokenizedDocs(s, d)
          .select(col("lang"), explode(col("toks")).as("term"))
          .groupBy("lang", "term").agg(count(lit(1)).as("n"))
        val tot = cnt.groupBy("lang")
          .agg(sum(col("n")).as("t"), count(lit(1)).as("vocab"))
        cnt.join(broadcast(tot), "lang")
          .groupBy("lang")
          .agg(
            max(col("t")).cast("long").as("n_tokens"),
            max(col("vocab")).cast("long").as("vocab"),
            expr("CAST(round(-sum(CAST(round((CAST(n AS DOUBLE) / CAST(t AS DOUBLE)) * ln(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)), 10) AS DECIMAL(38,10))), 6) AS DOUBLE)")
              .as("entropy"))
          .withColumn("ttr",
            expr("round(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)"))
          .orderBy("lang")
      },
      Some("""WITH tk AS (
                SELECT lang, string_split(
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                  ' ') AS t
                FROM documents),
              tok AS (SELECT lang, unnest(t) AS term FROM tk),
              cnt AS (
                SELECT lang, term, count(*) AS n
                FROM tok GROUP BY lang, term),
              tt AS (
                SELECT lang, CAST(sum(n) AS BIGINT) AS t,
                  CAST(count(*) AS BIGINT) AS vocab
                FROM cnt GROUP BY lang)
              SELECT cnt.lang,
                CAST(max(tt.t) AS BIGINT) AS n_tokens,
                CAST(max(tt.vocab) AS BIGINT) AS vocab,
                CAST(round(-sum(CAST(round((CAST(n AS DOUBLE) / CAST(t AS DOUBLE)) * ln(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)), 10) AS DECIMAL(38,10))), 6) AS DOUBLE) AS entropy,
                round(CAST(max(tt.vocab) AS DOUBLE)
                  / CAST(max(tt.t) AS DOUBLE), 6) AS ttr
              FROM cnt JOIN tt ON cnt.lang = tt.lang
              GROUP BY cnt.lang ORDER BY cnt.lang""")),

    Op("llm_bigram_kn",
      // interpolated Kneser–Ney bigram probabilities (Kneser & Ney
      // 1995; Chen & Goodman 1999's winner) — the smoothing that
      // separates a toy bigram model (llm_bigram_lm's raw c2/c1)
      // from one usable for scoring: absolute discount D=0.75 frees
      // mass per history, redistributed by CONTINUATION counts ("how
      // many distinct histories precede w2"), which fixes the
      // "Francisco" pathology (frequent only after "San" ⇒ low
      // continuation probability despite high raw count).
      //   p_KN(w2|w1) = max(c(w1w2)−D, 0)/c(w1·)
      //               + D·N1+(w1·)/c(w1·) · N1+(·w2)/|bigram types|
      // Every operand is an exact integer off the SAME vocab-keyed
      // count relation (sum/count windows per w1; one map-combined
      // count per w2; 1-row type total broadcast); the finish is ONE
      // shared expression string evaluated on identical longs ⇒
      // bit-identical doubles on both engines. Shuffles carry vocab²
      // counts (map-side combined), never tokens; top-20 is
      // TakeOrdered, not a global sort.
      (s, d) => {
        val cnt = tokenizedDocs(s, d)
          .select(explode(call_function("graft_shingles",
            col("toks"), lit(2))).as("bigram"))
          .groupBy("bigram").agg(count(lit(1)).as("c2"))
          .select(col("bigram"), col("c2"),
            substring_index(col("bigram"), " ", 1).as("w1"),
            substring_index(col("bigram"), " ", -1).as("w2"))
        val byW1 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("w1"))
        val byW2 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("w2"))
        val t = cnt.select(col("bigram"), col("c2"),
          sum(col("c2")).over(byW1).as("c1"),
          count(lit(1)).over(byW1).as("npost"),
          count(lit(1)).over(byW2).as("npre"))
        val tot = cnt.agg(count(lit(1)).cast("long").as("tbig"))
        t.crossJoin(broadcast(tot))
          .selectExpr("bigram", "CAST(c2 AS BIGINT) AS c2", knFinishSql)
          .orderBy(col("c2").desc, col("bigram")).limit(20)
      },
      Some(s"""WITH tk AS (
                 SELECT string_split(
                   lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                   ' ') AS t
                 FROM documents),
               bg AS (
                 SELECT unnest(list_transform(range(1, len(t)),
                   i -> t[i] || ' ' || t[i+1])) AS bigram
                 FROM tk WHERE len(t) >= 2),
               cnt AS (
                 SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
               spl AS (
                 SELECT bigram, c2, split_part(bigram, ' ', 1) AS w1,
                   split_part(bigram, ' ', 2) AS w2
                 FROM cnt),
               c1t AS (
                 SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS npost
                 FROM spl GROUP BY w1),
               pre AS (
                 SELECT w2, CAST(count(*) AS BIGINT) AS npre
                 FROM spl GROUP BY w2),
               tt AS (SELECT CAST(count(*) AS BIGINT) AS tbig FROM cnt)
               SELECT s.bigram, CAST(s.c2 AS BIGINT) AS c2, $knFinishSql
               FROM spl s JOIN c1t c ON s.w1 = c.w1
                 JOIN pre p ON s.w2 = p.w2 CROSS JOIN tt
               ORDER BY c2 DESC, bigram LIMIT 20""")),

    Op("llm_bigram_lm",
      // corpus n-gram language model — bigram conditional probability
      // P(w2|w1) = count(w1 w2)/count(w1 ·), the statistic behind
      // next-token baselines, corpus-drift monitors, and boilerplate
      // detectors. Same exactness design as llm_tfidf: counts are
      // integers, the probability is ONE IEEE division of exact
      // operands ⇒ bit-identical doubles, no rounding. Shuffle shape:
      // explode → (w1,w2) hash agg (map-side combined, so the shuffle
      // carries vocab², not tokens) → w1-continuations via an
      // unordered whole-partition window fused into the SAME
      // vocab-keyed relation (the df-fusion trick — no second
      // aggregate-join over the corpus). The c2 floor bounds the
      // report; at 100 TB it is also the noise gate.
      //
      // Bigram construction is the codegen'd graft_shingles kernel
      // (n=2), NOT transform(sequence)+element_at: that HOF chain
      // keeps the whole Project interpreted (the recorded r10
      // lesson) and measured 7.8 s at sf0.1 — the kernel form runs
      // the same stage in a whole-stage-codegen span. A <2-token doc
      // yields an empty shingle array, so explode drops it with no
      // separate filter.
      (s, d) => {
        val bi = tokenizedDocs(s, d)
          .select(explode(call_function("graft_shingles",
            col("toks"), lit(2))).as("bigram"))
        val byW1 = org.apache.spark.sql.expressions.Window
          .partitionBy(substring_index(col("bigram"), " ", 1))
        bi.groupBy("bigram").agg(count(lit(1)).as("c2"))
          .withColumn("c1", sum(col("c2")).over(byW1))
          .filter(col("c2") >= 5)
          .select(col("bigram"), col("c2"), col("c1"),
            (col("c2").cast("double") / col("c1").cast("double")).as("p"))
          .orderBy("bigram")
      },
      Some("""WITH tk AS (
                SELECT string_split(
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
                FROM documents),
              bg AS (
                SELECT unnest(list_transform(range(1, len(t)),
                  i -> t[i] || ' ' || t[i+1])) AS bigram
                FROM tk WHERE len(t) >= 2),
              cnt AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
              win AS (SELECT bigram, c2,
                        sum(c2) OVER (PARTITION BY split_part(bigram, ' ', 1))
                          AS c1
                      FROM cnt)
              SELECT bigram, c2, CAST(c1 AS BIGINT) AS c1,
                CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
              FROM win WHERE c2 >= 5 ORDER BY bigram""")),

    Op("llm_lm_score",
      // per-document fluency scoring under the corpus bigram LM —
      // the quality-filter stage a perplexity filter implements
      // (Wenzek et al.'s CCNet keeps documents a reference LM finds
      // probable). Scores are LINEAR-space statistics of the
      // conditional probabilities P(w2|w1): mean (via the DECIMAL
      // accumulator, order-independent) and min (exact selection) —
      // deliberately NOT log-perplexity, because ln is libm-dependent
      // across engines (the recorded bm25 lesson); a monotone
      // transform ranks documents identically, and the geometric-mean
      // form is pinned in LlmSpec instead where only Spark evaluates
      // it. The model is self-trained with NO count floor and no
      // smoothing: every document bigram is in the model by
      // construction, so p = c2/c1 is ONE IEEE division of exact
      // integers. Shuffle shape at 100 TB: doc bigrams aggregate
      // map-side to the vocab² model once (same exchange the
      // llm_bigram_lm family uses); scoring is a bigram-keyed
      // equi-join of the exploded doc bigrams against that model,
      // then a doc-keyed re-aggregate — two bounded shuffles, no
      // per-doc state beyond three numbers.
      (s, d) => lmScores(s, d).orderBy("doc_id"),
      Some(lmScoreCteSql +
        """SELECT doc_id, n_bigrams, avg_p, min_p
           FROM ds ORDER BY doc_id""")),

    Op("llm_ccnet_buckets",
      // the CCNet head/middle/tail split (Wenzek et al., LREC 2020):
      // documents ranked per LANGUAGE by their fluency under the
      // reference LM, then cut into terciles — the published recipe
      // trains on "head" first and drops or deprioritizes "tail".
      // Composition of two oracled pieces: the shared bigram-LM
      // scoring chain ([[lmScores]] — linear-space avg_p, same
      // two-shuffle shape) and an ntile(3) window per lang with the
      // doc_id tiebreak (avg_p is a 6dp-rounded aggregate, so exact
      // ties are possible — the unique key makes bucket assignment
      // total-order deterministic in both engines; the §5.2
      // discipline). Per-lang ntile is a per-partition sort of the
      // |docs-per-lang| scored relation, never raw text; at 100 TB
      // the cut points come from approx-percentile instead of a full
      // sort (the agg_histogram_equidepth trade, same substitute).
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("avg_p").desc, col("doc_id"))
        lmScores(s, d)
          .join(tokenizedDocs(s, d).select("doc_id", "lang"), "doc_id")
          .withColumn("tercile", ntile(3).over(w))
          .select(col("doc_id"), col("lang"), col("avg_p"),
            when(col("tercile") === 1, "head")
              .when(col("tercile") === 2, "middle")
              .otherwise("tail").as("bucket"))
          .orderBy("doc_id")
      },
      Some(lmScoreCteSql +
        """, lb AS (
             SELECT ds.doc_id, documents.lang, ds.avg_p,
               ntile(3) OVER (PARTITION BY documents.lang
                 ORDER BY ds.avg_p DESC, ds.doc_id) AS tercile
             FROM ds JOIN documents ON ds.doc_id = documents.doc_id)
           SELECT doc_id, lang, avg_p,
             CASE WHEN tercile = 1 THEN 'head'
                  WHEN tercile = 2 THEN 'middle'
                  ELSE 'tail' END AS bucket
           FROM lb ORDER BY doc_id""")),

    Op("llm_dedup_canonical",
      // canonicalization dedup — the cheapest dedup family member:
      // case folding + punctuation strip + whitespace collapse, then
      // EXACT dedup on the canonical form. Catches the re-encodes,
      // re-wraps and shouting copies that are byte-distinct but
      // textually identical (llm_dedup_exact misses them; MinHash
      // finds them at 1000× the cost). Planted messy clones
      // (high-bit-tagged ids, uppercased + padded + '!!') prove each
      // group collapses. One codegen'd projection + one hash agg
      // keyed by the canonical md5 — shuffle carries (16-byte key,
      // id) pairs only; the same shape at 100 TB.
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val messy = docs.select(
          col("doc_id").bitwiseOR(lit(1L << 40)).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" !!")).as("text"))
        val canon = lower(trim(regexp_replace(
          regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""), " +", " ")))
        docs.unionByName(messy)
          .select(col("doc_id"), md5(canon).as("canon_key"))
          .groupBy("canon_key")
          .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
          .orderBy("keeper")
      },
      Some("""WITH all_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1099511627776,
                  '  ' || upper(text) || ' !!' FROM documents),
              c AS (SELECT doc_id,
                      md5(lower(trim(regexp_replace(regexp_replace(text,
                        '[^a-zA-Z0-9 ]', '', 'g'), ' +', ' ', 'g')))) AS canon_key
                    FROM all_docs)
              SELECT canon_key, min(doc_id) AS keeper, count(*) AS n_copies
              FROM c GROUP BY canon_key ORDER BY keeper""")),

    Op("llm_dedup_substring",
      // EXACT substring dedup (Lee et al. 2022, "Deduplicating
      // Training Data Makes Language Models Better" — ExactSubstr):
      // find document pairs sharing an exact run of ≥ w tokens, and
      // report HOW LONG the longest shared run is. The paper builds
      // a suffix array; the distributed re-expression is ALL w-token
      // windows → postings self-join ON THE WINDOW (collisions meet
      // in hash buckets — the decontaminate shape, never doc×doc) →
      // per-pair run CHAINING: matched positions (pa, pb) on the
      // same diagonal (pa − pb) with consecutive pa form one island
      // (pa − row_number is constant exactly on an unbroken run —
      // gaps-and-islands), so max_run_tokens = longest island + w−1.
      // This is the exact sibling of llm_fingerprint_winnow (which
      // SAMPLES windows): winnow is the first-pass scale path,
      // ExactSubstr the confirming exact form — linear in total
      // tokens (windows ≈ tokens), one content-keyed shuffle that
      // takes the sizing law, no quadratic anything. Workload =
      // corpus ∪ head-truncated clones (the dedup-family recall
      // convention): every clone shares its full remaining run with
      // its source, so max_run must reach the clone's length. Fully
      // oracled: DuckDB computes the identical windows/join/islands.
      //
      // r16: the posting rows carry the window as the graft_window_
      // hashes 128-bit pair (16 B) instead of the joined 20-token
      // STRING (~120 B measured) — the r15 verdict's named fix for
      // the registry's heaviest constant factor. Window equality ⇔
      // (h1, h2) equality up to a simultaneous collision of two
      // independent 64-bit lanes (~2⁻¹²⁸ — the residual the md5
      // group key in llm_dedup_canonical already accepts as exact;
      // the oracle keeps joining the real strings, so the hash gate
      // PROVES the equivalence on every run). NOTE the r15 two-stage
      // variant (hash candidates → per-pair token-slice confirm) was
      // measured WORSE (x64 warm 14.1 → 27.5 s: confirm joins ship
      // doc-grain token arrays through two SMJs) — this is the
      // single-join form, just with a 6× narrower shuffle row.
      (s, d) => {
        val w = 20
        // r22: the (doc_id, p, h1, h2) window-hash posting relation —
        // tokenize + the WindowHashes kernel over every document, the
        // dominant per-call cost — is the suffix-index a production
        // ExactSubstr pipeline maintains per corpus snapshot; session-
        // memoized ([[Memo]]), REPARTITIONED BY h1 inside the build
        // so both join sides read the index already clustered on the
        // first join key (EnsureRequirements accepts hash(h1)/hash(h1_b)
        // as co-partitioned for the (h1,h2) equi join — no per-call
        // posting exchange). Per-call work = the self-join + island
        // windows + aggregates. Oracle unchanged.
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val wins = Memo.frame("sswin", docs) {
          val toks = tokens(col("text"))
          val clones = docs.select(
            col("doc_id").bitwiseOR(lit(1L << 40)).as("doc_id"),
            concat_ws(" ", slice(toks, lit(2), size(toks))).as("text"))
          val all = docs.unionByName(clones)
            .select(col("doc_id"), tokens(col("text")).as("toks"))
          val winHashes = org.apache.spark.sql.graftbridge.Bridge.column(
            graft.functions.WindowHashes(
              org.apache.spark.sql.graftbridge.Bridge.expr(col("toks")), w))
          Scale.repartitionSized(Scale.sizedShuffle(docs),
            all.select(col("doc_id"), posexplode(winHashes))
              .select(col("doc_id"), (col("pos") + 1).as("p"),
                col("col.h1").as("h1"), col("col.h2").as("h2")),
            col("h1"))
        }
        val a = wins.select(
          col("doc_id").as("doc_a"), col("p").as("pa"),
          col("h1"), col("h2"))
        val b = wins.select(
          col("doc_id").as("doc_b"), col("p").as("pb"),
          col("h1").as("h1_b"), col("h2").as("h2_b"))
        val matched = a.join(b,
            col("h1") === col("h1_b") && col("h2") === col("h2_b") &&
              col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"),
            (col("pa") - col("pb")).as("diag"))
        val wi = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
        matched
          .withColumn("isl", col("pa") - row_number().over(wi))
          .groupBy("doc_a", "doc_b", "diag", "isl")
          .agg(count(lit(1)).as("run_wins"))
          .groupBy("doc_a", "doc_b")
          .agg(sum(col("run_wins")).as("n_matches"),
            (max(col("run_wins")) + lit(w - 1)).cast("long")
              .as("max_run_tokens"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH raw AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id | (1::BIGINT << 40),
                  array_to_string(list_slice(
                    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                    2, 100000000), ' ')
                FROM documents),
              t AS (
                SELECT doc_id,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                    AS toks
                FROM raw),
              wins AS (
                SELECT doc_id, CAST(i AS BIGINT) AS p,
                  array_to_string(toks[i:i+19], ' ') AS win
                FROM t, unnest(CASE WHEN len(toks) >= 20
                    THEN generate_series(1, len(toks) - 19)
                    ELSE [] END) AS u(i)),
              m AS (
                SELECT x.doc_a, x.doc_b, x.pa, x.pb, x.pa - x.pb AS diag
                FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.p AS pa, b.p AS pb
                      FROM wins a JOIN wins b
                        ON a.win = b.win AND a.doc_id < b.doc_id) x),
              isl AS (
                SELECT doc_a, doc_b, diag,
                  pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                    ORDER BY pa) AS isl_id
                FROM m),
              runs AS (
                SELECT doc_a, doc_b, diag, isl_id,
                  count(*) AS run_wins
                FROM isl GROUP BY 1, 2, 3, 4)
              SELECT doc_a, doc_b,
                CAST(sum(run_wins) AS BIGINT) AS n_matches,
                CAST(max(run_wins) + 19 AS BIGINT) AS max_run_tokens
              FROM runs GROUP BY 1, 2
              ORDER BY doc_a, doc_b""")),

    Op("llm_dedup_paragraph",
      // paragraph-grain dedup — the CCNet/RefinedWeb move the
      // DOC-grain dedup family can't make: boilerplate paragraphs
      // (headers, license blocks, navigation) repeat across millions
      // of otherwise-distinct pages, so dedup below the document
      // boundary removes the repetition while keeping the documents.
      // "Paragraph" here = consecutive 8-token chunks (the corpus is
      // single-line, so a fixed token window stands in for line
      // breaks); each chunk is kept only at its FIRST occurrence
      // corpus-wide (ordered by doc_id then position — a total
      // order), and documents are reassembled from their surviving
      // chunks. Planted full clones (high-bit-tagged ids, every 7th
      // doc) must come back with zero kept paragraphs — every chunk
      // already occurred in the original (the hash gate proves it on
      // every row). Shape at 100 TB: the shuffle is keyed by the
      // 16-byte chunk hash (never the chunk text twice — the rn=1
      // filter truncates map-side via WindowGroupLimit); reassembly
      // shuffles surviving chunks once on doc_id. No all-pairs
      // anything — this is exact dedup at a finer grain, same
      // hash-shuffle scaling as llm_dedup_exact.
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val allDocs = docs.unionByName(
          docs.filter(col("doc_id") % 7 === 0)
            .select((col("doc_id") + lit(2199023255552L)).as("doc_id"),
              col("text")))
        val par = allDocs
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(col("doc_id"), explode(expr(
            """transform(sequence(0, CAST(ceil(size(t)/8.0) AS INT) - 1),
               i -> struct(i AS pos, array_join(slice(t, i*8+1, 8), ' ')
                           AS par))""")).as("c"))
          .select(col("doc_id"), col("c.pos").as("pos"), col("c.par").as("par"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("par"))).orderBy("doc_id", "pos")
        val kept = par.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("par")))),
              x => x.getField("par")), " ").as("new_text"))
        allDocs
          .select(col("doc_id"),
            ceil(size(split(col("text"), " ")) / 8.0).cast("long").as("n_par"))
          .join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_par"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            md5(coalesce(col("new_text"), lit(""))).as("kept_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH all_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 2199023255552, text FROM documents
                WHERE doc_id % 7 = 0),
              tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM all_docs),
              ch AS (
                SELECT doc_id,
                  unnest(list_transform(range(0, CAST(ceil(len(t)/8.0) AS INT)),
                    i -> struct_pack(pos := i,
                      par := array_to_string(t[i*8+1 : i*8+8], ' ')))) AS c
                FROM tk),
              par AS (SELECT doc_id, c.pos AS pos, c.par AS par FROM ch),
              keep AS (
                SELECT doc_id, pos, par,
                  row_number() OVER (PARTITION BY md5(par)
                    ORDER BY doc_id, pos) AS rn
                FROM par),
              agg AS (
                SELECT doc_id, count(*) AS n_kept,
                  string_agg(par, ' ' ORDER BY pos) AS new_text
                FROM keep WHERE rn = 1 GROUP BY doc_id),
              base AS (SELECT doc_id,
                         CAST(ceil(len(string_split(text, ' '))/8.0) AS BIGINT)
                           AS n_par
                       FROM all_docs)
              SELECT b.doc_id AS doc_id, b.n_par,
                coalesce(a.n_kept, 0) AS n_kept,
                md5(coalesce(a.new_text, '')) AS kept_md5
              FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
              ORDER BY b.doc_id""")),

    Op("llm_cooccur_lift",
      // term co-occurrence lift — market-basket association over
      // documents: lift(a,b) = P(a,b)/(P(a)·P(b)) = (n·c_ab)/(c_a·c_b)
      // with DOCUMENT frequencies, so every operand is an exact
      // integer and the score is integer products + ONE IEEE division
      // ⇒ bit-identical across engines (the llm_tfidf design; log-pmi
      // would be libm-dependent, and lift is the same ranking).
      // Shape: per-doc DISTINCT terms → in-doc pair explosion via
      // self-join on doc_id (bounded by per-doc vocabulary² — the
      // market-basket standard; at 100 TB add a df cap on the posting
      // side exactly like llm_decontaminate_capped to guard
      // boilerplate hot terms) → map-combined pair counts; df counts
      // ride a broadcast (vocabulary-bounded). The c_ab floor bounds
      // the report to recurring associations.
      (s, d) => {
        val docs = tokenizedDocs(s, d)
        val tk = docs.select(col("doc_id"),
          explode(array_distinct(col("toks"))).as("term"))
          .filter(col("term") =!= "")
        val cnt = tk.groupBy("term").agg(count(lit(1)).as("c"))
        val pairs = tk.as("a")
          .join(tk.as("b"), col("a.doc_id") === col("b.doc_id") &&
            col("a.term") < col("b.term"))
          .groupBy(col("a.term").as("t1"), col("b.term").as("t2"))
          .agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 10)
        val n = docs.agg(count(lit(1)).as("nd"))
        pairs
          .join(broadcast(cnt.select(col("term").as("t1"), col("c").as("c_a"))), "t1")
          .join(broadcast(cnt.select(col("term").as("t2"), col("c").as("c_b"))), "t2")
          .crossJoin(broadcast(n))
          .select(col("t1"), col("t2"), col("c_ab"), col("c_a"), col("c_b"),
            ((col("c_ab") * col("nd")).cast("double") /
              (col("c_a") * col("c_b")).cast("double")).as("lift"))
          .orderBy("t1", "t2")
      },
      Some("""WITH tk AS (
                SELECT doc_id, unnest(list_distinct(string_split(
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')))
                  AS term
                FROM documents),
              tkf AS (SELECT doc_id, term FROM tk WHERE term <> ''),
              cnt AS (SELECT term, count(*) AS c FROM tkf GROUP BY term),
              pr AS (
                SELECT a.term AS t1, b.term AS t2, count(*) AS c_ab
                FROM tkf a JOIN tkf b
                  ON a.doc_id = b.doc_id AND a.term < b.term
                GROUP BY 1, 2 HAVING count(*) >= 10),
              n AS (SELECT count(*) AS nd FROM documents)
              SELECT t1, t2, c_ab, ca.c AS c_a, cb.c AS c_b,
                CAST(c_ab * nd AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE)
                  AS lift
              FROM pr, n
              JOIN cnt ca ON pr.t1 = ca.term
              JOIN cnt cb ON pr.t2 = cb.term
              ORDER BY t1, t2""")),

    Op("llm_bm25",
      // BM25 ranking (k1=1.2, b=0.75) — the IR scoring function
      // retrieval corpora are actually indexed with; top-3 terms per
      // document. Exactness across engines WITHOUT rounding: idf is
      // llm_tfidf's linear odds (N−df)/df (ln is libm-dependent; any
      // monotone idf ranks identically), every operand starts as an
      // exact integer, constants are written in exponent form (22e-1
      // parses as DOUBLE in both engines where 2.2 parses as
      // DECIMAL), and Spark and the oracle evaluate the ONE shared,
      // fully-parenthesized expression string — same IEEE ops in the
      // same order ⇒ bit-identical doubles. Shuffle shape: ONE
      // corpus tokenization — dl (doc length in indexed terms) is
      // Σtf aggregated from the SAME (doc,term) relation to a
      // doc-grain relation and joined back; the naive second corpus
      // scan for lengths is gone, and the tf exchange feeds all
      // three consumers (scored, dl, g) via ReusedExchange. (A
      // window-by-doc rendering of dl was measured SLOWER here: it
      // serializes a second full sort of the term relation, where
      // the doc-grain join side is vocabulary-bounded.) Corpus stats
      // ride a 1-row broadcast.
      (s, d) => {
        val docs = tokenizedDocs(s, d)
        val tf = docs
          .select(col("doc_id"), explode(col("toks")).as("term"))
          .filter(col("term") =!= "")
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val byTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
        // r12, with the [[tokenizedDocs]] memo as the source: dl no
        // longer re-aggregates the (doc,term) relation — the doc's
        // indexed length is size(array_remove(toks, '')) computed
        // per ROW of the cached doc-grain leaf (array_remove is
        // codegen'd; ≡ Σtf because tf counts exactly the non-empty
        // tokens). The dl>0 filter keeps the doc set identical to
        // the Σtf rendering (a doc with only empty tokens never
        // reaches tf, so it must not count toward nd/tot_dl). This
        // replaces the old tf-exchange ReusedExchange economy: the
        // dl and g branches now cost one cached array scan each,
        // with no explode and no (doc,term) aggregate at all.
        val dl = docs
          .select(col("doc_id"),
            size(array_remove(col("toks"), "")).as("dl"))
          .filter(col("dl") > 0)
        val g = dl.agg(count(lit(1)).as("nd"),
          sum(col("dl").cast("long")).as("tot_dl"))
        val scored = tf.withColumn("df", count(lit(1)).over(byTerm))
          .join(dl, "doc_id")
          .crossJoin(broadcast(g))
          .withColumn("score", expr(bm25ScoreExpr))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("doc_id", "rank", "term", "tf", "df", "dl", "score")
          .orderBy("doc_id", "rank")
      },
      Some(s"""WITH tk AS (
                SELECT doc_id, unnest(string_split(
                  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
                  AS term
                FROM documents),
              tf AS (
                SELECT doc_id, term, count(*) AS tf FROM tk
                WHERE term <> '' GROUP BY doc_id, term),
              dlx AS (SELECT doc_id, CAST(sum(tf) AS INTEGER) AS dl
                      FROM tf GROUP BY doc_id),
              g AS (SELECT count(*) AS nd,
                      CAST(sum(dl) AS BIGINT) AS tot_dl FROM dlx),
              scored AS (
                SELECT t.doc_id, t.term, t.tf,
                  count(*) OVER (PARTITION BY t.term) AS df,
                  d.dl, g.nd, g.tot_dl
                FROM tf t JOIN dlx d USING (doc_id), g),
              s2 AS (SELECT doc_id, term, tf, df, dl,
                       $bm25ScoreExpr AS score
                     FROM scored),
              r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, term ASC) AS rank
                    FROM s2)
              SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df,
                dl, score
              FROM r WHERE rank <= 3 ORDER BY doc_id, rank""")),

    Op("llm_multimodal",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        docs.join(emb, docs("doc_id") === emb("vec_id"), "inner")
          .select(col("doc_id"),
            struct(col("text"), col("lang"), col("embedding"), col("label"))
              .as("record"))
          .filter(col("record.lang").isin("en", "fr") && col("record.label") < 8)
          .select(col("doc_id"), col("record.lang").as("lang"),
            col("record.label").as("label"),
            length(col("record.text")).as("text_len"),
            round(aggregate(col("record.embedding"), lit(0.0),
              (a, x) => a + x.cast("double") * x.cast("double")), 6)
              .as("emb_sumsq"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, label,
                CAST(length(text) AS INTEGER) AS text_len,
                round(list_reduce(list_transform(embedding,
                  x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b), 6) AS emb_sumsq
              FROM documents JOIN embeddings ON doc_id = vec_id
              WHERE lang IN ('en', 'fr') AND label < 8
              ORDER BY doc_id""")),

    Op("llm_fingerprint_winnow",
      // winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
      // SIGMOD 2003): hash every k-gram (k=8 chars), then keep the
      // MINIMUM hash of each sliding w-window (w=4) of positions —
      // guarantees any shared substring ≥ k+w−1 chars yields a shared
      // fingerprint, with an expected 2/(w+1) selection density. The
      // plagiarism/near-dup detector MOSS runs; `llm_fingerprint`'s
      // rolling-hash sibling, but ORACLED: both engines hash with
      // md5 (identical bytes in, identical hex out) and take
      // lexicographic window-minima, so the fingerprint SETS match
      // exactly. 100 TB: fingerprinting is per-document by
      // definition, so the Spark side keeps it per-ROW — the k-gram
      // hash array, the sliding w-minima and the dedup are all array
      // HOFs (`transform`/`slice`/`array_min`/`array_distinct`)
      // evaluated inside one projection; NO explode, NO window, NO
      // shuffle before the presentation sort. The first cut exploded
      // to one row per character position and ran a per-doc window +
      // DISTINCT — at x64 that's 160M 12-byte-keyed rows through a
      // window sort and a distinct exchange, and the late-r14 soak
      // measured it superlinear (warm α≈1.2, 44 s at x64; the
      // partition-sizing law didn't flatten it because the spill was
      // the exploded volume itself, not the partition width). The HOF
      // form's transient state is one hash array per document
      // (n_chars × 12-char strings — bounded by the corpus's own
      // document-length cap, the same bound the explode form paid
      // per window buffer anyway). The per-row chain is the
      // graft_winnow_fps kernel (functions/VectorExprs.scala): a pure
      // HOF rendering was measured paying an interpreted-lambda
      // dispatch + a new MessageDigest per position — and its
      // subquery spelling hit the CollapseProject trap (the hash
      // array's definition inlined into the consuming lambda =
      // re-evaluating all n md5s per position, O(n²) per document).
      // Oracle SQL keeps the DuckDB explode+window spelling — engines
      // agree on the SETS.
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.createOrReplaceTempView("graft_docs_winnow")
        s.sql("""
          SELECT doc_id, CAST(size(fps) AS BIGINT) AS n_fp,
            array_min(fps) AS min_fp
          FROM (
            SELECT doc_id, graft_winnow_fps(text, 8, 4) AS fps
            FROM graft_docs_winnow
            WHERE length(text) >= 11)
          ORDER BY doc_id""")
      },
      Some("""WITH pos AS (
                SELECT doc_id, text,
                  unnest(generate_series(1, length(text) - 7)) AS i
                FROM documents WHERE length(text) >= 8),
              g AS (
                SELECT doc_id, i,
                  substr(md5(substring(text, CAST(i AS INT), 8)), 1, 12) AS h,
                  length(text) - 7 AS npos
                FROM pos),
              m AS (
                SELECT doc_id, i, npos,
                  min(h) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                FROM g),
              f AS (
                SELECT DISTINCT doc_id, fp FROM m WHERE i <= npos - 3)
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp, min(fp) AS min_fp
              FROM f GROUP BY doc_id ORDER BY doc_id""")),

    Op("llm_winnow_pairs",
      // the MOSS pairing step on top of the winnow selector: document
      // pairs sharing winnowing fingerprints, scored by how many
      // DISTINCT fingerprints they share — any ≥ k+w−1 = 11-char
      // common substring guarantees ≥ 1 shared fingerprint
      // (Schleimer/Wilkerson/Aiken's theorem), so this is cross-doc
      // shared-substring detection at ~2/(w+1) the cost of substring
      // enumeration. 100 TB: the SAME bucketed-postings shape as the
      // text dedup family — candidates come from an equi-join on the
      // fingerprint (never all-pairs), and the df-cap (2..16 docs per
      // fingerprint) drops both the singletons (no pair) and the
      // boilerplate hot keys that would square a reducer (the
      // llm_decontaminate_capped guard); per-pair scoring is a
      // map-combined count. Fingerprint extraction itself is the
      // graft_winnow_fps kernel — per-row, shuffle-free.
      // r22: the posting relation (kernel + fp exchange — the
      // dominant per-call cost) is the winnowing index; session-
      // memoized ([[winnowPostings]]), per-call work = the df-capped
      // aggregate + pair expansion + pair count. Oracle unchanged.
      (s, d) => winnowPairsFrom(winnowPostings(s, d))
        .orderBy("doc_a", "doc_b"),
      Some("""WITH pos AS (
                SELECT doc_id, text,
                  unnest(generate_series(1, length(text) - 7)) AS i
                FROM documents WHERE length(text) >= 11),
              h AS (
                SELECT doc_id, i,
                  substr(md5(substring(text, CAST(i AS INT), 8)), 1, 12) AS hh,
                  length(text) - 7 AS npos
                FROM pos),
              m AS (
                SELECT doc_id, i, npos,
                  min(hh) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                FROM h),
              f AS (
                SELECT DISTINCT doc_id, fp FROM m WHERE i <= npos - 3),
              keep AS (
                SELECT fp FROM f GROUP BY fp
                HAVING count(*) BETWEEN 2 AND 16),
              g AS (SELECT f.doc_id, f.fp FROM f JOIN keep USING (fp))
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(count(*) AS BIGINT) AS n_shared
              FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
              ORDER BY doc_a, doc_b""")),

    Op("llm_rag_fuse",
      // hybrid retrieval — reciprocal-rank fusion (Cormack/Clarke/
      // Buettcher RRF, k=60) of a lexical and a vector leg, the
      // standard RAG retrieval composition: lexical = corpus docs
      // ranked per probe by DISTINCT shared tokens (exact integer
      // overlap — rank-equivalent to a same-length-query BM25 at
      // this grain, and hash-exact where BM25's floats would need
      // the shared-expression dance); vector = the exact cosine
      // top-10 the simsearch family already pins (reused via the
      // session-memoized exact IVF). rrf = 1/(60+r_lex) + 1/(60+
      // r_vec) over the FULL OUTER union of the two top-10 lists —
      // two IEEE divisions and one add of exact-int-derived
      // operands in fixed order ⇒ bit-identical doubles, no
      // rounding. 100 TB: the lexical leg is a postings scan ⋈
      // BROADCAST probe terms + map-combined count; both legs'
      // top-10-per-probe truncate map-side (WindowGroupLimit); the
      // fusion join touches ≤ 2·topK rows per probe. The vector leg
      // at fleet scale dispatches to the registered ANN paths —
      // fusion algebra is rank-only, so any leg that returns ranks
      // plugs in.
      (s, d) => {
        val postings = tokenizedDocs(s, d)
          .select(col("doc_id"), explode(col("toks")).as("term"))
          .filter(col("term") =!= "").distinct()
        val pterms = postings.filter(col("doc_id") < 5)
          .select(col("doc_id").as("p_id"), col("term").as("p_term"))
        val wl = org.apache.spark.sql.expressions.Window
          .partitionBy("p_id").orderBy(col("overlap").desc, col("doc_id").asc)
        val lexTop = postings
          .join(broadcast(pterms), col("term") === col("p_term"))
          .groupBy(col("p_id"), col("doc_id"))
          .agg(count(lit(1)).as("overlap"))
          .withColumn("lex_rank", row_number().over(wl))
          .filter(col("lex_rank") <= 10)
          .select("p_id", "doc_id", "lex_rank")
        val vecTop = simSearchIvfExact(Tables.embeddings(s, d), nProbes = 5,
            topK = 10)
          .select(col("p_id").as("v_p_id"), col("vec_id"),
            col("rank").cast("int").as("vec_rank"))
        val fused = lexTop.join(vecTop,
            col("p_id") === col("v_p_id") && col("doc_id") === col("vec_id"),
            "full_outer")
          .select(
            coalesce(col("p_id"), col("v_p_id")).as("p_id"),
            coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
            col("lex_rank"), col("vec_rank"))
          .withColumn("rrf", expr(
            "coalesce(1e0 / (60 + lex_rank), 0e0)" +
              " + coalesce(1e0 / (60 + vec_rank), 0e0)"))
        val wf = org.apache.spark.sql.expressions.Window
          .partitionBy("p_id").orderBy(col("rrf").desc, col("doc_id").asc)
        fused.withColumn("rank", row_number().over(wf))
          .filter(col("rank") <= 10)
          .select("p_id", "rank", "doc_id", "lex_rank", "vec_rank", "rrf")
          .orderBy("p_id", "rank")
      },
      Some("""WITH tk AS (
                SELECT DISTINCT doc_id, term FROM (
                  SELECT doc_id, unnest(string_split(
                    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
                    AS term
                  FROM documents)
                WHERE term <> ''),
              pt AS (SELECT doc_id AS p_id, term FROM tk WHERE doc_id < 5),
              ov AS (
                SELECT pt.p_id, tk.doc_id, count(*) AS overlap
                FROM tk JOIN pt USING (term)
                GROUP BY pt.p_id, tk.doc_id),
              lex AS (
                SELECT p_id, doc_id, lex_rank FROM (
                  SELECT p_id, doc_id,
                    CAST(row_number() OVER (PARTITION BY p_id
                      ORDER BY overlap DESC, doc_id ASC) AS INTEGER)
                      AS lex_rank
                  FROM ov)
                WHERE lex_rank <= 10),
              probes AS (
                SELECT vec_id AS p_id, embedding AS p_emb
                FROM embeddings WHERE vec_id < 5),
              scored AS (
                SELECT p_id, vec_id,
                  round(
                    list_reduce(list_transform(range(1, 65),
                      i -> p_emb[i]::DOUBLE * embedding[i]::DOUBLE),
                      (a, b) -> a + b)
                    / (sqrt(list_reduce(list_transform(p_emb,
                         x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))
                     * sqrt(list_reduce(list_transform(embedding,
                         x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))),
                    6) AS cosine
                FROM probes, embeddings),
              vec AS (
                SELECT p_id, vec_id, vec_rank FROM (
                  SELECT p_id, vec_id,
                    CAST(row_number() OVER (PARTITION BY p_id
                      ORDER BY cosine DESC, vec_id ASC) AS INTEGER)
                      AS vec_rank
                  FROM scored)
                WHERE vec_rank <= 10),
              fused AS (
                SELECT coalesce(lex.p_id, vec.p_id) AS p_id,
                  coalesce(lex.doc_id, vec.vec_id) AS doc_id,
                  lex.lex_rank, vec.vec_rank,
                  coalesce(1e0 / (60 + lex.lex_rank), 0e0)
                    + coalesce(1e0 / (60 + vec.vec_rank), 0e0) AS rrf
                FROM lex FULL OUTER JOIN vec
                  ON lex.p_id = vec.p_id AND lex.doc_id = vec.vec_id)
              SELECT p_id, rank, doc_id, lex_rank, vec_rank, rrf FROM (
                SELECT p_id, doc_id, lex_rank, vec_rank, rrf,
                  CAST(row_number() OVER (PARTITION BY p_id
                    ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rank
                FROM fused)
              WHERE rank <= 10
              ORDER BY p_id, rank""")),

    Op("llm_readability",
      // Flesch reading-ease battery (Flesch 1948) — the classic
      // readability score quality pipelines bucket documents by
      // (too-easy = listicles/spam, too-hard = OCR garbage/jargon
      // walls). Counts are pure string arithmetic so both engines
      // agree exactly: words = the shared tokens() kernel; sentences
      // = [.!?]+ RUNS (not chars — "..." is one boundary) counted by
      // replace-then-length-diff; syllables = the standard vowel-run
      // heuristic ([aeiouy]+ runs, runs never span whitespace so the
      // doc-level count equals the per-word sum). The score is ONE
      // shared expression string (the bm25 discipline: identical IEEE
      // op sequence on identical int inputs ⇒ bit-identical doubles),
      // constants in exponent form. One codegen projection, no
      // shuffle — a map over the corpus scan at any scale.
      (s, d) => {
        // 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
        val freExpr =
          "round(206835e-3 - 1015e-3 * (CAST(n_words AS DOUBLE) / " +
            "CAST(n_sents AS DOUBLE)) - 846e-1 * (CAST(n_syll AS DOUBLE) / " +
            "CAST(n_words AS DOUBLE)), 4)"
        val sr = regexp_replace(col("text"), "[.!?]+", "\u0001")
        val vr = regexp_replace(lower(col("text")), "[aeiouy]+", "\u0001")
        def runs(c: Column): Column =
          length(c) - length(replace(c, lit("\u0001"), lit("")))
        Tables.documents(s, d)
          .select(col("doc_id"),
            greatest(size(tokens(col("text"))), lit(1)).as("n_words"),
            greatest(runs(sr), lit(1)).as("n_sents"),
            greatest(runs(vr), lit(1)).as("n_syll"))
          .withColumn("fre", expr(freExpr))
          .withColumn("grade",
            when(col("fre") >= 90, lit("very_easy"))
              .when(col("fre") >= 70, lit("easy"))
              .when(col("fre") >= 50, lit("standard"))
              .when(col("fre") >= 30, lit("difficult"))
              .otherwise(lit("very_difficult")))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id,
                  regexp_replace(text, '[.!?]+', chr(1), 'g') AS sr,
                  regexp_replace(lower(text), '[aeiouy]+', chr(1), 'g') AS vr,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
                    AS toks
                FROM documents),
              c AS (
                SELECT doc_id,
                  CAST(greatest(len(toks), 1) AS INTEGER) AS n_words,
                  CAST(greatest(length(sr) - length(replace(sr, chr(1), '')), 1)
                    AS INTEGER) AS n_sents,
                  CAST(greatest(length(vr) - length(replace(vr, chr(1), '')), 1)
                    AS INTEGER) AS n_syll
                FROM t),
              f AS (
                SELECT doc_id, n_words, n_sents, n_syll,
                  round(206835e-3 - 1015e-3 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE)) - 846e-1 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)), 4) AS fre
                FROM c)
              SELECT doc_id, n_words, n_sents, n_syll, fre,
                CASE WHEN fre >= 90 THEN 'very_easy'
                     WHEN fre >= 70 THEN 'easy'
                     WHEN fre >= 50 THEN 'standard'
                     WHEN fre >= 30 THEN 'difficult'
                     ELSE 'very_difficult' END AS grade
              FROM f ORDER BY doc_id""")),

    Op("llm_code_detect",
      // code-vs-prose routing — the corpus-composition switch every
      // pretraining mix needs (code goes to the code pipeline:
      // different dedup grain, different quality rules; prose to the
      // text one). Rule battery in the gopher style (named verdicts,
      // conjunction decides): symbol-char ratio ({}();=[] via
      // translate-delete), indented-line pct, statement-terminated
      // line pct (; or { after rtrim), distinct-keyword floor. The
      // fixture corpus is pure prose, so every 9th document is
      // REWRITTEN into code deterministically (def/braces/semicolons
      // around its own first 40 chars) by the SAME expression on both
      // engines — the pii_scrub planted-fixture discipline: the hash
      // gate then proves the rules separate the classes, not that
      // everything is constant-false. One codegen projection, no
      // shuffle.
      (s, d) => {
        val planted = col("doc_id") % 9 === 0
        val et = when(planted,
          concat(lit("def fn_"), col("doc_id").cast("string"),
            lit("(x):\n    y = {"),
            replace(substring(col("text"), 1, 40), lit(" "), lit("_")),
            lit("};\n    return y;\nimport os;")))
          .otherwise(col("text"))
        val kw = array(Seq("def", "class", "import", "return", "if",
          "else", "for", "while", "function", "const", "var",
          "lambda").map(lit): _*)
        Tables.documents(s, d)
          .withColumn("graft_et", et)
          .withColumn("graft_lines", split(col("graft_et"), "\n"))
          .withColumn("graft_toks", tokens(col("graft_et")))
          .select(col("doc_id"), planted.as("is_planted"),
            size(col("graft_lines")).as("n_lines"),
            round((length(col("graft_et")) -
              length(translate(col("graft_et"), "{}();=[]", "")))
              .cast("double") / length(col("graft_et")).cast("double"), 6)
              .as("sym_ratio"),
            round(size(expr(
              "filter(graft_lines, l -> startswith(l, '    '))"))
              .cast("double") / size(col("graft_lines")).cast("double"), 6)
              .as("indent_pct"),
            round(size(expr(
              "filter(graft_lines, l -> endswith(rtrim(l), ';') " +
                "or endswith(rtrim(l), '{'))"))
              .cast("double") / size(col("graft_lines")).cast("double"), 6)
              .as("semi_pct"),
            size(array_intersect(array_distinct(col("graft_toks")), kw))
              .as("n_kw"))
          .withColumn("is_code",
            col("sym_ratio") > 0.02 && col("n_kw") >= 2 &&
              col("semi_pct") >= 0.25)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
                SELECT doc_id, doc_id % 9 = 0 AS is_planted,
                  CASE WHEN doc_id % 9 = 0 THEN
                    'def fn_' || CAST(doc_id AS VARCHAR) || '(x):' || chr(10)
                    || '    y = {'
                    || replace(substr(text, 1, 40), ' ', '_')
                    || '};' || chr(10) || '    return y;' || chr(10)
                    || 'import os;'
                  ELSE text END AS et
                FROM documents),
              u AS (
                SELECT doc_id, is_planted, et,
                  string_split(et, chr(10)) AS lines,
                  string_split(lower(trim(regexp_replace(et, '\s+', ' ', 'g'))), ' ')
                    AS toks
                FROM t),
              m AS (
                SELECT doc_id, is_planted,
                  CAST(len(lines) AS INTEGER) AS n_lines,
                  round(CAST(length(et) - length(translate(et, '{}();=[]', ''))
                    AS DOUBLE) / length(et), 6) AS sym_ratio,
                  round(CAST(len(list_filter(lines, l ->
                      starts_with(l, '    '))) AS DOUBLE) / len(lines), 6)
                    AS indent_pct,
                  round(CAST(len(list_filter(lines, l ->
                      ends_with(rtrim(l), ';') OR ends_with(rtrim(l), '{')))
                    AS DOUBLE) / len(lines), 6) AS semi_pct,
                  CAST(len(list_intersect(list_distinct(toks),
                    ['def','class','import','return','if','else','for',
                     'while','function','const','var','lambda']))
                    AS INTEGER) AS n_kw
                FROM u)
              SELECT doc_id, is_planted, n_lines, sym_ratio, indent_pct,
                semi_pct, n_kw,
                (sym_ratio > 0.02 AND n_kw >= 2 AND semi_pct >= 0.25)
                  AS is_code
              FROM m ORDER BY doc_id"""))
  )
}
