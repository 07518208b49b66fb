package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Generated-scale soak: measures how the heavy query families scale
  * with corpus volume. `Soak [base] [work] [scales] [queries]`, with
  * defaults sf0.1, `/tmp/graft_soak`, `1,8,64` and [[SoakQueries]].
  *
  * The base corpus is replicated k× ([[ensureScaled]]) with
  * per-replica perturbations chosen so the statistical shape scales
  * the way a bigger real corpus would:
  *  - documents: replica i's tokens carry an `_ri` suffix, so each
  *    replica reproduces the base token/df profile over a disjoint
  *    vocabulary; shingle postings grow linearly and no artificial
  *    cross-replica duplicate pairs appear (plain copies would add k²
  *    near-duplicate pairs per document);
  *  - embeddings: replica i shifts every component by i·0.001;
  *  - events: replica i offsets event_id and user_id, so the key space
  *    grows with volume and per-key history length stays constant;
  *  - TPC-H: the facts (orders, lineitem) are replicated with their
  *    join key offset together, the dimensions copied verbatim.
  *
  * Each (query, scale) is timed to its full result ([[Harness.time]])
  * twice in one session: the cold pass carries one-time costs (code
  * generation, session memo builds), the warm pass is the steady-state
  * marginal. Both report the exponent α = log(t_b/t_a)/log(k_b/k_a)
  * between consecutive scales; for memoized families the cold pass is
  * the scaling figure. The JSON report goes to `SPARK_GRAFT_SOAK_OUT`
  * (default `SOAK_LOCAL.json`); committed captures are indexed in
  * SCALE.md.
  */
object Soak {
  private val SoakQueries = Seq(
    // documents family (shingle/posting/token shapes)
    "llm_dedup_jaccard", "llm_dedup_containment", "llm_dedup_near",
    "llm_dedup_clusters", "llm_decontaminate_capped",
    "llm_tfidf", "llm_bm25", "llm_ngrams_tf",
    // embeddings family (ANN index + banded candidates)
    "llm_simsearch_ivfpq", "llm_ivf_append_probe", "llm_simsearch_lsh",
    // events family (window/state shapes)
    "win_session", "cdc_txn_groups",
    // TPC-H join/window/agg families (scaled fact, unscaled dims —
    // per-dim-key fact cardinality grows with volume, the realistic
    // fact-growth profile)
    "join_inner_smj", "join_star_multiway", "join_lateral_topn",
    "agg_hash_group", "agg_topk_partial", "win_running",
    "win_topk_group", "sort_multi")

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "/tmp/graft_soak"
    val scales = if (args.length > 2) args(2).split(",").map(_.toInt).toSeq
      else Seq(1, 8, 64)
    val queries = Harness.select(if (args.length > 3) args(3).split(",").toSeq else SoakQueries)
    Harness.session { spark =>
      scales.foreach(k => ensureScaled(spark, base, work, k))
      val results = (for (k <- scales; (q, fn) <- queries) yield {
        val dir = dirFor(base, work, k)
        val (t1, t2) = (Harness.time(fn(spark, dir)), Harness.time(fn(spark, dir)))
        println(f"[soak] $q%-28s x$k%-3d cold=$t1%8.2fs warm=$t2%8.2fs")
        (q, k) -> (t1, t2)
      }).toMap
      val report = ListMap("scales" -> scales, "queries" -> ListMap(queries.map { case (q, _) =>
        val pts = scales.map(k => k -> results((q, k)))
        def times(sel: ((Double, Double)) => Double) = pts.map(p => Harness.round(sel(p._2), 3))
        q -> ListMap("cold" -> times(_._1), "warm" -> times(_._2),
          "alpha_cold" -> alphas(pts.map(p => p._1 -> p._2._1)),
          "alpha_warm" -> alphas(pts.map(p => p._1 -> p._2._2)))
      }: _*))
      val out = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "SOAK_LOCAL.json")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Harness.json(report))
      println(s"[soak] report -> $out")
      true
    }
  }

  /** The scaling exponent between each two consecutive (scale, value)
    * points, at 2 decimals; empty for a single point. */
  private[graft] def alphas(pts: Seq[(Int, Double)]): Seq[Any] =
    pts.zip(pts.drop(1)).map { case ((ka, a), (kb, b)) =>
      Harness.round(math.log(b / a) / math.log(kb.toDouble / ka), 2)
    }

  private[graft] def dirFor(base: String, work: String, k: Int): String =
    if (k == 1) base else s"$work/x$k"

  /** Generate the k× corpus once; a marker file makes re-runs free. */
  private[graft] def ensureScaled(spark: SparkSession, base: String, work: String,
      k: Int): Unit = {
    if (k == 1) return
    val dir = s"$work/x$k"
    val marker = java.nio.file.Paths.get(s"$dir/_SOAK_OK")
    if (java.nio.file.Files.exists(marker)) {
      println(s"[soak] x$k corpus present, skipping generation"); return
    }
    val t0 = System.nanoTime()

    val docs = Tables.documents(spark, base)
    val docOff = docs.agg(max("doc_id")).head().getLong(0) + 1L
    val docReps = (0 until k).map { i =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(i * docOff))
      if (i == 0) d
      else d
        .withColumn("text", array_join(
          transform(split(col("text"), " "), x => concat(x, lit(s"_r$i"))),
          " "))
        // explicit cast: base n_chars is LongType, length() is IntegerType —
        // don't lean on unionByName's implicit set-op widening
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    docReps.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val emb = Tables.embeddings(spark, base)
    val embOff = emb.agg(max("vec_id")).head().getLong(0) + 1L
    (0 until k).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * embOff))
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(i * 0.001f)))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val ev = Tables.events(spark, base)
    val eOff = ev.agg(max("event_id")).head().getLong(0) + 1L
    val uOff = ev.agg(max("user_id")).head().getLong(0) + 1L
    (0 until k).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * eOff))
        .withColumn("user_id", col("user_id") + lit(i * uOff))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$dir/events.parquet")

    // TPC-H side: scale the FACTS (orders/lineitem, offsetting
    // o_orderkey/l_orderkey together so the join key stays
    // consistent; o_custkey/l_suppkey/l_partkey unchanged so
    // per-dim-key fact cardinality grows with volume), copy the
    // DIMS verbatim — how a warehouse actually grows.
    val orders = Tables.orders(spark, base)
    val oOff = orders.agg(max("o_orderkey")).head().getLong(0) + 1L
    (0 until k).map { i =>
      orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * oOff))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val li = Tables.lineitem(spark, base)
    (0 until k).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * oOff))
    }.reduce(_ unionByName _)
      .repartition(64).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$base/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    java.nio.file.Files.write(marker, Array.emptyByteArray)
    println(f"[soak] generated x$k corpus in ${(System.nanoTime() - t0) / 1e9}%.1fs")
  }
}
