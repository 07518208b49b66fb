package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generated-scale soak (VERDICT r10/r11 task #3): measure how the
  * heavy query families actually scale, instead of arguing from plan
  * shape alone.
  *
  * Method: the sf0.1 corpus is replicated k× with per-replica
  * perturbations chosen so the STATISTICAL shape scales the way a
  * bigger real corpus would —
  *  - documents: replica i's tokens carry an `_ri` suffix → each
  *    replica reproduces the base token/df profile over a DISJOINT
  *    vocabulary, so shingle postings grow linearly and no artificial
  *    cross-replica duplicate pairs appear (naive copying would add
  *    k² near-dup pairs per document and measure a problem that
  *    doesn't exist);
  *  - embeddings: replica i shifts every component by i·0.001 —
  *    distinct vectors, same geometry class;
  *  - events: replica i offsets event_id (log position) and user_id
  *    (key space grows with volume, per-key history length constant —
  *    how a real feed grows).
  *
  * Each (query, scale) runs twice in one session: pass 1 carries
  * one-time costs (codegen, session-memoized relations, IVF build),
  * pass 2 is the steady-state marginal. Exponents are reported for
  * both — α = log(t_b/t_a)/log(k_b/k_a) between consecutive scales —
  * because for memoized families (dedup clusters, IVF base index,
  * tokenizedDocs) the COLD pass is the honest scaling figure while
  * the warm pass shows the service steady state.
  *
  * Results land in SCALE.md (committed) + a JSON report. Scales
  * default to 1/8/64 ⇒ the top point is a ~sf6.4-equivalent corpus
  * (320k docs / 128k vectors / 6.4M events) — inside the sf5–10 band
  * the verdict asked for.
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
    // optional 4th arg: restrict to these queries (deep-scale runs)
    val queries = if (args.length > 3) args(3).split(",").toSeq
      else SoakQueries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // at deep scale points the 100 TB discipline applies on this box
    // too: shuffle partitions must grow with the data so a partition
    // stays memory-resident (SPARK_GRAFT_SHUFFLE overrides)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    scales.foreach(k => ensureScaled(spark, base, work, k))

    val results = scala.collection.mutable.LinkedHashMap[
      (String, Int), (Double, Double)]()
    scales.foreach { k =>
      val dir = dirFor(base, work, k)
      queries.foreach { q =>
        def once(): Double = {
          val t0 = System.nanoTime()
          // materialize the FULL plan (all output columns): a plain
          // count() lets Catalyst prune unreferenced Sort/Window
          // operators, which would measure only the scan for
          // sort_multi / win_running
          SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }
        val t1 = once(); val t2 = once()
        results((q, k)) = (t1, t2)
        println(f"[soak] $q%-28s x$k%-3d cold=$t1%8.2fs warm=$t2%8.2fs")
      }
    }

    // per-query exponents between consecutive scale points
    val sb = new StringBuilder
    sb.append("{\"scales\":[").append(scales.mkString(",")).append("],\"queries\":{")
    sb.append(queries.map { q =>
      val pts = scales.map(k => (k, results((q, k))))
      def alphas(sel: ((Double, Double)) => Double) =
        // filter: a single-scale run has no interval (sliding(2)
        // yields one short window) — report empty alphas, don't crash
        pts.sliding(2).filter(_.size == 2).map {
          case Seq((ka, ta), (kb, tb)) =>
            math.log(sel(tb) / sel(ta)) / math.log(kb.toDouble / ka)
        }.toSeq
      val aCold = alphas(_._1); val aWarm = alphas(_._2)
      s""""$q":{"cold":[${pts.map(p => f"${p._2._1}%.3f").mkString(",")}],""" +
        s""""warm":[${pts.map(p => f"${p._2._2}%.3f").mkString(",")}],""" +
        s""""alpha_cold":[${aCold.map(a => f"$a%.2f").mkString(",")}],""" +
        s""""alpha_warm":[${aWarm.map(a => f"$a%.2f").mkString(",")}]}"""
    }.mkString(","))
    sb.append("}}")
    val out = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "SOAK_LOCAL.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[soak] report -> $out")
    Memo.clear(spark)
    spark.stop()
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
