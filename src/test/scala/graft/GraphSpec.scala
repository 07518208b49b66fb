package graft

import org.apache.spark.sql.functions._

/** PageRank kernel correctness (SURVEY §2 row 127). The registered
  * query is rows-only (per-node double sums cross engines'
  * association orders), so the deep checks live here: the
  * distributed kernel against a hand-rolled in-memory reference on a
  * crafted asymmetric graph, plus the conservation invariant on the
  * real trade graph.
  */
class GraphSpec extends SparkSpec {

  /** In-memory reference: identical formulation — dangling-mass
    * redistribution included — only the summation strategy differs. */
  private def referencePr(edges: Seq[(Long, Long)], iters: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val sinks = nodes.filterNot(outdeg.contains)
    var pr = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val dm = sinks.map(pr).sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => pr(u) / outdeg(u) }.sum).toMap
      pr = nodes.map(n =>
        n -> ((1 - d) + d * (in.getOrElse(n, 0.0) + dm / nodes.size))).toMap
    }
    pr
  }

  test("pageRank kernel ≡ in-memory reference on a crafted graph WITH a sink, and conserves mass") {
    // asymmetric: a hub (1) fed by everyone, a chain, one SINK (5) —
    // node 5 has no out-edges, so every round redistributes its mass
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L), (2L, 3L),
      (3L, 4L), (4L, 5L))
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    val (ranks, handle) = ops.GraphOps.pageRankWithHandle(df, iters = 5)
    val got = ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = referencePr(edges, iters = 5)
    assert(got.keySet == want.keySet)
    want.foreach { case (n, p) =>
      assert(math.abs(got(n) - p) < 1e-9, s"node $n: got ${got(n)} want $p")
    }
    // the hub must outrank every chain node
    assert(got(1L) == got.values.max)
    // redistribution means the sink graph ALSO conserves Σpr = n —
    // the exact property the pre-r12 kernel leaked (sum drifted
    // below n by the sink's held mass each round)
    assert(math.abs(got.values.sum - got.size) < 1e-9,
      s"mass ${got.values.sum} for ${got.size} nodes")
    handle.unpersist(blocking = false)
  }

  test("tolerance early-stop converges to the fixed-horizon answer; iters=0 returns a usable pr_0 handle") {
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L), (2L, 3L),
      (3L, 4L), (4L, 5L))
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    // a horizon long past convergence, stopped by tol: must land
    // within tol-scale distance of the true fixed point — compare
    // against a deep fixed-iteration reference
    val (er, eh) = ops.GraphOps.pageRankWithHandle(df, iters = 100, tol = 1e-10)
    val got = er.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = referencePr(edges, iters = 100)
    want.foreach { case (n, p) =>
      assert(math.abs(got(n) - p) < 1e-8, s"node $n: got ${got(n)} want $p")
    }
    eh.unpersist(blocking = false)
    // iters=0: the pre-r12 kernel returned a NULL handle (latent NPE
    // for any caller honoring the unpersist contract); now pr_0
    val (r0, h0) = ops.GraphOps.pageRankWithHandle(df, iters = 0)
    assert(h0 != null)
    val flat = r0.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(flat.size == 5 && flat.values.forall(_ == 1.0))
    h0.unpersist(blocking = false)
  }

  test("bidirectional trade graph conserves rank mass (sum ≈ n)") {
    val li = Tables.lineitem(spark, sf001).select("l_orderkey", "l_suppkey")
    val o = Tables.orders(spark, sf001).select("o_orderkey", "o_custkey")
    val trade = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("p"))
      .distinct()
    val edges = trade.select(col("c").as("src"), col("p").as("dst"))
      .unionByName(trade.select(col("p").as("src"), col("c").as("dst")))
    val (ranks, handle) = ops.GraphOps.pageRankWithHandle(edges, iters = 5)
    val agg = ranks.agg(count(lit(1)), sum("pr")).first()
    val (n, mass) = (agg.getLong(0), agg.getDouble(1))
    // every node has outdeg ≥ 1 (both directions present) ⇒ each
    // round preserves total mass: (1-d)·n + d·n = n, up to fp noise
    assert(math.abs(mass - n) < 1e-6 * n, s"mass $mass for $n nodes")
    handle.unpersist(blocking = false)
  }

  test("graph_pagerank query: top-20, descending, memo-stable repeat") {
    val df = SparkEntry.queries("graph_pagerank")(spark, sf001)
    val top = df.collect()
    assert(top.length == 20)
    val prs = top.map(_.getDouble(3))
    assert(prs.sameElements(prs.sortBy(-(_: Double))))
    // rank floor (1−d) holds for every node
    assert(prs.forall(_ >= 0.15 - 1e-9))
    // re-run hits the session memo: identical rows, no rebuild
    val again = SparkEntry.queries("graph_pagerank")(spark, sf001).collect()
    assert(again.map(_.toString).toSeq == top.map(_.toString).toSeq)
    Memo.clear(spark)
  }

  /** In-memory HITS reference — identical formulation (max-normalized
    * per round), only the summation strategy differs. */
  private def referenceHits(edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Double] = {
    val srcs = edges.map(_._1).distinct
    var hub = srcs.map(_ -> 1.0).toMap
    var auth: Map[Long, Double] = Map.empty
    for (_ <- 1 to iters) {
      val aRaw = edges.groupBy(_._2).view
        .mapValues(_.map { case (u, _) => hub(u) }.sum).toMap
      val amax = aRaw.values.max
      auth = aRaw.view.mapValues(_ / amax).toMap
      val hRaw = edges.groupBy(_._1).view
        .mapValues(_.map { case (_, v) => auth(v) }.sum).toMap
      val hmax = hRaw.values.max
      hub = hRaw.view.mapValues(_ / hmax).toMap
    }
    // final authorities from the final hub vector (the kernel's
    // returned surface)
    val aRaw = edges.groupBy(_._2).view
      .mapValues(_.map { case (u, _) => hub(u) }.sum).toMap
    val amax = aRaw.values.max
    aRaw.view.mapValues(_ / amax).toMap
  }

  test("HITS kernel ≡ in-memory reference on a crafted bipartite graph; top authority normalized to 1") {
    // suppliers 10,11,12: 10 bought by every customer, 11 by two,
    // 12 by one — authority must rank 10 > 11 > 12 with auth(10)=1
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L),
      (1L, 11L), (2L, 11L), (3L, 12L))
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    val (out, handles) = ops.GraphOps.hitsWithHandle(df, iters = 5)
    val got = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = referenceHits(edges, iters = 5)
    assert(got.keySet == want.keySet)
    want.foreach { case (n, a) =>
      // kernel rounds to 6dp at the output surface
      assert(math.abs(got(n) - a) < 1e-6 + 1e-9,
        s"node $n: got ${got(n)} want $a")
    }
    assert(got(10L) == 1.0)
    assert(got(10L) > got(11L) && got(11L) > got(12L))
    handles.foreach(_.unpersist(blocking = false))
  }

  test("graph_hits query: top-20 authorities, descending, memo-stable repeat") {
    val df = SparkEntry.queries("graph_hits")(spark, sf001)
    val top = df.collect()
    assert(top.length > 0 && top.length <= 20)
    val as = top.map(_.getDouble(1))
    assert(as.sameElements(as.sortBy(-(_: Double))))
    assert(as.head == 1.0 && as.forall(a => a >= 0.0 && a <= 1.0))
    val again = SparkEntry.queries("graph_hits")(spark, sf001).collect()
    assert(again.map(_.toString).toSeq == top.map(_.toString).toSeq)
    Memo.clear(spark)
  }

  test("graph_pagerank_fixed ≡ the float PageRank form on the rank ordering") {
    // no sinks on the bidirectional trade graph, so the float
    // kernel's dangling-mass term is exactly zero and the two forms
    // run the same recursion — only 1e-10 quantization vs float
    // association noise separates them
    val float = SparkEntry.queries("graph_pagerank")(spark, sf001)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("pr"))
    val fixed = SparkEntry.queries("graph_pagerank_fixed")(spark, sf001)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("pr"))
    assert(fixed.map(_._1).toSeq == float.map(_._1).toSeq,
      s"orderings diverge: fixed=${fixed.map(_._1).mkString(",")} " +
        s"float=${float.map(_._1).mkString(",")}")
    fixed.zip(float).foreach { case ((n, pf), (_, ff)) =>
      assert(math.abs(pf - ff) < 1e-5, s"node $n: fixed $pf float $ff")
    }
    Memo.clear(spark)
  }

  test("graph_hits_fixed ≡ the float HITS form on the authority ordering") {
    // the oracled DECIMAL-quantized chain and the float loop differ
    // only by 1e-10 per-round quantization vs float association
    // noise — the top-20 authority ORDER must agree exactly, and the
    // scores within the float form's 6dp output surface
    val float = SparkEntry.queries("graph_hits")(spark, sf001)
      .collect().map(r => r.getAs[Long]("supplier") -> r.getDouble(1))
    val fixed = SparkEntry.queries("graph_hits_fixed")(spark, sf001)
      .collect().map(r => r.getAs[Long]("supplier") -> r.getDouble(1))
    assert(fixed.map(_._1).toSeq == float.map(_._1).toSeq,
      s"orderings diverge: fixed=${fixed.map(_._1).mkString(",")} " +
        s"float=${float.map(_._1).mkString(",")}")
    fixed.zip(float).foreach { case ((s, af), (_, ff)) =>
      assert(math.abs(af - ff) < 1e-5, s"supplier $s: fixed $af float $ff")
    }
    Memo.clear(spark)
  }
}
