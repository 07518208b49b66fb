package graft

import graft.ops.{LlmOps, PqOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The session memo registry ([[Memo]]): keyed on its input frames,
  * one build per key under concurrency, deterministic builds only, and
  * `Memo.clear` at any point changes no result. Each test runs in its
  * own session so its entries are its own. */
class MemoSpec extends SparkSpec {

  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Runs `f` on `n` threads at once and returns their results; stderr
    * lines written on those threads land in `err`. */
  private def concurrently[T](n: Int, err: java.io.ByteArrayOutputStream)(f: => T): Seq[T] =
    Console.withErr(err) {
      val start = new java.util.concurrent.CountDownLatch(1)
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, T]]()
      val threads = (1 to n).map(_ => new Thread(() => {
        start.await()
        out.add(try Right(f) catch { case t: Throwable => Left(t) })
        ()
      }))
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
      val res = out.toArray.toSeq.map(_.asInstanceOf[Either[Throwable, T]])
      res.collectFirst { case Left(t) => throw t }
      res.collect { case Right(v) => v }
    }

  private def builds(err: java.io.ByteArrayOutputStream, tag: String): Int =
    err.toString("UTF-8").linesIterator.count(_.startsWith(s"graft: memo $tag built in "))

  test("memo keys on its input frames: same cacheKey, different docs, each call gets its own pairs") {
    val s = spark.newSession()
    import s.implicits._
    val fox = "the quick brown fox jumps over the lazy dog near the river bank"
    val lorem = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    val a = Seq((1L, fox), (2L, fox + " again"), (3L, lorem)).toDF("doc_id", "text")
    val b = Seq((1L, lorem), (2L, fox), (3L, lorem + " again")).toDF("doc_id", "text")
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ops: Seq[(String, (DataFrame, Option[String]) => DataFrame)] = Seq(
      "jaccard" -> ((d, k) => LlmOps.jaccardPairs(d, tau = 0.6, shingleN = 3, cacheKey = k)),
      "containment" -> ((d, k) => LlmOps.containmentPairs(d, tau = 0.6, shingleN = 3,
        maxPostingDf = Some(16L), cacheKey = k)))
    try for ((name, op) <- ops) {
      val (ka, kb) = (pairs(op(a, Some("corpus"))), pairs(op(b, Some("corpus"))))
      assert(ka == pairs(op(a, None)), s"$name: keyed call on docs a")
      assert(kb == pairs(op(b, None)), s"$name: keyed call on docs b read docs a's memo")
      assert(ka != kb, s"$name: the two inputs must have different pairs")
    } finally Memo.clear(s)
  }

  test("concurrent first calls on one key run exactly one build and cache one RDD") {
    val s = spark.newSession()
    val n = 6
    val df = s.range(1000).toDF("id")
    try {
      // the registry itself
      val counter = new java.util.concurrent.atomic.AtomicInteger()
      val before = persistedRdds
      val err0 = new java.io.ByteArrayOutputStream()
      val got = concurrently(n, err0) {
        Memo.frame("probe", df) { counter.incrementAndGet(); df.select(col("id") * 2) }
      }
      assert(counter.get == 1)
      assert(builds(err0, "probe") == 1)
      assert(got.forall(_ eq got.head))
      assert((persistedRdds -- before).size == 1)

      // the IVF index: driver metadata plus one persisted assignment
      val emb = Tables.embeddings(s, sf001)
      val before1 = persistedRdds
      val err1 = new java.io.ByteArrayOutputStream()
      val idx = concurrently(n, err1)(LlmOps.ivfIndex(emb, 8, Some("k")))
      assert(builds(err1, "ivf|c8") == 1 && builds(err1, "ivfassign|c8") == 1,
        err1.toString("UTF-8"))
      assert(idx.forall(_ eq idx.head))
      assert((persistedRdds -- before1).size == 1)

      // the OPQ rotation and its codebook: driver values, nothing cached
      val before2 = persistedRdds
      val err2 = new java.io.ByteArrayOutputStream()
      concurrently(n, err2)(SparkEntry.queries("llm_vector_opq")(s, sf001))
      val cbs = concurrently(n, err2)(PqOps.pqTrain(emb, cacheKey = Some("k")))
      assert(builds(err2, "opq") == 1, err2.toString("UTF-8"))
      assert(builds(err2, "pq|m8|k16|n2048|rtrue") == 1)
      assert(builds(err2, "pq|m8|k16|n2048|rfalse") == 1)
      assert(cbs.forall(_ eq cbs.head))
      assert((persistedRdds -- before2).isEmpty)
      assert(Memo.tags(s).sorted == Seq("ivf|c8", "ivfassign|c8", "opq",
        "pq|m8|k16|n2048|rfalse", "pq|m8|k16|n2048|rtrue", "probe").sorted)
    } finally Memo.clear(s)
  }

  test("a memo build over rand() fails with a clear message") {
    val s = spark.newSession()
    val df = s.range(10).toDF("id")
    try {
      val e = intercept[IllegalArgumentException](
        Memo.frame("noisy", df)(df.withColumn("r", rand(7))))
      assert(e.getMessage.contains("memo noisy: the build is not deterministic"))
    } finally Memo.clear(s)
  }

  test("Memo.clear changes no result: every memo-building registered query reruns identically") {
    val s: SparkSession = spark.newSession()
    // every registered query whose construction registers a memo entry:
    // run it, clear, run it again
    val memoized = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (q, fn) =>
      val before = persistedRdds
      val df = fn(s, sf001)
      if (Memo.tags(s).isEmpty) None
      else {
        val first = rowsOf(df)
        Memo.clear(s)
        assert(Memo.tags(s).isEmpty)
        assert((persistedRdds -- before).isEmpty,
          s"$q: cached RDDs outlive Memo.clear: ${persistedRdds -- before}")
        val again = rowsOf(fn(s, sf001))
        Memo.clear(s)
        assert(first == again, s"$q: result changed across Memo.clear")
        Some(q)
      }
    }
    info(s"${memoized.size} memo-building queries: ${memoized.mkString(", ")}")
    assert(memoized.size >= 30, memoized)
  }
}
