package graft

import graft.ops.{LlmOps, PqOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The session memo registry ([[Memo]]): keyed on its input frames,
  * one build per key under concurrency, deterministic builds only,
  * directories that heal and never outlive a failed write, and
  * `Memo.clear` at any point changes no result and leaves no directory
  * or catalog table behind. Each test runs in its own session so its
  * entries are its own. */
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

  private val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))

  /** The `graft_` children of the system temp dir. */
  private def graftTemp: Set[java.io.File] =
    tmp.listFiles().filter(_.getName.startsWith("graft_")).toSet

  test("memo keys on its input frames: different docs each get their own pairs") {
    val s = spark.newSession()
    import s.implicits._
    val fox = "the quick brown fox jumps over the lazy dog near the river bank"
    val lorem = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    val a = Seq((1L, fox), (2L, fox + " again"), (3L, lorem)).toDF("doc_id", "text")
    val b = Seq((1L, lorem), (2L, fox), (3L, lorem + " again")).toDF("doc_id", "text")
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "jaccard" -> (d => LlmOps.jaccardPairs(d, tau = 0.6, shingleN = 3)),
      "containment" -> (d => LlmOps.containmentPairs(d, tau = 0.6, shingleN = 3,
        maxPostingDf = Some(16L))))
    // each call against the same call made first after a clear, which
    // builds from its own docs whatever the keying
    try for ((name, op) <- ops) {
      val (ka, kb) = (pairs(op(a)), pairs(op(b)))
      Memo.clear(s)
      assert(kb == pairs(op(b)), s"$name: the call on docs b read docs a's memo")
      Memo.clear(s)
      assert(ka == pairs(op(a)), s"$name: the call on docs a read docs b's memo")
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
      val idx = concurrently(n, err1)(LlmOps.ivfIndex(emb, 8))
      assert(builds(err1, "ivf|c8") == 1 && builds(err1, "ivfassign|c8") == 1,
        err1.toString("UTF-8"))
      assert(idx.forall(_ eq idx.head))
      assert((persistedRdds -- before1).size == 1)

      // the OPQ rotation and its codebook: driver values, nothing cached
      val before2 = persistedRdds
      val err2 = new java.io.ByteArrayOutputStream()
      concurrently(n, err2)(SparkEntry.queries("llm_vector_opq")(s, sf001))
      val cbs = concurrently(n, err2)(PqOps.pqTrain(emb))
      assert(builds(err2, "opq") == 1, err2.toString("UTF-8"))
      assert(builds(err2, "pq|m8|k16|n2048|rtrue") == 1)
      assert(builds(err2, "pq|m8|k16|n2048|rfalse") == 1)
      assert(cbs.forall(_ eq cbs.head))
      assert((persistedRdds -- before2).isEmpty)

      // a fixture query: one write into one directory
      val before3 = graftTemp
      val err3 = new java.io.ByteArrayOutputStream()
      val rows = concurrently(n, err3)(rowsOf(SparkEntry.queries("scan_orc")(s, sf001)))
      assert(builds(err3, "scan_orc") == 1, err3.toString("UTF-8"))
      assert((graftTemp -- before3).size == 1, graftTemp -- before3)
      assert(rows.forall(_ == rows.head) && rows.head.nonEmpty)
      assert(Memo.tags(s).sorted == Seq("ivf|c8", "ivfassign|c8", "opq",
        "pq|m8|k16|n2048|rfalse", "pq|m8|k16|n2048|rtrue", "probe", "scan_orc").sorted)
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

  test("a Memo.dir deleted from outside is rebuilt on next use") {
    val s = spark.newSession()
    val df = s.range(10).toDF("id")
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    def fixture(): String = Memo.dir("probe_dir", df) { d =>
      writes.incrementAndGet()
      df.write.mode("overwrite").parquet(d)
    }
    try {
      val d1 = fixture()
      assert(fixture() == d1 && writes.get == 1)
      Memo.deleteTree(d1)
      val d2 = fixture()
      assert(writes.get == 2 && d2 != d1)
      assert(s.read.parquet(d2).count() == 10)
      // a registered fixture query heals the same way
      val q = SparkEntry.queries("scan_partitioned")
      val before = graftTemp
      val first = rowsOf(q(s, sf001))
      val made = graftTemp -- before
      assert(made.size == 1, made)
      made.foreach(f => Memo.deleteTree(f.getPath))
      assert(rowsOf(q(s, sf001)) == first)
      val remade = graftTemp -- before
      assert(remade.size == 1 && remade != made, remade)
    } finally Memo.clear(s)
  }

  test("a Memo.dir write that throws leaves no dir, and the next call writes one") {
    val s = spark.newSession()
    val df = s.range(10).toDF("id")
    try {
      var seen = ""
      val e = intercept[IllegalStateException](Memo.dir("flaky", df) { d =>
        seen = d
        df.write.mode("overwrite").parquet(d)
        throw new IllegalStateException("disk full")
      })
      assert(e.getMessage == "disk full")
      assert(seen.nonEmpty && !new java.io.File(seen).exists(), seen)
      val ok = Memo.dir("flaky", df)(df.write.mode("overwrite").parquet(_))
      assert(ok != seen && s.read.parquet(ok).count() == 10)
    } finally Memo.clear(s)
  }

  test("Memo.clear changes no result: every memo-building registered query reruns identically") {
    val s: SparkSession = spark.newSession()
    def graftTables: Set[String] = s.catalog.listTables().collect()
      .filter(t => !t.isTemporary && t.name.startsWith("graft_")).map(_.name).toSet
    // every registered query whose construction registers a memo entry:
    // run it, clear, check nothing it made survives, run it again
    val memoized = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (q, fn) =>
      val (before, beforeDirs, beforeTables) = (persistedRdds, graftTemp, graftTables)
      val df = fn(s, sf001)
      if (Memo.tags(s).isEmpty) None
      else {
        val first = rowsOf(df)
        val dirs = graftTemp -- beforeDirs
        Memo.clear(s)
        assert(Memo.tags(s).isEmpty)
        assert((persistedRdds -- before).isEmpty,
          s"$q: cached RDDs outlive Memo.clear: ${persistedRdds -- before}")
        assert(dirs.forall(!_.exists()), s"$q: dirs outlive Memo.clear: $dirs")
        assert((graftTables -- beforeTables).isEmpty,
          s"$q: catalog tables outlive Memo.clear: ${graftTables -- beforeTables}")
        val again = rowsOf(fn(s, sf001))
        Memo.clear(s)
        assert(first == again, s"$q: result changed across Memo.clear")
        Some(q -> dirs.nonEmpty)
      }
    }
    info(s"${memoized.size} memo-building queries: ${memoized.map(_._1).mkString(", ")}")
    assert(memoized.size >= 30, memoized)
    val fixtures = Set("scan_partitioned", "scan_schema_evolution", "scan_orc", "scan_jdbc",
      "scan_dsv2_roundtrip", "join_bucketed", "layout_compact", "layout_compact_digest",
      "scan_avro", "cdc_binlog_roundtrip", "scan_binaryfile", "llm_ivf_append_probe")
    assert(fixtures.subsetOf(memoized.collect { case (q, true) => q }.toSet), memoized)
  }

  test("Memo.clear on one session keeps another session's frame over the same plan cached") {
    // Spark's cache manager is shared by every session: both entries
    // read one cached relation, so clearing one must not unpersist it
    val (s1, s2) = (spark.newSession(), spark.newSession())
    def probe(s: SparkSession): DataFrame = {
      val in = s.range(1000).toDF("id")
      Memo.frame("shared_probe", in)(in.selectExpr("id", "id * 7 % 13 AS k"))
    }
    try {
      probe(s1)
      val kept = probe(s2)
      Memo.clear(s1)
      assert(kept.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "clearing s1 unpersisted the relation s2's live entry reads")
    } finally { Memo.clear(s1); Memo.clear(s2) }
  }

  /** Each `src/main` Scala line `banned(fileName, line)` flags, as
    * `path:line: text`. */
  private def srcMainHits(banned: (String, String) => Boolean): List[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val w = java.nio.file.Files.walk(root)
    try w.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if banned(p.getFileName.toString, l) => s"$p:${i + 1}: ${l.trim}"
      }
    }.toList finally w.close()
  }

  test("src/main hand-rolls no session memo: no interned locks, key sets, fixture roots or session ids") {
    val anywhere = Seq("intern.synchronized", "newKeySet", "/tmp/graft_fixtures")
    // the registry and the private[sql] shim own the session identity
    val hits = srcMainHits((file, line) => anywhere.exists(line.contains) ||
      (line.contains("sessionUUID") && file != "Memo.scala" && file != "Bridge.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("src/main builds its sessions and reads SPARK_GRAFT_CPUS only in Harness, and chunks no queries_part") {
    val hits = srcMainHits((file, line) => line.contains("queries_part") ||
      (file != "Harness.scala" && (line.contains("SparkSession.builder") ||
        line.contains("sys.env.getOrElse(\"SPARK_GRAFT_CPUS\""))))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
