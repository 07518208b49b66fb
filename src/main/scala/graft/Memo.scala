package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** The session memo registry: per-corpus state an op builds once per
  * session and every later call re-reads — token arrays, shingle
  * bases, value grids, session intervals, rank and label tables, IVF
  * assignments, PQ codebooks — and the on-disk fixtures an op writes
  * once and reads by path (partitioned, ORC, Avro and Derby copies, a
  * bucketed table pair, an IVF base index). It is the in-session
  * stand-in for the materialized tables a production pipeline
  * maintains per corpus snapshot; the first call pays the build, later
  * calls read the cached relation or the written directory.
  *
  *  - '''Key''': (session, `tag`, `inputs`). `inputs` are the frames
  *    the build reads, matched by `sameResult` on their normalized
  *    plans — the test CacheManager itself uses — so the corpus path
  *    (carried by the scan) and any caller-side construction over it
  *    (clone plantings, projections) are part of the key. `tag` names
  *    the build and carries its scalar parameters only.
  *  - '''Lock''': each entry has its own lock and the build runs under
  *    it, so concurrent first calls on one key run exactly one build
  *    while other keys never wait on it. A build registers any temp
  *    view its own SQL reads inside the build, under that lock.
  *  - '''Build''': [[frame]] runs [[Bridge.inlineCtes]] on the built
  *    frame (so the cached relation matches inside every consumer),
  *    requires its analyzed plan to be deterministic, persists it
  *    MEMORY_AND_DISK and materializes it; [[value]] keeps a
  *    driver-side result as it is; [[dir]] makes a fresh directory
  *    under the system temp dir and lets `write` fill it. A `write`
  *    that throws leaves no directory and no entry result, so the next
  *    call retries; a hit whose directory has vanished from outside
  *    rebuilds into a new one. Each build writes one stderr line with
  *    its tag and seconds (stderr: Bench's stdout is parsed).
  *  - '''Clear''': [[clear]] drops every entry of a session: it
  *    unpersists the frames no other session's entry shares, and
  *    deletes the directories together with any catalog table stored
  *    under them. A dropped entry rebuilds from lineage on its next use
  *    (the D-Streams recovery argument): a build is a deterministic
  *    function of its inputs, so clearing costs time and never changes
  *    a result. [[Harness.session]] clears every main's session before
  *    it stops it.
  *
  * There is no byte budget and no eviction policy here: Spark's
  * MemoryStore already evicts cached blocks least-recently-used first
  * and MEMORY_AND_DISK spills them, so a second policy would duplicate
  * that one.
  */
object Memo {

  /** A [[dir]] result, told apart from a [[value]] that is a string. */
  private final case class Dir(path: String)

  private final class Entry(val session: String, val tag: String,
      val inputs: Seq[LogicalPlan]) {
    // both written under this entry's lock; `result` is also read
    // without it when another session's entry is freed
    @volatile var result: Option[Any] = None
    var dropped = false

    def matches(s: String, t: String, in: Seq[LogicalPlan]): Boolean =
      session == s && tag == t && inputs.length == in.length &&
        inputs.zip(in).forall { case (a, b) => a.sameResult(b) }
  }

  // guarded by Memo's own lock, which is never held during a build
  private var live = Vector.empty[Entry]

  private def entry(tag: String, inputs: Seq[DataFrame]): Entry = {
    require(inputs.nonEmpty, s"memo $tag: no input frames to key it on")
    val sid = Bridge.sessionUUID(inputs.head.sparkSession)
    val plans = inputs.map(_.queryExecution.normalized)
    synchronized {
      live.find(_.matches(sid, tag, plans)).getOrElse {
        val e = new Entry(sid, tag, plans)
        live :+= e
        e
      }
    }
  }

  private def memo[T](tag: String, inputs: Seq[DataFrame])(build: => T): T = {
    val e = entry(tag, inputs)
    val got = e.synchronized {
      if (e.dropped) None // cleared between lookup and lock: look up again
      else Some(e.result.filter(present).getOrElse {
        e.result.foreach(free(inputs.head.sparkSession)) // a vanished dir's tables
        e.result = None
        val t0 = System.nanoTime()
        val r = build
        e.result = Some(r)
        Console.err.println(f"graft: memo $tag built in ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      })
    }
    got.getOrElse(memo(tag, inputs)(build)).asInstanceOf[T]
  }

  /** The driver-side value `build` computes from `inputs`, once per
    * session. */
  def value[T](tag: String, inputs: DataFrame*)(build: => T): T =
    memo(tag, inputs)(build)

  /** The persisted, materialized frame `build` derives from `inputs`,
    * once per session. */
  def frame(tag: String, inputs: DataFrame*)(build: => DataFrame): DataFrame =
    frameFreeing(tag, inputs: _*)((build, Nil))

  /** [[frame]] for a build that persists intermediates of its own (an
    * iterative loop's last round, a multiply-read edge list): `build`
    * returns the result and those intermediates, which are unpersisted
    * once the result is materialized. */
  def frameFreeing(tag: String, inputs: DataFrame*)(
      build: => (DataFrame, Seq[DataFrame])): DataFrame =
    memo(tag, inputs) {
      val (df, scratch) = build
      try {
        val b = Bridge.inlineCtes(df)
        require(b.queryExecution.analyzed.deterministic,
          s"memo $tag: the build is not deterministic, so a rebuild after " +
            "Memo.clear could return a different result")
        b.persist(StorageLevel.MEMORY_AND_DISK).count()
        b
      } finally scratch.foreach(_.unpersist(blocking = false))
    }

  /** A fresh directory `write` fills from `inputs`, once per session:
    * an on-disk fixture later calls read by path. `write` runs under
    * the entry's lock; if it throws, the directory is deleted and the
    * next call writes a new one. A hit whose directory has vanished
    * writes a new one too. */
  def dir(tag: String, inputs: DataFrame*)(write: String => Unit): String =
    memo(tag, inputs) {
      val d = Files.createTempDirectory(s"graft_${tag}_").toString
      try write(d)
      catch { case t: Throwable => free(inputs.head.sparkSession)(Dir(d)); throw t }
      Dir(d)
    }.path

  private def present(result: Any): Boolean = result match {
    case Dir(p) => Files.isDirectory(Paths.get(p))
    case _ => true
  }

  /** Release what one entry result holds: unpersist a frame unless a
    * live entry holds a frame with the same result (Spark's cache
    * manager is shared by every session, so both read one cached
    * relation); drop the catalog tables stored under a directory, then
    * delete it. */
  private def free(spark: SparkSession)(result: Any): Unit = result match {
    case df: Dataset[_] =>
      val plan = df.queryExecution.normalized
      val shared = synchronized(live).exists(_.result.exists {
        case o: Dataset[_] => o.queryExecution.normalized.sameResult(plan)
        case _ => false
      })
      if (!shared) df.unpersist(blocking = false)
    case Dir(p) =>
      Bridge.tablesUnder(spark, p).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      deleteTree(p)
    case _ =>
  }

  /** Deletes the file or directory tree at `path`, if there is one;
    * symbolic links are deleted, never followed. */
  def deleteTree(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root, LinkOption.NOFOLLOW_LINKS)) {
      val w = Files.walk(root)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach { f => Files.deleteIfExists(f); () }
      finally w.close()
    }
  }

  /** Drop every entry of `spark`'s session: unpersist its frames and
    * delete its directories (see [[free]]); an entry whose build is
    * running is dropped once the build ends. */
  def clear(spark: SparkSession): Unit = {
    val sid = Bridge.sessionUUID(spark)
    val mine = synchronized {
      val (m, rest) = live.partition(_.session == sid)
      live = rest
      m
    }
    mine.foreach(e => e.synchronized {
      e.dropped = true
      e.result.foreach(free(spark))
    })
  }

  /** The tags of `spark`'s live entries, one per entry. */
  def tags(spark: SparkSession): Seq[String] = {
    val sid = Bridge.sessionUUID(spark)
    synchronized(live.filter(_.session == sid).map(_.tag))
  }
}
