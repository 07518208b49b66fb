package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local[4] session for every suite (spark_guide.md:177-190). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
  /** bench-scale corpus — used sparingly (candidate-volume audits) */
  val sf1 = "/root/testdata/sf0.1"

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A fresh directory under the system temp dir, deleted after the
    * suite. */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tmpDirs.add(d)
    d
  }

  /** Drop the memo entries this suite made in the shared session (its
    * cached frames, fixture dirs and their catalog tables), then delete
    * its [[tmpDir]]s. Spark's cache manager is shared across sessions,
    * so a frame left cached here would turn a later suite's persist of
    * the same plan into a no-op. */
  override def afterAll(): Unit =
    try Memo.clear(spark)
    finally try tmpDirs.forEach(d => Memo.deleteTree(d)) finally super.afterAll()
}
