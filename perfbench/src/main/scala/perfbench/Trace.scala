package perfbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-job-group counters from Spark's task metrics. */
final class GroupCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var gcMs = 0L
  var inputBytes = 0L; var inputRecords = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var touchedPersisted = false
}

/** One SQL execution: its job group and wall-clock span. */
final class ExecRecord(val group: Option[String], val startMs: Long) {
  @volatile var endMs: Long = -1L
}

/** Catalyst phase times and optimized plan size of one execution. */
final case class Planned(phases: Map[String, Double], nodes: Int)

/** Batch tracing from outside the engine, as a `SparkListener`. Events
  * arrive on the listener bus asynchronously and the bus cannot be
  * drained from user code, so every event is attributed by the job group
  * the sweep sets around each query, and [[settle]] polls until the
  * records are complete. */
final class BatchTrace(spark: SparkSession) extends SparkListener {
  val groups = TrieMap[String, GroupCounters]()
  val execs = TrieMap[Long, ExecRecord]()
  /** Catalyst phases by SQL execution id. */
  val planned = TrieMap[Long, Planned]()
  private val stageGroup = TrieMap[Int, String]()
  @volatile private var lastEventNs = System.nanoTime()

  def attach(): Unit = spark.sparkContext.addSparkListener(this)
  def detach(): Unit = spark.sparkContext.removeSparkListener(this)

  private def counters(g: String): GroupCounters = groups.getOrElseUpdate(g, new GroupCounters)
  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      val c = counters(g)
      c.synchronized {
        c.jobs += 1
        if (e.stageInfos.exists(_.rddInfos.exists(r => r.storageLevel.useMemory || r.storageLevel.useDisk)))
          c.touchedPersisted = true
      }
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    stageGroup.get(e.stageInfo.stageId).foreach { g =>
      val c = counters(g); c.synchronized { c.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(g)
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      touch(); execs.putIfAbsent(s.executionId, new ExecRecord(s.jobGroupId, s.time)); ()
    case s: SparkListenerSQLExecutionEnd =>
      touch()
      execs.get(s.executionId).foreach(_.endMs = s.time)
      // the end event carries the execution's QueryExecution in a field
      // Spark keeps package-private, so it is read reflectively; a
      // QueryExecutionListener sees the same object but not the id
      Option(s.getClass.getMethod("qe").invoke(s).asInstanceOf[QueryExecution]).foreach { qe =>
        planned.put(s.executionId, Planned(
          qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 },
          qe.optimizedPlan.collect { case p => p }.size))
      }
    case _ => ()
  }


  /** Wait until every traced execution has ended and the bus has been
    * quiet for a while. */
  def settle(timeoutS: Double = 20): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    def done = execs.values.forall(r => r.group.isEmpty || r.endMs >= 0) &&
      System.nanoTime() - lastEventNs > 300000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(50)
    done
  }
}

/** Streaming progress as a `StreamingQueryListener` reports it. */
final class StreamTrace extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Per-row cost of the engine's fused kernels, timed from outside by
  * materializing each over cached generated input, against a baseline
  * that reads the same input columns and yields one scalar without the
  * kernel. The difference is reported as measured, so it can be
  * negative when a kernel costs less than the timing noise. */
object Kernels {
  private val rows = 100000L
  private val input = Seq(
    "transform(sequence(1, 24), i -> concat('w', cast((id * 31 + i * 7) % 997 AS STRING))) AS toks",
    "transform(sequence(1, 64), i -> cast((id * i) % 97 AS DOUBLE) / 97.0) AS v",
    "array(transform(sequence(1, 64), i -> cast(i AS DOUBLE) / 64.0), " +
      "transform(sequence(1, 64), i -> cast(64 - i AS DOUBLE) / 64.0)) AS cents")
  /** Each kernel and its baseline over the same input columns. */
  private val kernels = Seq(
    "graft_minhash" -> ("graft_minhash(toks, 16)", "size(toks)"),
    "graft_simhash_text" -> ("graft_simhash_text(toks)", "size(toks)"),
    "graft_dot" -> ("graft_dot(v, v)", "size(v)"),
    "graft_best_centroid" -> ("graft_best_centroid(v, cents)", "size(v) + size(cents)"),
    "graft_rpbands" -> ("graft_rpbands(v, 16, 24, 7)", "size(v)"))

  def nsPerRow(spark: SparkSession, reps: Int = 5): Map[String, Double] = {
    graft.functions.VectorKernels.register(spark)
    val base = spark.range(rows).selectExpr(input: _*).cache()
    try {
      base.write.format("noop").mode("overwrite").save()
      def time(expr: String): Double = {
        val df = base.selectExpr(s"$expr AS k")
        Stats.median((1 to reps).map { _ =>
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0).toDouble
        })
      }
      kernels.map { case (n, (kernel, floor)) =>
        n -> (time(kernel) - time(floor)) / rows
      }.toMap
    } finally { base.unpersist(); () }
  }
}
