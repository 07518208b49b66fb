package perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics from the traced stretches of a traced run, plus
  * the tracing overhead: traced minus untraced for each end-to-end
  * metric both stretches measure. The stretches alternate (U T T U),
  * so neither gets more of the JVM's warm-up. */
class Layers(s: SparkSession, untraced: Measured, traced: Measured,
    untracedE2e: Map[String, Metric], tracedE2e: Map[String, Metric],
    coldRuns: Seq[QueryRun], memoBuilds: Int, cpus: Int, bt: BatchTrace, st: StreamTrace) {

  def compute(): Map[String, Metric] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Metric]()
    batch(bt, traced, out)
    stream(st, traced, out)
    Kernels.nsPerRow(s).foreach { case (k, v) => out(s"kernel.$k.ns_per_row") = Metric(v, "ns", 5) }
    Overhead.foreach { k =>
      out(s"overhead.$k") = Metric(tracedE2e(k).value - untracedE2e(k).value,
        untracedE2e(k).unit, tracedE2e(k).n)
    }
    out("lag_p99_s") = Metric(traced.lagQuantile(0.99), "s", traced.lags.length)
    out("overhead.lag_p99_s") = Metric(traced.lagQuantile(0.99) - untraced.lagQuantile(0.99),
      "s", traced.lags.length)
    out.toMap
  }

  private def batch(bt: BatchTrace, m: Measured,
      out: scala.collection.mutable.Map[String, Metric]): Unit = {
    val execs = bt.execs.toSeq.filter(_._2.group.nonEmpty).groupBy(_._2.group.get)
    // per pass totals of each counter; the metric is their median
    val perPass = m.passes.map { pass =>
      val t = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
      pass.foreach { r =>
        // the write's executions start after the build returned
        val write = execs.getOrElse(r.group, Nil).filter(_._2.startMs >= r.writeStartMs)
        val plans = write.flatMap { case (id, _) => bt.planned.get(id) }
        t("total") += r.totalS
        t("ops.build_s") += r.buildS
        Seq("analysis", "optimization", "planning").foreach { ph =>
          t(s"plan.${ph}_s") += plans.map(_.phases.getOrElse(ph, 0.0)).sum
        }
        t("plan.nodes") += plans.map(_.nodes).sum
        // an execution's span also covers its optimization and planning
        t("exec.s") += write.collect { case (id, e) if e.endMs >= 0 =>
          val p = bt.planned.get(id).map(_.phases).getOrElse(Map.empty)
          math.max(0.0, (e.endMs - e.startMs) / 1e3 -
            p.getOrElse("optimization", 0.0) - p.getOrElse("planning", 0.0))
        }.sum
        bt.groups.get(r.group).foreach { c =>
          t("exec.jobs") += c.jobs
          t("exec.stages") += c.stages
          t("exec.tasks") += c.tasks
          t("exec.task_s") += c.taskMs / 1e3
          t("exec.gc_s") += c.gcMs / 1e3
          t("scan.input_mb") += c.inputBytes / 1e6
          t("scan.records") += c.inputRecords
          t("shuffle.write_mb") += c.shuffleWrite / 1e6
          t("shuffle.read_mb") += c.shuffleRead / 1e6
          t("shuffle.spill_mb") += c.spill / 1e6
          if (c.touchedPersisted) t("memo.hit_queries") += 1
        }
      }
      t("exec.slot_util") = t("exec.task_s") / (t("total") * cpus)
      t("trace.accounted_frac") = (t("ops.build_s") + t("plan.analysis_s") +
        t("plan.optimization_s") + t("plan.planning_s") + t("exec.s")) / t("total")
      t
    }
    val n = m.passes.size.toLong
    val units = Map("plan.nodes" -> "count", "exec.jobs" -> "count", "exec.stages" -> "count",
      "exec.tasks" -> "count", "scan.records" -> "count", "memo.hit_queries" -> "count",
      "exec.slot_util" -> "ratio", "trace.accounted_frac" -> "ratio", "scan.input_mb" -> "MB",
      "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.spill_mb" -> "MB")
    BatchKeys.foreach { k =>
      out(k) = Metric(Stats.median(perPass.map(_(k))), units.getOrElse(k, "s"), n)
    }
    val byQuery = m.passes.flatten.filter(_.error.isEmpty).groupBy(_.key)
      .map { case (k, v) => k -> Stats.median(v.map(_.totalS)) }
    val runs = m.passes.flatten.filter(_.error.isEmpty)
    Registry.measuredModules.foreach { mod =>
      val qs = byQuery.filter { case (k, _) => Registry.moduleOf(k) == mod }
      out(s"ops.$mod.sweep_s") = Metric(qs.values.sum, "s",
        runs.count(r => Registry.moduleOf(r.key) == mod))
    }
    // memo set-up: the cached relations the last set-up made, and how
    // much longer its DataFrame builds took than the timed median
    val warmBuild = untraced.passes.flatten.groupBy(_.key)
      .map { case (k, v) => k -> Stats.median(v.map(_.buildS)) }
    out("memo.builds") = Metric(memoBuilds, "count", 1)
    out("memo.build_s") = Metric(coldRuns.map(r =>
      math.max(0.0, r.buildS - warmBuild.getOrElse(r.key, r.buildS))).sum, "s", coldRuns.size)
    out("memo.cached_rdds") = Metric(m.cacheRdds, "count", 1)
  }

  private def stream(st: StreamTrace, m: Measured,
      out: scala.collection.mutable.Map[String, Metric]): Unit = {
    import scala.jdk.CollectionConverters._
    val heardAll = st.progress.asScala.toSeq
    // per traced pipeline run: what the listener heard, the batches of
    // the open-loop phase, and the sink spans of those batches
    val per = m.streams.map { o =>
      val runIds = o.progress.map(_.runId).toSet
      val heard = heardAll.filter(p => runIds(p.runId))
      val openIds = o.openProgress.map(_.batchId).toSet
      (heard, heard.filter(p => openIds(p.batchId)), o.spans.filter(x => openIds(x.batchId)))
    }
    val heard = per.flatMap(_._1)
    val open = per.flatMap(_._2)
    def dur(k: String) = open.map(_.durationMs.getOrDefault(k, 0L).toDouble)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    out("stream.trigger_ms_p50") = Metric(p50(dur("triggerExecution")), "ms", open.size)
    out("stream.addBatch_ms_p50") = Metric(p50(dur("addBatch")), "ms", open.size)
    out("stream.walCommit_ms_p50") = Metric(p50(dur("walCommit")), "ms", open.size)
    out("stream.batches") = Metric(heard.count(_.numInputRows > 0), "count", heard.size)
    out("stream.rows_per_batch") = Metric(p50(open.map(_.numInputRows.toDouble)), "count", open.size)
    out("stream.backlog_max_events") = Metric(m.streams.map(_.backlogMax).max, "count", open.size)
    out("stream.prime_s") = Metric(Stats.median(m.streams.map(_.primeS)), "s", m.streams.size)
    // the routed pipeline writes plain sinks, the two-phase one stages
    // and commits; each metric's n counts the sink calls it sums, so
    // the other pipeline's metrics read 0 with n = 0
    def spans(kind: String) = per.flatMap(_._3).filter(_.kind == kind)
    def spanS(kind: String) = Metric(spans(kind).map(_.seconds).sum, "s", spans(kind).size)
    // busy share of each run's stretch from its first open-phase sink
    // call to the end of its last one
    val stretchS = per.map { case (_, _, sp) =>
      if (sp.isEmpty) 0.0 else (sp.map(_.endNs).max - sp.map(_.startNs).min) / 1e9
    }.sum
    val write = spanS("write")
    out("sink.write_s") = write
    out("sink.busy_frac") = Metric(if (stretchS > 0) write.value / stretchS else 0.0, "ratio", write.n)
    out("twopc.stage_s") = spanS("stage")
    out("twopc.decide_s") = spanS("decide")
    out("twopc.commit_s") = spanS("commit")
    val late = m.streams.flatMap(_.lateMs)
    out("gen.late_p99_ms") = Metric(Stats.quantile(late, 0.99), "ms", late.size)
  }

  private val BatchKeys = Seq("ops.build_s", "plan.analysis_s", "plan.optimization_s",
    "plan.planning_s", "plan.nodes", "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_s", "exec.slot_util", "exec.gc_s", "scan.input_mb", "scan.records",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb", "memo.hit_queries",
    "trace.accounted_frac")

  private val Overhead = Seq("sweep_s", "query_geomean_s", "lag_p50_s", "drain_eps")
}
