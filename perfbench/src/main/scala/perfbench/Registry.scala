package perfbench

import graft.{Op, OpModule, SparkEntry}

/** The query sets the workloads run, checked against the engine's
  * registry so a per-module metric never silently loses a query. */
object Registry {
  /** The public operator modules, by the name the per-module metrics
    * use. `SparkEntry` keeps its own list private; [[guard]] fails when
    * the two drift apart. */
  val modules: Seq[(String, OpModule)] = Seq(
    "Relational" -> graft.ops.Relational,
    "Joins" -> graft.ops.Joins,
    "Aggs" -> graft.ops.Aggs,
    "Windows" -> graft.ops.Windows,
    "Functions" -> graft.ops.Functions,
    "EventOps" -> graft.ops.EventOps,
    "LlmOps" -> graft.ops.LlmOps,
    "PipelineOps" -> graft.ops.PipelineOps,
    "LayoutOps" -> graft.ops.LayoutOps,
    "PqOps" -> graft.ops.PqOps,
    "Multimodal" -> graft.ops.Multimodal,
    "GraphOps" -> graft.ops.GraphOps,
    "Extension" -> graft.ops.Extension,
    "AvroWire" -> graft.ops.AvroWire,
    "ProtoWire" -> graft.ops.ProtoWire,
    "JsonWire" -> graft.ops.JsonWire,
    "BinlogWire" -> graft.ops.BinlogWire)

  /** The modules the workloads run queries of, in registry order: the
    * ones `ops.<Module>.sweep_s` is reported for. */
  lazy val measuredModules: Seq[String] = {
    val run = (Main.RegistrySample ++ Main.SoakSample).map(moduleOf).toSet
    modules.map(_._1).filter(run)
  }

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, om) => om.ops.map(_.key -> m) }.toMap

  lazy val ops: Map[String, Op] = SparkEntry.all.map(o => o.key -> o).toMap

  /** The 21 queries `graft.Soak` scales, read from the engine so the
    * two lists cannot drift. The list is private to `graft.Soak`. */
  lazy val soakQueries: Seq[String] = {
    val f = graft.Soak.getClass.getDeclaredField("SoakQueries")
    f.setAccessible(true)
    f.get(graft.Soak).asInstanceOf[Seq[String]]
  }

  /** Generate `graft.Soak`'s k-times corpus of `base` under `work`
    * (`work/x<k>`); the generator is package-private to `graft`. */
  def soakCorpus(spark: org.apache.spark.sql.SparkSession, base: String,
      work: String, k: Int): String = {
    val m = graft.Soak.getClass.getMethod("ensureScaled",
      classOf[org.apache.spark.sql.SparkSession], classOf[String],
      classOf[String], classOf[Int])
    m.invoke(graft.Soak, spark, base, work, Int.box(k))
    s"$work/x$k"
  }

  /** Registry drift guard: the module map built from the public
    * objects must equal `SparkEntry.all` key for key, and every query
    * a workload names must be registered. */
  def guard(workloadKeys: Seq[String]): Unit = {
    val fromModules = modules.flatMap(_._2.ops.map(_.key))
    val dup = fromModules.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    require(dup.isEmpty, s"keys in more than one module: ${dup.mkString(",")}")
    val reg = SparkEntry.all.map(_.key).toSet
    val extra = fromModules.toSet -- reg
    val missing = reg -- fromModules.toSet
    require(extra.isEmpty && missing.isEmpty,
      s"module map differs from SparkEntry.all: not registered=${extra.mkString(",")} " +
        s"no module=${missing.mkString(",")}")
    val unknown = (workloadKeys ++ soakQueries).filterNot(reg)
    require(unknown.isEmpty, s"workload names unregistered queries: ${unknown.mkString(",")}")
    val outside = workloadKeys.filter(Main.WritesOutside)
    require(outside.isEmpty, s"workload runs queries that write outside it: ${outside.mkString(",")}")
    val notSoak = Main.SoakSample.filterNot(soakQueries.contains)
    require(notSoak.isEmpty, s"soak sample names non-Soak queries: ${notSoak.mkString(",")}")
  }
}
