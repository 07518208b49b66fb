package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §7
  * (build plan). Every operator lives in an `OpModule` under
  * `graft.ops`; this object is only the registry.
  */
object SparkEntry {

  private def modules: Seq[OpModule] = Seq(
    ops.Relational,
    ops.Joins,
    ops.Aggs,
    ops.Windows,
    ops.Functions,
    ops.EventOps,
    ops.LlmOps,
    ops.PipelineOps,
    ops.LayoutOps,
    ops.PqOps,
    ops.Multimodal,
    ops.GraphOps,
    ops.Extension,
    ops.AvroWire,
    ops.ProtoWire,
    ops.JsonWire,
    ops.BinlogWire)

  lazy val all: Seq[Op] = {
    val xs = modules.flatMap(_.ops)
    val dup = xs.groupBy(_.key).filter(_._2.size > 1).keys
    require(dup.isEmpty, s"duplicate op keys: ${dup.mkString(",")}")
    xs
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_hash_group")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(o => o.key -> o.fn).toMap

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. Omitted for non-SQL-expressible ops →
    * driver records a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(o => o.oracle.map(sql => o.key -> sql)).toMap

  /** `oracleSql` as the JSON document the driver's json.load reads;
    * Verify and Dev write it beside their dumps. */
  def oracleSqlJson: String = Harness.json(oracleSql)
}
