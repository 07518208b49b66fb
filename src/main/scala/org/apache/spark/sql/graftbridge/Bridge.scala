package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal private[sql] bridge for the custom-operator layer
  * (graft.plans): building a DataFrame from a LogicalPlan and
  * extracting the Catalyst expression behind a public Column are
  * private[sql] in Spark 4 — the standard extension-library pattern
  * is a shim object under org.apache.spark.sql.
  */
object Bridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expr(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Inverse of [[expr]] — wrap a Catalyst expression as a public
    * Column. Needed for expressions whose parameters are not
    * SQL-literal-expressible (e.g. a Bloom filter's bit array), which
    * therefore can't go through the function-registry path the other
    * graft kernels use. */
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Collision-free per-session identity (ADVICE r4: identityHashCode
    * keys can alias across live sessions) — `sessionUUID` is
    * private[sql] in Spark 4's public facade. */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** `df` with every CTE inlined into a plain operator tree. A temp
    * view registered from a `WITH`-clause DataFrame stores a WithCTE
    * plan whose CTERelationDef ids are RENUMBERED relative to the
    * consumer query during plan normalization (an embedded fragment's
    * defs shift behind any outer defs), so CacheManager's fragment
    * walk can never match it against the standalone cache key — a
    * persisted `WITH` build is silently rebuilt inside every
    * consumer. Inlining before persist+register removes the WithCTE
    * wrapper entirely, making the view fragment the same plain tree
    * the cache is keyed on (the form CTE-free builds get for free).
    *
    * Precondition: `df` is deterministic. Inlining copies a CTE into
    * each of its references, so a `rand()` or `uuid()` inside one
    * would be evaluated once per copy instead of once; `graft.Memo`
    * checks this before it persists a build. */
  def inlineCtes(df: DataFrame): DataFrame =
    ofRows(df.sparkSession,
      org.apache.spark.sql.catalyst.optimizer.InlineCTE(alwaysInline = true)
        .apply(df.queryExecution.analyzed))

  /** The catalog tables, in every database, whose storage location
    * lies under `dir` — as quoted `db`.`table` names. */
  def tablesUnder(spark: SparkSession, dir: String): Seq[String] = {
    val ext = spark.asInstanceOf[classic.SparkSession].sharedState.externalCatalog
    val root = java.nio.file.Paths.get(dir)
    for {
      db <- ext.listDatabases()
      t <- ext.listTables(db)
      if ext.getTable(db, t).storage.locationUri.exists(u =>
        Option(u.getPath).exists(java.nio.file.Paths.get(_).startsWith(root)))
    } yield s"`$db`.`$t`"
  }

  /** Re-wrap a DataFrame's rows as a flat LogicalRDD leaf WITHOUT the
    * InternalRow → Row → InternalRow round-trip that
    * `createDataFrame(df.rdd, df.schema)` pays: `toRdd` hands back the
    * physical plan's InternalRow RDD directly (for a cached df, the
    * columnar-scan iterator), and `internalCreateDataFrame` wraps it
    * as a leaf — the same mechanism `Dataset.checkpoint` uses. This is
    * the iterative-algorithm pattern: each round's plan stays flat
    * instead of nesting the previous round's (analysis would otherwise
    * grow exponentially when a round references its predecessor more
    * than once), and a round's cache entry can be dropped without
    * CacheManager invalidating its successors' buffers.
    */
  def rewrapInternal(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    // LogicalRDD.fromDataset (what Dataset.checkpoint uses) rather
    // than internalCreateDataFrame: it CARRIES THE ORIGIN'S STATISTICS
    // and constraints onto the new leaf. A bare LogicalRDD defaults to
    // sizeInBytes = defaultSizeInBytes (huge), which silently turns
    // every broadcast-eligible join over the rewrapped frame into a
    // sort-merge join — measured 1.7× on the CC loop.
    ofRows(ds.sparkSession, org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }
}
