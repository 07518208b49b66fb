package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale techniques of the 100 TB toolkit (SURVEY §4, builder
  * mandate): skew salting and bucketed co-located joins. ScaleSpec
  * proves the behavior — salted results equal plain results, bucketed
  * joins plan without a shuffle — and `agg_salted_skew` (r10) puts the
  * salted rewrite under the DuckDB hash gate.
  */
object Scale {

  /** Two-stage salted aggregation for skewed keys: stage 1 aggregates
    * on (key, salt) — spreading one hot key over `buckets` reducers —
    * stage 2 combines the partials per key. Sum/count decompose
    * exactly; avg = sum/count on the combined partials.
    *
    * AQE's skew handling covers sort-merge JOINS automatically; a
    * pathologically hot GROUP BY key still serializes one reducer,
    * which is what this addresses.
    *
    * The salt is intentionally nondeterministic-per-row (partition id
    * + row position): ANY assignment yields the same result because
    * sum/count decompose over every partition of the rows — which is
    * also why the DuckDB oracle (plain GROUP BY, no salt) applies.
    * Accumulation is exact DECIMAL(38,10) end to end (§5.2): double
    * partials would make the total depend on which salt bucket each
    * row landed in.
    */
  def saltedAgg(df: DataFrame, key: Column, value: Column,
      buckets: Int = 16): DataFrame =
    df.select(key.as("k"), value.as("v"),
        pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets))
          .as("salt"))
      .groupBy("k", "salt")
      .agg(sum(col("v").cast(org.apache.spark.sql.types.DataTypes
        .createDecimalType(38, 10))).as("psum"), count(lit(1)).as("pcnt"))
      .groupBy("k")
      .agg(round(sum("psum"), 6).cast("double").as("total"),
        sum("pcnt").as("cnt"))

  /** The measured partition-sizing law (SCALE.md "Deep point: 256×",
    * SOAK_R13_DEEP*.json): `spark.sql.shuffle.partitions` is a function
    * of data volume. At 1.28M docs the fixed 32 partitions made each
    * posting partition outgrow its memory share and spill I/O became
    * the growing term (containment α_cold 1.28); partitions sized to
    * the data (256) restored the sublinear exponent (0.73). The
    * converse held at the smaller point: 256 partitions at 64× was
    * WORSE than 32 (per-partition overhead dominates when partitions
    * are too small) — so the law must engage only when volume demands
    * it.
    *
    * Operating point, calibrated from both soak measurements: ~1 MB of
    * ESTIMATED INPUT BYTES per shuffle partition. The estimate is
    * Catalyst's `optimizedPlan.stats.sizeInBytes` over the pre-explode
    * input (parquet file statistics — trustworthy; post-explode stats
    * are not), and 1 MB of this corpus's compressed text inflates
    * ~30–60× into posting-join shuffle rows, landing each sized
    * partition right at AQE's 64 MB advisory target. Healthy configs
    * measured: x256 (157 MB on disk) / 256 parts ≈ 1.2 MB-in/part;
    * x64 (38 MB) / 32 parts ≈ 1.2 MB-in/part.
    *
    * Floor = the session's shuffle-partition setting, so at oracle
    * scales (sf0.01/sf0.1) the law is a no-op and plans stay
    * byte-identical. Cap = 4096: past that, this single-box harness is
    * not the instrument — on a cluster the same law is what AQE's
    * `initialPartitionNum` + advisory partition size automate, and the
    * cap also bounds the damage if a stats estimate degenerates to
    * `defaultSizeInBytes` (unknown-stats sentinel).
    */
  def sizedPartitions(input: DataFrame,
      bytesPerPartition: Long = 1L << 20,
      maxPartitions: Int = 4096): Int = {
    val sessionDefault =
      input.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val est = input.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (est / bytesPerPartition).min(BigInt(maxPartitions)).toInt
    math.max(sessionDefault, want)
  }

  /** The law as a value call sites can thread: `Some(n)` when the
    * pre-explode input's size estimate demands more partitions than
    * the session default, `None` otherwise. Evaluated ONCE per query
    * build against the un-exploded input (parquet-stat-backed; stats
    * after a shingle/posting explode are fiction), then applied at
    * each of the query's heavy exchanges via [[repartitionSized]] /
    * [[shuffleSized]].
    */
  def sizedShuffle(stats: DataFrame,
      bytesPerPartition: Long = 1L << 20): Option[Int] = {
    val n = sizedPartitions(stats, bytesPerPartition)
    if (n > stats.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      Some(n)
    else None
  }

  /** A repartition the law may widen: `repartition(n, keys)` when
    * engaged, the byte-identical-to-r13 `repartition(keys)` (implicit
    * session count, AQE-coalescible) otherwise. For materialization
    * points that exist in the plan either way.
    */
  def repartitionSized(sized: Option[Int], df: DataFrame,
      keys: Column*): DataFrame = sized match {
    case Some(n) => df.repartition(n, keys: _*)
    case None    => df.repartition(keys: _*)
  }

  /** A shuffle the law may INTRODUCE: when engaged, pin `df` to an
    * n-way hash partitioning on `keys` so the downstream join/window
    * that clusters on those keys adopts it (EnsureRequirements sees
    * the distribution satisfied — no second exchange) instead of
    * inserting its own session-default-width exchange; when the law
    * is a no-op, NO plan change at all. This is the fix for the 256×
    * soak point: the candidate-join shuffle was the overflow (AQE
    * coalesces partitions down, never splits an un-skewed stage up,
    * so a fixed 32 stayed 32 at every scale).
    */
  def shuffleSized(sized: Option[Int], df: DataFrame,
      keys: Column*): DataFrame = sized match {
    case Some(n) => df.repartition(n, keys: _*)
    case None    => df
  }

  /** The sizing law's SHRINK direction (r15, the graph_reachability
    * case): an iterative query whose per-round relation is bounded by
    * a SMALL key domain (a BFS frontier ≤ |suppliers|, a label-prop
    * round ≤ |nodes|) should not pay session-default-width exchanges
    * per round — at local[32] a 4-level BFS was spending more on
    * 32-task micro-stages than on data. Partitions = the bounding
    * relation's stats estimate at the same ~1 MB/partition operating
    * point, clamped to [1, session default] — the mirror image of
    * [[sizedPartitions]] (whose floor is the session default): this
    * never EXCEEDS the session setting, so on a real cluster where
    * the bound relation is genuinely large the round exchanges keep
    * their full width and AQE coalesces as usual. Distinctness on a
    * round's key then needs no second exchange:
    * `repartition(n, key) + dropDuplicatesWithinPartitions` is exact
    * (equal keys co-locate by construction).
    */
  def frontierPartitions(bound: DataFrame,
      bytesPerPartition: Long = 1L << 20): Int = {
    val sessionDefault =
      bound.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val est = bound.queryExecution.optimizedPlan.stats.sizeInBytes
    (est / bytesPerPartition).max(BigInt(1))
      .min(BigInt(sessionDefault)).toInt
  }

  /** Salted fact⋈dim equi join for skewed fact keys: the fact side
    * gets a nondeterministic-but-irrelevant salt in [0, buckets), the
    * dim side is REPLICATED once per salt value (explode over the
    * bucket range — dim×buckets rows, fine for a dim), and the join
    * runs on (key, salt) — so one hot fact key spreads over `buckets`
    * reducers instead of serializing one. Every fact row matches
    * exactly the one replica carrying its salt, so the result
    * multiset is EXACTLY the plain join's for any salt assignment —
    * which is why the plain-join SQL can oracle it.
    *
    * This is the rewrite for when AQE's skew-join split can't engage
    * (it needs sort-merge stages it can re-plan) or when the skew is
    * known ahead of time; `buckets` times dim replication is the
    * price, so it suits genuine dims, not fact⋈fact.
    */
  def saltedJoin(fact: DataFrame, factKey: Column,
      dim: DataFrame, dimKey: Column, buckets: Int = 16): DataFrame = {
    val salted = fact.withColumn("graft_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
    val replicated = dim.withColumn("graft_salt",
      explode(sequence(lit(0L), lit(buckets - 1L))))
    salted.hint("merge").join(replicated,
      factKey === dimKey && salted("graft_salt") === replicated("graft_salt"))
      .drop("graft_salt")
  }
}
