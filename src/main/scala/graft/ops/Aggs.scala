package graft.ops

import graft.{Memo, Op, OpModule, Tables}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Typed UDAF (SURVEY §2.4 op 32): weighted average, weight = quantity.
  * An `Aggregator` gets partial (map-side) aggregation for free — the
  * buffer is merged across partitions, so at 100 TB the shuffle carries
  * one (wsum, w) pair per group per partition, not raw rows.
  */
case class WeightedIn(price: Double, weight: Double)
case class WeightedBuf(var wsum: Double, var w: Double)

object WeightedAvg extends Aggregator[WeightedIn, WeightedBuf, Double] {
  override def zero: WeightedBuf = WeightedBuf(0.0, 0.0)
  override def reduce(b: WeightedBuf, a: WeightedIn): WeightedBuf = {
    b.wsum += a.price * a.weight; b.w += a.weight; b
  }
  override def merge(b1: WeightedBuf, b2: WeightedBuf): WeightedBuf = {
    b1.wsum += b2.wsum; b1.w += b2.w; b1
  }
  override def finish(b: WeightedBuf): Double =
    if (b.w == 0.0) Double.NaN else b.wsum / b.w
  override def bufferEncoder: Encoder[WeightedBuf] = Encoders.product[WeightedBuf]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** One top-k candidate row flowing through [[TopKAgg]]. */
case class TopKIn(price: Double, okey: Long, line: Int)
case class TopKBuf(var items: List[TopKIn])

/** Grouped top-k as a PARTIAL-AGGREGATING operator — the 100 TB
  * alternative to the rank-window form (`win_topk_group`): the window
  * shuffles EVERY row to its group's reducer and sorts there; this
  * Aggregator truncates to k rows per group map-side, so the shuffle
  * carries at most k·partitions rows per group and the reducer merges
  * k-bounded lists instead of sorting the world. Exactly the
  * TakeOrderedAndProject trick (`limit_topk`), generalized per group.
  *
  * Total order: price DESC, then (okey, line) ASC — a unique key set,
  * so the result is deterministic and ≡ the row_number window, which
  * is what the DuckDB oracle runs.
  */
case class TopKAgg(k: Int) extends Aggregator[TopKIn, TopKBuf, Seq[TopKIn]] {
  private def before(a: TopKIn, b: TopKIn): Boolean =
    a.price > b.price || (a.price == b.price &&
      (a.okey < b.okey || (a.okey == b.okey && a.line < b.line)))
  /** O(k) bounded sorted insert — k is a small literal, so per-row
    * cost is a short pointer walk, no allocation beyond list cells. */
  private def put(xs: List[TopKIn], v: TopKIn): List[TopKIn] = {
    val (pre, post) = xs.span(before(_, v))
    if (pre.lengthCompare(k) >= 0) xs else (pre ::: v :: post).take(k)
  }
  override def zero: TopKBuf = TopKBuf(Nil)
  override def reduce(b: TopKBuf, a: TopKIn): TopKBuf = {
    b.items = put(b.items, a); b
  }
  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
    var rest = b.items
    while (rest.nonEmpty) { a.items = put(a.items, rest.head); rest = rest.tail }
    a
  }
  override def finish(b: TopKBuf): Seq[TopKIn] = b.items
  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[Seq[TopKIn]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[TopKIn]]()
}

/** Aggregations (SURVEY.md §2.4). All group-bys are hash aggregates
  * with automatic partial aggregation (map-side combine) — the only
  * data crossing the shuffle is one row per (partition, group).
  * Doubles produced by aggregation are rounded to 6dp on both sides
  * (double addition is order-sensitive; SURVEY §5.2).
  */
object Aggs extends OpModule {

  /** Input-size ceiling for exact aggregates whose per-group state is
    * unbounded (exact `percentile` buffers EVERY value of a group).
    * 8 GiB of estimated input is far past any oracle/bench scale yet
    * well before a hot group's buffer threatens an executor heap; a
    * 100 TB caller hits the require and is pointed at the bounded-
    * state registered substitute instead of spilling unboundedly.
    */
  val MaxExactAggInputBytes: Long = 8L << 30

  /** The executable form of SCALE.md's "known-unsafe exact forms"
    * boundary: same Catalyst stats estimate the partition-sizing law
    * reads ([[Scale.sizedPartitions]]), zero cost beyond plan
    * analysis, fails loudly toward `substitute` instead of letting an
    * unbounded-state aggregate onto a 100 TB input.
    */
  private[graft] def requireExactAggSafe(df: org.apache.spark.sql.DataFrame,
      op: String, substitute: String): org.apache.spark.sql.DataFrame = {
    // ceiling overridable via session conf so the wiring (not just
    // this helper) is testable: a spec can set a 1-byte ceiling and
    // assert the REGISTERED op refuses with the substitute's name
    val ceiling = df.sparkSession.conf
      .get("graft.exactAgg.maxInputBytes", MaxExactAggInputBytes.toString)
      .toLong
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    require(est <= ceiling,
      s"$op buffers whole groups in aggregation state; estimated input " +
        s"$est B exceeds ${ceiling} B — use $substitute " +
        "(bounded-state sketch) at this scale")
    df
  }

  /** Shared log2-histogram SQL (agg_histogram_log2): identical on
    * both engines except the power-of-two lower bound, spliced as a
    * shift expression (Spark `shiftleft` / DuckDB `<<`) — never
    * libm pow. */
  private def histogramLog2Sql(table: String, shift: String): String =
    s"""WITH c AS (
          SELECT event_type,
            CAST(round(value * 100, 0) AS BIGINT) AS cents
          FROM $table),
        b AS (
          SELECT event_type,
            CASE WHEN cents <= 0 THEN 0
                 ELSE length(bin(cents)) END AS bucket
          FROM c)
        SELECT event_type, CAST(bucket AS INTEGER) AS bucket,
          CAST(CASE WHEN bucket = 0 THEN 0 ELSE $shift END AS BIGINT)
            AS lo_cents,
          count(*) AS n
        FROM b GROUP BY event_type, bucket
        ORDER BY event_type, bucket"""

  /** Shared MAD-anomaly SQL (agg_mad_anomaly): same string for both
    * engines with only the exact-median function name spliced
    * (Spark `percentile` / DuckDB `quantile_cont` — interpolation
    * agreement under the 6dp round is the agg_percentile precedent).
    */
  private def madAnomalySql(table: String, fn: String): String =
    s"""WITH med AS (
          SELECT event_type, round($fn(value, 5e-1), 6) AS med
          FROM $table GROUP BY event_type),
        dev AS (
          SELECT e.event_id, e.event_type, e.value, m.med,
            abs(e.value - m.med) AS ad
          FROM $table e JOIN med m ON e.event_type = m.event_type),
        mad AS (
          SELECT event_type, round($fn(ad, 5e-1), 6) AS mad
          FROM dev GROUP BY event_type)
        SELECT d.event_id, d.event_type, d.value, d.med, m.mad
        FROM dev d JOIN mad m ON d.event_type = m.event_type
        WHERE d.ad > 3 * m.mad
        ORDER BY d.event_id"""

  /** Shared SQL for `agg_shipdelay_profile`: exact integer day
    * deltas collapsed to the (flag, delay-day) VALUE GRID, discrete
    * P90 read off cumulative counts (the iqr/winsorized discipline —
    * support-bounded, no corpus window), DECIMAL-summed mean, one
    * IEEE division. Engine splices: table names + the date
    * subtraction (`dd`: Spark datediff / DuckDB date minus date —
    * both exact integer days). */
  private def shipDelaySql(li: String, ord: String, dd: String): String =
    s"""WITH j AS (
          SELECT l.l_returnflag AS flag, $dd AS days
          FROM $li l JOIN $ord o ON l.l_orderkey = o.o_orderkey),
        g AS (
          SELECT flag, days, CAST(count(*) AS BIGINT) AS cnt
          FROM j GROUP BY flag, days),
        c AS (
          SELECT flag, days, cnt,
            CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
            CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
          FROM g)
        SELECT flag AS l_returnflag,
          CAST(max(n) AS BIGINT) AS n,
          round(CAST(sum(CAST(days * cnt AS DECIMAL(20,0)))
              AS DOUBLE) / CAST(max(n) AS DOUBLE), 6) AS avg_days,
          CAST(min(days) AS BIGINT) AS min_days,
          CAST(max(days) AS BIGINT) AS max_days,
          CAST(min(CASE WHEN cum * 10 >= n * 9 THEN days END)
            AS BIGINT) AS p90_days
        FROM c GROUP BY flag ORDER BY l_returnflag"""

  override def ops: Seq[Op] = Seq(

    Op("agg_shipdelay_profile",
      // order-to-ship lead time per return flag — the fulfilment SLA
      // report a logistics/ops dashboard runs nightly (the only
      // cross-table DATE-INTERVAL analytic in the registry: every
      // other date op works within one table). Day deltas are exact
      // integers; the corpus collapses map-side to the (flag,
      // delay-day) value grid, so the windows below run over a
      // support-bounded relation (the agg_iqr_outliers argument —
      // no corpus-sized window, no guard needed); P90 is the
      // discrete cut off exact cumulative counts; the mean sums
      // day·count in DECIMAL and finishes with one IEEE division.
      // 100 TB: one co-partitioned orderkey join (the fact-fact
      // join every TPC-H variant shares), then grid-grain work only.
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("graft_li_shipd")
        Tables.orders(s, d).createOrReplaceTempView("graft_ord_shipd")
        s.sql(shipDelaySql("graft_li_shipd", "graft_ord_shipd",
          "datediff(CAST(l.l_shipdate AS DATE), CAST(o.o_orderdate AS DATE))"))
      },
      Some(shipDelaySql("lineitem", "orders",
        "(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE))"))),

    // flagship — TPC-H Q1 shape (SparkEntry.entry points here)
    Op("agg_hash_group",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
                CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 6) AS DOUBLE) AS sum_qty,
                CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 6) AS DOUBLE) AS sum_base_price,
                CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,10))), 6) AS DOUBLE) AS sum_disc_price,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) / count(l_quantity), 6) AS avg_qty,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) / count(l_extendedprice), 6) AS avg_price,
                round(CAST(sum(CAST(l_discount AS DECIMAL(38,10))) AS DOUBLE) / count(l_discount), 6) AS avg_disc,
                count(*) AS count_order
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '2001-09-02'
              GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus""")),

    Op("agg_global",
      (s, d) => Tables.lineitem(s, d)
        .agg(
          dsum(col("l_quantity")).as("total_qty"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("total_revenue"),
          round(min("l_extendedprice"), 6).as("min_price"),
          round(max("l_extendedprice"), 6).as("max_price"),
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders")),
      Some("""SELECT CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 6) AS DOUBLE) AS total_qty,
                CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,10))), 6) AS DOUBLE) AS total_revenue,
                round(min(l_extendedprice), 6) AS min_price,
                round(max(l_extendedprice), 6) AS max_price,
                count(*) AS n_rows,
                count(DISTINCT l_orderkey) AS n_orders
              FROM lineitem""")),

    Op("agg_count_distinct",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          round(sum("value"), 6).as("total_value"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(*) AS n_events, round(sum(value), 6) AS total_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // HLL++ sketch — not DuckDB-comparable; ScalaTest asserts ±5% of exact
    Op("agg_approx_hll",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .orderBy("l_returnflag"),
      None),

    Op("agg_approx_hll_md5",
      // the hash-gated twin of agg_approx_hll (r20, seventh no-oracle
      // label promotion — and the deepest: not just the hash but the
      // whole ESTIMATOR is re-derived portably): a complete
      // HyperLogLog — md5-based register assignment, integer
      // leading-zero ranks, rational Σ2^(-M) (exact BIGINT
      // numerator), the αm·m² finish as one shared IEEE sequence, and
      // the small-range linear-counting correction as 255
      // precomputed shortest-round-trip double literals (V has only
      // 255 possible values — the libm-free-literal discipline). The
      // per-group estimates hash-match DuckDB next to the exact
      // distinct counts; production keeps Spark's native sketch for
      // speed and mergeability, this twin proves the estimator
      // arithmetic under the gate. m=256 ⇒ ±6.5% standard error —
      // OperatorSpec-free by design: the gate IS the check.
      (s, d) => {
        Tables.lineitem(s, d).select("l_returnflag", "l_partkey")
          .createOrReplaceTempView("graft_hll_lineitem")
        s.sql(hllMd5Sql(sparkSide = true))
      },
      Some(hllMd5Sql(sparkSide = false))),

    Op("agg_rollup",
      (s, d) => {
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d)
        // SQL rendering: DataFrame rollup + post-agg orderBy on grouping
        // cols trips DetectAmbiguousSelfJoin (Expand duplicates attrs);
        // the SQL path resolves cleanly and plans identically
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .select("r_name", "n_name", "c_acctbal")
          .createOrReplaceTempView("graft_cust_geo_rollup")
        s.sql("""SELECT r_name, n_name,
                   round(sum(c_acctbal), 6) AS acct_total,
                   count(*) AS n_cust
                 FROM graft_cust_geo_rollup
                 GROUP BY ROLLUP (r_name, n_name)
                 ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")
      },
      Some("""SELECT r_name, n_name, round(sum(c_acctbal), 6) AS acct_total,
                count(*) AS n_cust
              FROM customer
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
              GROUP BY ROLLUP (r_name, n_name)
              ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")),

    Op("agg_cube",
      (s, d) => Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 6).as("sum_qty"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 6) AS sum_qty,
                round(avg(l_discount), 6) AS avg_disc, count(*) AS n
              FROM lineitem
              GROUP BY CUBE (l_returnflag, l_linestatus)
              ORDER BY l_returnflag ASC NULLS FIRST,
                       l_linestatus ASC NULLS FIRST""")),

    Op("agg_grouping_sets",
      (s, d) => {
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d)
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .createOrReplaceTempView("graft_cust_geo")
        s.sql("""SELECT r_name, n_name,
                   grouping_id(r_name, n_name) AS gid,
                   round(sum(c_acctbal), 6) AS acct_total, count(*) AS n_cust
                 FROM graft_cust_geo
                 GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
                 ORDER BY gid, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")
      },
      Some("""SELECT r_name, n_name,
                CAST(grouping_id(r_name, n_name) AS BIGINT) AS gid,
                round(sum(c_acctbal), 6) AS acct_total, count(*) AS n_cust
              FROM customer
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
              GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
              ORDER BY gid, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")),

    Op("agg_filtered",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          round(sum(when(col("value") > 100.0, col("value"))), 6).as("big_value_sum"),
          count(when(col("value") > 100.0, lit(1))).as("n_big"),
          round(sum(when(col("user_id") % 2 === 0, col("value")).otherwise(lit(0.0))), 6)
            .as("even_user_value"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
                round(sum(CASE WHEN value > 100.0 THEN value END), 6) AS big_value_sum,
                count(CASE WHEN value > 100.0 THEN 1 END) AS n_big,
                round(sum(CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0 END), 6)
                  AS even_user_value
              FROM events GROUP BY event_type ORDER BY event_type""")),

    Op("agg_udaf_weighted",
      (s, d) => {
        val wavg = udaf(WeightedAvg)
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(round(wavg(col("l_extendedprice"), col("l_quantity")), 6)
            .as("weighted_avg_price"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
                round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6)
                  AS weighted_avg_price,
                count(*) AS n
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Op("agg_salted_skew",
      // two-stage salted aggregation under the hash gate: fold half
      // the rows onto one synthetic hot key (the skew AQE can't help a
      // GROUP BY with), salt stage 1 over 16 reducers, combine
      // partials in stage 2. Sum/count decompose over ANY row
      // partition, so the result is salt-invariant and the plain
      // GROUP BY SQL is the oracle; DECIMAL(38,10) accumulation keeps
      // the total independent of which bucket each row landed in
      (s, d) => {
        val e = Tables.events(s, d).withColumn("k",
          when(col("event_id") % 2 === 0, lit(0L)).otherwise(col("user_id")))
        Scale.saltedAgg(e, col("k"), col("value"), buckets = 16)
          .orderBy("k")
      },
      Some("""SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END AS k,
                CAST(round(sum(CAST(value AS DECIMAL(38,10))), 6) AS DOUBLE)
                  AS total,
                count(*) AS cnt
              FROM events GROUP BY 1 ORDER BY k""")),

    Op("agg_topk_partial",
      // top-2 lineitems per supplier via the k-bounded Aggregator
      // (see TopKAgg): map-side truncation bounds the shuffle at
      // k·partitions rows per group — the scale story the rank window
      // can't tell. OperatorSpec pins ≡ the window rendering and the
      // two-phase ObjectHashAggregate plan.
      (s, d) => {
        val topk = udaf(TopKAgg(2))
        Tables.lineitem(s, d)
          .groupBy("l_suppkey")
          .agg(topk(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber")).as("tops"))
          .select(col("l_suppkey"), posexplode(col("tops")))
          .select(col("l_suppkey"), (col("pos") + 1).as("rank"),
            col("col.okey").as("l_orderkey"),
            col("col.line").as("l_linenumber"),
            col("col.price").as("l_extendedprice"))
          .orderBy("l_suppkey", "rank")
      },
      Some("""SELECT l_suppkey, CAST(rn AS INTEGER) AS rank, l_orderkey,
                l_linenumber, l_extendedprice
              FROM (SELECT l_suppkey, l_orderkey, l_linenumber,
                      l_extendedprice,
                      row_number() OVER (PARTITION BY l_suppkey
                        ORDER BY l_extendedprice DESC, l_orderkey ASC,
                          l_linenumber ASC) AS rn
                    FROM lineitem)
              WHERE rn <= 2 ORDER BY l_suppkey, rank""")),

    // the 100 TB percentile: bounded-memory sketch vs the exact op
    // below; accuracy pinned in OperatorSpec (±1% of exact rank value)
    Op("agg_approx_percentile",
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_events_ap")
        s.sql("""SELECT event_type,
                   approx_percentile(value, 0.5, 10000) AS p50_approx,
                   approx_percentile(value, 0.99, 10000) AS p99_approx
                 FROM graft_events_ap GROUP BY event_type ORDER BY event_type""")
      },
      None),

    Op("agg_hll_partial_merge",
      // MERGEABLE sketches — the incremental-rollup pattern behind
      // every 100 TB distinct-count dashboard: sketch each day once
      // (hll_sketch_agg, lgK=14 ⇒ ~16 KiB per sketch, bounded state),
      // persist the daily sketches, then answer ANY date range by
      // re-aggregating sketches (hll_union_agg) instead of rescanning
      // raw events. agg_approx_hll (op 27) shows the one-shot
      // estimate; this op shows the re-aggregation that makes it
      // incremental. No DuckDB oracle by design (sketch binaries are
      // engine-specific); OperatorSpec pins the merged estimate
      // within 5% of the exact distinct count and that daily
      // sketches union to the same estimate as a direct global
      // sketch.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_events_hll")
        s.sql("""SELECT count(*) AS n_days,
                   hll_sketch_estimate(hll_union_agg(sk)) AS month_users_est
                 FROM (SELECT date_trunc('DAY', ts) AS day,
                         hll_sketch_agg(user_id, 14) AS sk
                       FROM graft_events_hll GROUP BY 1)""")
      },
      None),

    Op("agg_percentile",
      // exact interpolated percentile (Spark `percentile` ≡ DuckDB
      // `quantile_cont`) — the op exists BECAUSE the DuckDB oracle
      // needs the exact form. It is NOT the 100 TB path: Spark's
      // exact percentile buffers every group's values in aggregation
      // state, so one hot event_type at scale spills unboundedly.
      // requireExactAggSafe makes that boundary executable (stats
      // gate, fails toward agg_approx_percentile); SCALE.md
      // "Known-unsafe exact forms" names the same trade.
      (s, d) => {
        requireExactAggSafe(Tables.events(s, d), "agg_percentile",
          "agg_approx_percentile").createOrReplaceTempView("graft_events")
        s.sql("""SELECT event_type,
                   round(percentile(value, 0.5), 6) AS p50,
                   round(percentile(value, 0.9), 6) AS p90,
                   round(percentile(value, 0.99), 6) AS p99
                 FROM graft_events GROUP BY event_type ORDER BY event_type""")
      },
      Some("""SELECT event_type,
                round(quantile_cont(value, 0.5), 6) AS p50,
                round(quantile_cont(value, 0.9), 6) AS p90,
                round(quantile_cont(value, 0.99), 6) AS p99
              FROM events GROUP BY event_type ORDER BY event_type""")),

    Op("agg_histogram_equidepth",
      // equi-depth (equal-count) histogram — the optimizer-statistics
      // companion to table_histogram's equi-width form: ntile(10)
      // over a TOTAL order (value, then the unique line key, so both
      // engines assign identical buckets even among equal values),
      // then per-bucket min/max/count. Values pass through
      // bit-unchanged (selection only, no arithmetic). Like
      // agg_percentile, the exact form is here because the oracle
      // needs it: a global ntile is a single-partition window sort,
      // so the same requireExactAggSafe gate bounds it, and the
      // 100 TB path is approx-percentile cut points + a map-side
      // range bucketing pass (bounded state, no global sort) —
      // SCALE.md "Known-unsafe exact forms".
      (s, d) => {
        val li = requireExactAggSafe(Tables.lineitem(s, d),
          "agg_histogram_equidepth", "agg_histogram_equidepth_approx")
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("v").asc, col("l_orderkey").asc,
            col("l_linenumber").asc)
        li.select(col("l_extendedprice").as("v"),
            col("l_orderkey"), col("l_linenumber"))
          .withColumn("bucket", ntile(10).over(w).cast("long"))
          .groupBy("bucket")
          .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
            count(lit(1)).as("n"))
          .orderBy("bucket")
      },
      Some("""WITH b AS (
                SELECT l_extendedprice AS v,
                  ntile(10) OVER (ORDER BY l_extendedprice ASC,
                    l_orderkey ASC, l_linenumber ASC) AS bucket
                FROM lineitem)
              SELECT bucket, min(v) AS lo, max(v) AS hi, count(*) AS n
              FROM b GROUP BY bucket ORDER BY bucket""")),

    Op("agg_histogram_equidepth_approx",
      // the 100 TB equi-depth histogram (VERDICT r14 #2 — the
      // scale-safe sibling agg_histogram_equidepth's gate names):
      // approx-percentile CUT POINTS (one bounded-state KLL-style
      // sketch aggregate, map-side combined) + a map-side RANGE
      // BUCKETING pass (each row counts the cut points below it — 9
      // comparisons against a broadcast scalar, no window, no global
      // sort, no single-partition anything) + one ordinary
      // map-combined group-by for the per-bucket stats. Plan shape:
      // two scans, zero wide exchanges beyond the 10-group
      // aggregation. The exact ntile form stays registered for the
      // oracle; OperatorSpec pins this one against it (bucket
      // populations within tolerance of n/10, boundaries bracketing
      // the exact deciles). Not oracleable: the sketch's bucket
      // assignment near cut points is engine-specific by design.
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_extendedprice").as("v"))
        val cuts = li.agg(expr(
          "approx_percentile(v, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 10000)")
          .as("cuts"))
        li.crossJoin(broadcast(cuts))
          .withColumn("bucket", expr(
            "1 + aggregate(cuts, 0, (a, c) -> a + CASE WHEN v > c THEN 1 ELSE 0 END)")
            .cast("long"))
          .groupBy("bucket")
          .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
            count(lit(1)).as("n"))
          .orderBy("bucket")
      },
      None),

    Op("agg_histogram_log2",
      // exponential-bucket histogram (the HdrHistogram/Prometheus
      // shape for latency-style long-tailed metrics): bucket =
      // ⌊log2(cents)⌋, so bucket boundaries double — constant relative
      // error where the equi-width form wastes every bucket on the
      // head and the equi-depth form needs a global sort. The log2 is
      // NOT libm: for a positive integer, ⌊log2(v)⌋ + 1 is the length
      // of its binary rendering, so both engines compute the bucket
      // as length(bin(v)) on the 2dp-scaled integer — pure string-of-
      // bits arithmetic, exact by construction (the same reason the
      // moment sums use scaled integers). One map-combined aggregate;
      // |buckets| ≈ log2(max) rows cross the shuffle. Zero values get
      // bucket 0 (no binary length game on 0); negative values cannot
      // occur (value ≥ 0 in the corpus, and cents = round(v·100)).
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_events_log2")
        s.sql(histogramLog2Sql("graft_events_log2",
          "shiftleft(1, bucket - 1)"))
      },
      Some(histogramLog2Sql("events", "(1::BIGINT << (bucket - 1))"))),

    Op("agg_mad_anomaly",
      // robust outlier detection via median absolute deviation — the
      // resistant twin of stream_anomaly_zscore: mean/std themselves
      // move when the outliers arrive (masking), the median pair does
      // not, so |x − med| > 3·MAD keeps flagging under contaminated
      // data. Two grouped EXACT medians (value, then the absolute
      // deviation from the FIRST median) and a broadcast-back join;
      // med is rounded to 6dp BEFORE the deviation pass so both
      // engines subtract the identical double (the shared-expression
      // discipline — percentile vs quantile_cont interpolation proved
      // 6dp-stable by agg_percentile). Like every exact-percentile
      // form this buffers whole groups (requireExactAggSafe gates it,
      // error names the sketch substitute); the 100 TB path is
      // approx-percentile for BOTH cut points — the flag filter
      // itself is a stateless map either way. ONE shared SQL string,
      // percentile/quantile_cont spliced per engine.
      (s, d) => {
        requireExactAggSafe(Tables.events(s, d), "agg_mad_anomaly",
          "agg_mad_anomaly_approx")
          .createOrReplaceTempView("graft_events_mad")
        s.sql(madAnomalySql("graft_events_mad", "percentile"))
      },
      Some(madAnomalySql("events", "quantile_cont"))),

    Op("agg_mad_anomaly_approx",
      // the 100 TB MAD outlier pass (VERDICT r14 #2): both medians
      // become approx_percentile sketches — bounded aggregation
      // state per event_type, map-side combined, no whole-group
      // buffering — broadcast back (|event_type| rows), flag filter
      // unchanged (a stateless map either way; that was always the
      // point). Plan: two sketch aggregates + two broadcast joins +
      // one filter — every exchange carries group-cardinality rows,
      // never data volume. The exact form stays registered for the
      // oracle; OperatorSpec pins the flagged sets nearly identical
      // (the sketch's rank error at accuracy 10000 is ~1e-4, so only
      // rows within a hair of the 3·MAD threshold may differ).
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"))
        val med = ev.groupBy("event_type")
          .agg(round(expr("approx_percentile(value, 5e-1, 10000)"), 6)
            .as("med"))
        val dev = ev.join(broadcast(med), "event_type")
          .withColumn("ad", abs(col("value") - col("med")))
        val mad = dev.groupBy("event_type")
          .agg(round(expr("approx_percentile(ad, 5e-1, 10000)"), 6)
            .as("mad"))
        dev.join(broadcast(mad), "event_type")
          .filter(col("ad") > lit(3) * col("mad"))
          .select("event_id", "event_type", "value", "med", "mad")
          .orderBy("event_id")
      },
      None),

    Op("agg_pivot",
      // long→wide reshape with EXPLICIT pivot values: passing the
      // value list skips the eager distinct-scan job Spark otherwise
      // runs to discover them — at 100 TB that discovery pass costs a
      // full extra scan, and an unbounded value set would explode the
      // output schema anyway. Spark lowers the pivot to two stacked
      // aggregates, BOTH map-side combined: the first collapses the
      // scan to |priority|×|status| rows before any shuffle, the
      // second (pivotfirst) reshapes those few rows wide — so neither
      // shuffle ever carries data volume, only group cardinality.
      // DECIMAL accumulation keeps each cell order-independent (§5.2).
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
                CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))) FILTER (WHERE o_orderstatus = 'F'), 6) AS DOUBLE) AS "F",
                CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))) FILTER (WHERE o_orderstatus = 'O'), 6) AS DOUBLE) AS "O",
                CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))) FILTER (WHERE o_orderstatus = 'P'), 6) AS DOUBLE) AS "P"
              FROM orders GROUP BY o_orderpriority
              ORDER BY o_orderpriority""")),

    Op("agg_unpivot",
      // wide→long reshape (melt). Narrow transformation: no shuffle,
      // no aggregate — each input row emits one output row per value
      // column inside the same partition, so at 100 TB this is pure
      // map-side work that chains into whatever shuffle follows.
      // Values pass through bit-unchanged (no arithmetic), so the
      // doubles hash-match without rounding.
      (s, d) => Tables.lineitem(s, d)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric"),
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                     l_quantity AS val FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
              FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
              FROM lineitem
              ORDER BY l_orderkey, l_linenumber, metric""")),

    Op("agg_minmax_by",
      // arg-extrema (first/last event per user): max_by/min_by carry
      // the payload column through the aggregate, replacing the
      // window-rank-then-filter idiom with ONE hash aggregate whose
      // partial state is a single (ord, payload) pair per group per
      // partition — at 100 TB the shuffle carries two pairs per
      // group, not every row sorted. Deterministic because the
      // ordering key (event_id) is unique; DuckDB names the same
      // functions arg_max/arg_min.
      (s, d) => Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          max_by(col("event_type"), col("event_id")).as("last_type"),
          min_by(col("event_type"), col("event_id")).as("first_type"),
          max(col("event_id")).as("last_event_id"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id"),
      Some("""SELECT user_id,
                arg_max(event_type, event_id) AS last_type,
                arg_min(event_type, event_id) AS first_type,
                max(event_id) AS last_event_id,
                count(*) AS n_events
              FROM events GROUP BY user_id ORDER BY user_id""")),

    Op("agg_stats_moments",
      // second-moment statistics (variance / stddev / correlation)
      // with EXACT integer accumulation. Spark's stddev/corr and
      // DuckDB's use different merge formulas, so their float outputs
      // need not agree to 6dp — instead both engines here accumulate
      // the classic moment sums (n, Σx, Σy, Σx², Σy², Σxy) over the
      // 2dp-scaled INTEGER values, which are exact and
      // order-independent (the one-pass, map-side-combinable shape
      // you want at 100 TB: six numbers per group per partition cross
      // the shuffle). The finish step uses only IEEE-exact ops on the
      // exactly-cast sums: ×, −, ÷ and sqrt are all correctly-rounded
      // per IEEE-754, so both engines emit bit-identical doubles.
      // Sized DECIMALs keep every product inside both engines' caps
      // (DuckDB keeps a product at max(w1,w2) — the LEFT operand is
      // pre-cast to the full result width; subtraction widens +1,
      // hard cap 38) through sf 1000 (x ≤ 5e3, y ≤ 1.05e7, n ≤ 6e9 ⇒
      // the widest term n·Σy² ≤ 4e33 at width 37). Past that, rescale
      // the fixed-
      // point units or shard the moment sums by an extra key — the
      // map-combinable moment-sum SHAPE is what scales; the 38-digit
      // exactness window is the oracle gate's constraint.
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("graft_li_moments")
        s.sql(statsMomentsSql("graft_li_moments"))
      },
      Some(statsMomentsSql("lineitem"))),

    Op("agg_mode",
      // modal value per group (most frequent nation among a segment's
      // customers), smallest-key tie-break — the count+argmin rewrite
      // both engines share, because native mode()/arg_max() tie-break
      // is engine-defined. Two hash aggregates + a k-row window: the
      // first aggregate collapses to |segments|×|nations| rows, so the
      // window runs on bounded metadata no matter the input size —
      // this is the 100 TB shape (never a window over raw rows).
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("c_mktsegment")
          .orderBy(col("n").desc, col("c_nationkey").asc)
        Tables.customer(s, d)
          .groupBy("c_mktsegment", "c_nationkey")
          .agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("c_mktsegment"), col("c_nationkey").as("mode_nation"),
            col("n").as("mode_count"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, c_nationkey AS mode_nation, n AS mode_count
              FROM (SELECT c_mktsegment, c_nationkey, count(*) AS n,
                      row_number() OVER (PARTITION BY c_mktsegment
                        ORDER BY count(*) DESC, c_nationkey ASC) AS rn
                    FROM customer GROUP BY c_mktsegment, c_nationkey)
              WHERE rn = 1 ORDER BY c_mktsegment""")),

    Op("agg_string_agg",
      // ordered string aggregation (listagg) — per-group concatenation
      // with an explicit total order, so the output string is
      // deterministic in both engines. Spark composes it as
      // sort(collect_list)+join (collect_list order is partition-
      // dependent; the sort erases that); DuckDB has native
      // string_agg ORDER BY. Bounded: group values are the 25 nation
      // names — at scale, listagg of unbounded groups is the anti-
      // pattern (use explode/top-k instead); this op is the bounded-
      // dimension roll-up form.
      (s, d) => Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"),
          array_join(array_sort(collect_list(col("n_name"))), ",")
            .as("nations"))
        .orderBy("r_name"),
      Some("""SELECT r_name, count(*) AS n_nations,
                string_agg(n_name, ',' ORDER BY n_name) AS nations
              FROM nation JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name ORDER BY r_name""")),

    Op("agg_bool",
      // boolean aggregation battery — how data-quality predicates roll
      // up without materializing violations: bool_and (does EVERY row
      // satisfy it), bool_or (does ANY), count_if (how many). All
      // three partial-aggregate map-side to one boolean/long per
      // partition — at 100 TB the assertion "every order this month
      // has a valid status" costs one scan and ships bits.
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(expr("bool_and(o_totalprice > 1000.0)").as("all_above_1k"),
          expr("bool_or(o_orderstatus = 'F')").as("any_finished"),
          expr("count_if(o_totalprice > 300000.0)").as("n_big"),
          expr("count_if(o_orderstatus = 'O')").as("n_open"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
                bool_and(o_totalprice > 1000.0) AS all_above_1k,
                bool_or(o_orderstatus = 'F') AS any_finished,
                count(*) FILTER (WHERE o_totalprice > 300000.0) AS n_big,
                count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open
              FROM orders GROUP BY o_orderpriority
              ORDER BY o_orderpriority""")),

    Op("agg_percentile_weighted",
      // EXACT weighted percentile — the quantity-weighted price
      // quantile (op 33 weights every row equally; a 50-unit line
      // should pull the distribution 50× harder). Definition: the
      // smallest value whose cumulative weight reaches p·total.
      // Engine-portable exactness: weights accumulate in
      // DECIMAL(38,10) (order-independent), the threshold test
      // multiplies out the division (cum·k ≥ tot·m for p = m/k), and
      // the selected value is an UNTOUCHED input double — no float
      // arithmetic anywhere. Deterministic under ties: within a tied
      // price block the threshold crossing lands on the same price
      // whatever the intra-block order. One window pass over each
      // group + one conditional agg; at 100 TB the same caveat as
      // exact percentile applies (the cumulative-weight window sorts
      // each returnflag group — 3 values ⇒ a third of the table per
      // partition), so the input rides the same requireExactAggSafe
      // gate as the other exact forms and the error names the
      // bounded-state registered substitute,
      // agg_percentile_weighted_approx.
      (s, d) => {
        requireExactAggSafe(Tables.lineitem(s, d),
            "agg_percentile_weighted", "agg_percentile_weighted_approx")
          .createOrReplaceTempView("graft_li_wpct")
        s.sql(weightedPctSql("graft_li_wpct"))
      },
      Some(weightedPctSql("lineitem"))),

    Op("agg_percentile_weighted_approx",
      // the 100 TB weighted percentile (the bounded-state sibling
      // agg_percentile_weighted's gate names): the exact form's
      // per-group cumulative-weight window over the CORPUS is
      // replaced by sub-octave log buckets on price cents (bucket =
      // bitlen·16 + next-4-bits — pure bit arithmetic, the
      // agg_histogram_log2 no-libm discipline; ≤1/16 relative bucket
      // width, ≤1024 buckets for any long), per-(flag, bucket)
      // exact-int weight sums map-side combined, an ascending cumsum
      // over the BOUNDED bucket relation (the agg_mode rule — never a
      // corpus window), and the crossing bucket's max observed price
      // as the estimate. Buckets are monotone in price, so the
      // min-over-crossing selection is the exact form's own pattern
      // and lands on the SAME bucket the exact crossing value lies
      // in — the estimate is ≥ exact and high by at most one bucket
      // width (OperatorSpec pins ≤7% at sf0.1). Exact-int arithmetic
      // end-to-end makes it fully oracleable — only the bit-shift
      // expression is engine-spliced.
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("graft_li_wpcta")
        s.sql(weightedPctApproxSql("graft_li_wpcta", spark = true))
      },
      Some(weightedPctApproxSql("lineitem", spark = false))),

    Op("agg_multi_distinct",
      // several COUNT(DISTINCT ...) over DIFFERENT columns in one
      // query — planned via Expand (one input row fans out per
      // distinct aggregate, each branch partial-aggregates its own
      // key space) rather than N self-joined subqueries; one scan no
      // matter how many distinct dimensions the report asks for.
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          countDistinct(col("o_orderpriority")).as("n_priorities"),
          countDistinct(year(col("o_orderdate"))).as("n_years"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
                count(DISTINCT o_custkey) AS n_customers,
                count(DISTINCT o_orderpriority) AS n_priorities,
                count(DISTINCT year(o_orderdate)) AS n_years,
                count(*) AS n_orders
              FROM orders GROUP BY o_orderstatus
              ORDER BY o_orderstatus""")),

    Op("agg_regression",
      // per-group OLS fit (slope / intercept / R²) of extendedprice on
      // quantity — the statsMomentsSql discipline: both engines run
      // the IDENTICAL shared SQL over 2dp-scaled integer moment sums
      // (exact, order-independent, map-side-combinable — six numbers
      // per group cross the shuffle at any scale), and the finish step
      // is a fixed sequence of IEEE-exact double ops (×, −, ÷), so the
      // outputs are bit-identical without rounding. Built-in
      // regr_slope/regr_intercept would NOT hash-match: each engine
      // merges its own float state in its own order.
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("graft_li_regr")
        s.sql(regressionSql("graft_li_regr"))
      },
      Some(regressionSql("lineitem"))),

    Op("agg_corr_matrix",
      // exact pairwise Pearson correlation of the three lineitem
      // measures, long form (x_name, y_name, corr) — the feature-
      // screening matrix an EDA/feature-store pass computes. Built-in
      // corr() would NOT hash-match (each engine merges float state
      // in its own order — the regr_slope argument); instead the
      // regressionSql discipline: both engines run the IDENTICAL
      // shared SQL over 2dp-scaled integer moment sums (exact,
      // order-independent, map-side-combinable), and every finish op
      // (×, −, ÷, sqrt) is IEEE-exact, so the doubles are
      // bit-identical with no rounding step. Correlation is scale-
      // invariant, so cent-scaling leaves the statistic unchanged.
      // 100 TB: ONE map-combined aggregate collapses the corpus to
      // ten numbers; the matrix assembly is a 1-row fan-out.
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("graft_li_corr")
        s.sql(corrMatrixSql("graft_li_corr"))
      },
      Some(corrMatrixSql("lineitem"))),

    Op("agg_chi2_independence",
      // chi-squared independence screen: is event_type independent of
      // day-of-week? The drift/bias detector an event pipeline runs
      // before trusting a segment cut. Cells collapse to the bounded
      // 7×|types| contingency relation in ONE map-combined aggregate;
      // marginals and the statistic are windows over that bounded
      // relation (never the stream). dow = epoch-day % 7 — pure
      // integer arithmetic, identical in both engines (dayofweek()
      // origin conventions differ). Expected counts and per-cell
      // terms are fixed IEEE sequences of exact ints; the chi2 total
      // re-accumulates the 6dp per-cell terms in DECIMAL (dsum rule)
      // so every row carries the same order-independent statistic.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_chi2")
        s.sql(chi2Sql("graft_ev_chi2", "ts"))
      },
      Some(chi2Sql("events", "CAST(ts AS TIMESTAMP)"))),

    Op("agg_gains_curve",
      // cumulative gains / lift table — the campaign-targeting chart
      // beside agg_auc_rank (AUC summarizes ranking quality in one
      // number; the gains table says WHAT YOU CAPTURE at each
      // targeting depth): at 10 fixed thresholds spanning the score
      // range top-down, the population fraction targeted, the
      // positive fraction captured, and lift = capture/population.
      // NO ranking window anywhere — the thresholds are exact-int
      // range cuts (min + k·(max−min) DIV 10 cents, 1-row broadcast)
      // and all 10 curve points come from ONE map-combined
      // conditional aggregate (the llm_vocab_growth first-occurrence
      // trick applied to a score axis); fractions are exact longs +
      // one IEEE division each.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_gains")
        s.sql(gainsSql("graft_ev_gains"))
      },
      Some(gainsSql("events"))),

    Op("agg_cpk",
      // process-capability indices (Cp / Cpk — the SPC statistic a
      // quality dashboard quotes beside the Bollinger control bands):
      // per event type, how many 3σ half-widths fit between the mean
      // and the FIXED spec limits [10, 90] (shared literals — spec
      // limits are a product requirement, not a data quantile).
      // Cp = (USL−LSL)/6σ ignores centering, Cpk = min(USL−μ,
      // μ−LSL)/3σ punishes it — the pair is the standard report.
      // σ is the exact sample deviation from cents DECIMAL moments
      // (regressionSql discipline), the finish a fixed IEEE sequence;
      // ONE map-combined aggregate, |types| rows out. A singleton or
      // zero-variance group yields NULL sd/cp/cpk (capability is
      // undefined without spread) instead of a NaN/Inf the engines
      // could render differently — sd_c's guard propagates.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_cpk")
        s.sql(cpkSql("graft_ev_cpk"))
      },
      Some(cpkSql("events"))),

    Op("agg_auc_rank",
      // exact ROC AUC via the rank-sum identity (Mann–Whitney U):
      // AUC = P(score_pos > score_neg) + ½P(tie) — the standard
      // classifier-quality number, computed WITHOUT materializing
      // ranks over the corpus: scores quantize to the cents grid
      // (the agg_ks_test argument — support bounded by value range,
      // never corpus size), per-cell (n_pos, n_neg) collapse in ONE
      // map-combined aggregate, and 2U = Σ_cells p·(2·cum_neg_below
      // + q) is exact integer arithmetic over the bounded grid
      // (ties contribute exactly half by construction, no averaging
      // of fractional ranks). One IEEE division finishes. "Label" =
      // purchase vs click, "score" = event value.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_auc")
        s.sql(aucSql("graft_ev_auc"))
      },
      Some(aucSql("events"))),

    Op("agg_ks_test",
      // two-sample Kolmogorov–Smirnov distance between the purchase
      // and click value distributions — the distribution-drift test
      // beside the chi-squared independence screen (chi2 compares
      // categories; KS compares SHAPES). Values quantize to the cents
      // grid first, so the support relation is bounded by the VALUE
      // RANGE (≤ ~10k cells), never the corpus — the global
      // cumulative window runs over that bounded grid (the
      // stream_topk_trending argument), not over events. ECDFs are
      // exact-int cumsums finished by one IEEE division each;
      // D = max|F1−F2| with the argmax cent reported (min cent on
      // ties — total order). ONE map-combined aggregate collapses
      // the stream to the grid; everything after is grid-sized.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_ks")
        s.sql(ksSql("graft_ev_ks"))
      },
      Some(ksSql("events"))),

    Op("agg_theil_decomp",
      // Theil-T inequality with the within/between decomposition
      // (Theil 1967) — the reason to use Theil over agg_gini: Gini
      // does NOT decompose (group Ginis don't sum to the total), so
      // "is revenue inequality driven by differences BETWEEN
      // priorities or WITHIN them" is unanswerable with Gini and is
      // exactly what T = Σ s_g·T_g + Σ s_g·ln(μ_g/μ) answers. Cells
      // collapse to the per-priority VALUE GRID map-side; per-cell
      // n·(x/μ_g)·ln(x/μ_g) terms round at 10dp and re-accumulate
      // through DECIMAL (the grid can hold many cells — acf rule);
      // the group relation carries 5 rows, so the OVER () totals are
      // bounded-relation windows.
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_ord_theil")
        s.sql(theilSql("graft_ord_theil"))
      },
      Some(theilSql("orders"))),

    Op("agg_cvar",
      // VaR95 + expected shortfall (CVaR) — the coherent tail-risk
      // pair (Artzner et al. 1999: VaR is the threshold, ES the
      // average loss BEYOND it — subadditive where VaR alone is not)
      // and the natural level-companion to agg_hill_tail's shape
      // index: same per-priority VALUE-GRID discipline (discrete P95
      // off exact cumulative counts — no corpus window, no guard),
      // tail mass/revenue as exact DECIMAL sums, three IEEE
      // divisions finish. Includes ties at the cut (the discrete
      // ≥-cut convention, deterministic on both engines).
      (s, d) => {
        ordCumView(s, d)
        s.sql(cvarSparkSql)
      },
      Some(cvarSql("orders"))),

    Op("agg_hill_tail",
      // Hill tail-index estimator (Hill 1975) — the heavy-tail
      // family's missing member (gini = inequality, hhi =
      // concentration, benford = digit law; Hill's α says HOW heavy
      // the upper tail is: α < 2 ⇒ infinite variance, whale-driven
      // revenue; α > 3 ⇒ effectively thin): α = k / Σ ln(x_i/x_cut)
      // over the top 5% per order priority. The cut is a DISCRETE
      // quantile off exact cumulative counts over the (priority,
      // cents) VALUE GRID (the agg_iqr_outliers discipline — no
      // corpus window, no guard); per-cell n·ln terms round at 10dp
      // and re-accumulate through DECIMAL; one IEEE division.
      (s, d) => {
        ordCumView(s, d)
        s.sql(hillTailSparkSql)
      },
      Some(hillTailSql("orders"))),

    Op("agg_iqr_outliers",
      // Tukey-fence outlier screen (Tukey 1977's boxplot rule — the
      // OTHER robust outlier detector beside agg_mad_anomaly: MAD
      // flags against a robust center, IQR fences flag against the
      // quartile spread; both survive the contamination that wrecks
      // z-scores): values beyond Q1−1.5·IQR / Q3+1.5·IQR per return
      // flag. Quartiles are DISCRETE cuts read off exact cumulative
      // counts over the (flag, cents) VALUE GRID — support-bounded
      // (the ks_test argument), so no corpus-sized window and no
      // requireExactAggSafe guard is needed; the 1.5 multiplier runs
      // in doubled cents so the half-cent stays exact-integer.
      (s, d) => {
        liCumView(s, d)
        s.sql(iqrOutliersSparkSql)
      },
      Some(iqrOutliersSql("lineitem"))),

    Op("agg_winsorized_mean",
      // winsorized mean (Winsor/Tukey robust location) — the revenue
      // reporting standard when whales distort averages: clamp to
      // [P5, P95] and average, beside the raw mean so the gap itself
      // is the tail-weight readout. Same value-grid discipline as
      // agg_iqr_outliers (cuts off exact cumulative counts, no
      // corpus window); clamped cents sum in DECIMAL (exact,
      // order-independent), two IEEE divisions finish.
      (s, d) => {
        liCumView(s, d)
        s.sql(winsorizedMeanSparkSql)
      },
      Some(winsorizedMeanSql("lineitem"))),

    Op("agg_percentile_disc",
      // discrete percentiles (PERCENTILE_DISC semantics: the smallest
      // actual value whose cume_dist reaches the fraction) — Spark has
      // no percentile_disc built-in, so both engines run the shared
      // cume_dist + conditional-min rewrite. The selected values pass
      // through bit-unchanged (no arithmetic → no rounding needed).
      // 100 TB: one window sort per event_type partition, then a
      // map-combined min aggregate — same shape as win_cume_pct; for
      // sort-free percentiles at scale use agg_approx_percentile.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_pdisc")
        s.sql(percentileDiscSql("graft_ev_pdisc"))
      },
      Some(percentileDiscSql("events"))),

    Op("agg_entropy",
      // Shannon entropy of each source's language mix — the
      // distribution-shape profiler a corpus-balance report runs.
      // Counts are exact longs; p·ln(p) terms are IEEE doubles whose
      // ≤|langs| summation error (~1e-15) sits far below the 6dp
      // round. 100 TB: collapses to |source|×|lang| rows in ONE
      // map-combined aggregate before any math happens.
      (s, d) => {
        Tables.documents(s, d).createOrReplaceTempView("graft_docs_ent")
        s.sql(entropySql("graft_docs_ent"))
      },
      Some(entropySql("documents"))),

    Op("agg_bitmap_distinct",
      // exact distinct counting through BITMAP blocks — the
      // ClickHouse/Druid bitmap-rollup technique for dense integer
      // keys: users pack into 64-bit blocks (blk = id DIV 64, one bit
      // per id), bit_or is the map-combinable "seen" union, and
      // Σ bit_count(block) IS count(DISTINCT id) — provably, which is
      // why the oracle runs plain COUNT(DISTINCT) and the hash gate
      // proves the rewrite exact. 100 TB: the first aggregate's
      // shuffle carries (type, blk, 8 bytes) — |ids|/64 rows per type
      // where exact count-distinct's Expand ships |ids| rows — a 64×
      // exchange reduction, and the blocks keep partial-merging under
      // re-aggregation (the same mergeability HLL gives up exactness
      // for). The scale ceiling is key DENSITY, not volume: sparse
      // 64-bit id spaces want the HLL row (`agg_approx_hll`) instead.
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("graft_ev_bmd")
        s.sql("""
          SELECT event_type,
            CAST(sum(bit_count(bits)) AS BIGINT) AS n_users
          FROM (
            SELECT event_type, user_id DIV 64 AS blk,
              bit_or(1 << CAST(user_id % 64 AS INT)) AS bits
            FROM graft_ev_bmd
            GROUP BY event_type, user_id DIV 64)
          GROUP BY event_type
          ORDER BY event_type""")
      },
      Some("""SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
              FROM events GROUP BY event_type ORDER BY event_type""")),

    Op("agg_cms_heavy",
      // count-min sketch (Cormode/Muthukrishnan '05) beside the exact
      // heavy hitters: d=4 hash rows × w=1024 counters, every counter
      // a PLAIN SUM under a seeded hash bucket — so the whole sketch
      // is one map-combined (row, bucket) aggregate and, like the HLL
      // row above, MERGEABLE by construction (sketch(A) + sketch(B)
      // counter-wise == sketch(A ∪ B), exactly — OperatorSpec pins
      // the merge law and the est ≥ true one-sided error). The query
      // reports the CMS estimate (min over the 4 rows) next to the
      // exact count for the true top-10 users: the shape a 100 TB
      // deployment uses when the raw stream is too hot to keep but
      // per-key frequencies still need answering. No DuckDB oracle by
      // design (the bucket hash is xxhash64 — Spark-specific); the
      // exact column is what the oracled agg_topk_partial row pins.
      (s, d) => {
        val ev = Tables.events(s, d)
        val rows = ev.select(col("user_id"),
            explode(expr("sequence(0, 3)")).as("r"))
          .select(col("r"),
            pmod(expr("xxhash64(r, user_id)"), lit(1024L)).as("bucket"))
          .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
        val top = ev.groupBy("user_id").agg(count(lit(1)).as("true_cnt"))
          .orderBy(col("true_cnt").desc, col("user_id").asc).limit(10)
        top.select(col("user_id"), col("true_cnt"),
            explode(expr("sequence(0, 3)")).as("r"))
          .select(col("user_id"), col("true_cnt"), col("r"),
            pmod(expr("xxhash64(r, user_id)"), lit(1024L)).as("bucket"))
          .join(rows, Seq("r", "bucket"))
          .groupBy("user_id", "true_cnt")
          .agg(min(col("cnt")).as("est_cnt"))
          .orderBy(col("true_cnt").desc, col("user_id").asc)
      },
      None),

    Op("agg_cms_heavy_md5",
      // the hash-gated twin of agg_cms_heavy (r20, sixth no-oracle
      // label promotion): the production label belongs to xxhash64,
      // not to the count-min sketch — the COUNTERS are plain sums,
      // the estimate is a min over d rows, and the one-sided
      // error/merge laws are hash-independent. This sibling derives
      // the d=4 row hashes from a 32-bit md5 base value through the
      // Carter–Wegman universal family (exact BIGINT), so the full
      // (user, true, estimate) relation hash-matches DuckDB and the
      // sketch machinery itself sits under the driver's gate. Same
      // plan shape: ONE map-combined (row, bucket) aggregate over the
      // 4-way explode, the true-top-10 relation re-hashed and joined
      // back. md5 per event costs more than the codegen hash — the
      // production key keeps xxhash64, this twin carries the gate.
      (s, d) => {
        Tables.events(s, d).select("user_id")
          .createOrReplaceTempView("graft_cms_events")
        s.sql(cmsMd5Sql(sparkSide = true))
      },
      Some(cmsMd5Sql(sparkSide = false))),

    Op("agg_ohlc",
      // OHLC candle aggregation — the time-series rollup every
      // monitoring/market system runs (open/high/low/close per series
      // per bucket): min_by/max_by on a TOTAL within-day order key
      // replaces the window-rank-then-filter idiom with ONE hash
      // aggregate whose partial state is two (ord, value) pairs +
      // two extrema per group per partition (the agg_minmax_by
      // shape — at 100 TB the shuffle carries four scalars per
      // candle, never the raw ticks sorted). The order key packs
      // (within-day µs offset, event_id) into one BIGINT
      // (offset·10⁶ + id — exact, no overflow: 8.64e16 ≪ 2⁶³) so the
      // arg-extrema are tie-deterministic on both engines; values
      // pass through unchanged — exact doubles, no arithmetic.
      (s, d) => {
        val tsUs = unix_micros(col("ts"))
        val okey = (tsUs % lit(86400000000L)) * lit(1000000L) +
          col("event_id")
        Tables.events(s, d)
          .groupBy(col("event_type"),
            datediff(col("ts").cast("date"),
              to_date(lit("1970-01-01"))).as("eday"))
          .agg(min_by(col("value"), okey).as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max_by(col("value"), okey).as("close"),
            count(lit(1)).as("n_events"))
          .orderBy("event_type", "eday")
      },
      Some("""SELECT event_type,
                CAST(date_diff('day', DATE '1970-01-01',
                  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
                  AS INTEGER) AS eday,
                arg_min(value, (epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000)
                  * 1000000 + event_id) AS open,
                max(value) AS high,
                min(value) AS low,
                arg_max(value, (epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000)
                  * 1000000 + event_id) AS close,
                count(*) AS n_events
              FROM events GROUP BY 1, 2
              ORDER BY event_type, eday""")),

    Op("agg_gini",
      // Gini concentration coefficient of customer revenue per nation
      // — the inequality/concentration metric every marketplace-health
      // dashboard carries (0 = revenue spread evenly, →1 = one whale):
      // G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the revenue-sorted
      // sequence. Revenue collapses to exact CENTS per customer
      // first (DECIMAL-accumulated sum, round 2, ×100 — the 2dp-int
      // discipline), the rank rides a per-nation window over the
      // ALREADY-AGGREGATED |customers| relation (never raw orders —
      // the agg_mode bounded-window rule), i·x and the sums stay
      // exact DECIMAL, and the finish is one shared IEEE expression.
      // Tie-deterministic: (x, custkey) is a total order. At 100 TB:
      // one orders-shuffle, one |customers| window, |nations| output.
      (s, d) => {
        val dec = org.apache.spark.sql.types.DataTypes
          .createDecimalType(38, 10)
        val rev = Tables.orders(s, d)
          .join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey", "c_custkey")
          .agg((round(sum(col("o_totalprice").cast(dec)), 2) * 100)
            .cast("long").as("x"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("c_nationkey")
          .orderBy(col("x").asc, col("c_custkey").asc)
        rev.withColumn("i", row_number().over(w))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"),
            sum(col("i") * col("x")).as("six"))
          .selectExpr("c_nationkey", "n AS n_customers", GiniFinishSql)
          .orderBy("c_nationkey")
      },
      Some(s"""WITH rev AS (
                SELECT c_nationkey, c_custkey,
                  CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2)
                    * 100 AS BIGINT) AS x
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              r AS (
                SELECT c_nationkey, x,
                  row_number() OVER (PARTITION BY c_nationkey
                    ORDER BY x ASC, c_custkey ASC) AS i
                FROM rev),
              m AS (
                SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS sx,
                  CAST(sum(i * x) AS BIGINT) AS six
                FROM r GROUP BY 1)
              SELECT c_nationkey, n AS n_customers, $GiniFinishSql
              FROM m ORDER BY c_nationkey""")),

    Op("agg_abc_class",
      // ABC / Pareto classification — the inventory-management staple
      // (A-items: the vital few holding 80% of revenue; B: next 15%;
      // C: the trivial many): parts ranked by exact-cents revenue, a
      // running cumulative share over the ALREADY-AGGREGATED |parts|
      // relation (the agg_mode bounded-window rule), class boundaries
      // on identical doubles, rollup to |classes| rows. Revenue cents
      // are DECIMAL-accumulated; cumshare = one division per part of
      // exact longs. Tie-deterministic: (rev desc, partkey) is total.
      // The ranked cumshare is a GLOBAL window over |parts| — a
      // single-partition sort, so the same requireExactAggSafe gate
      // that bounds the equidepth/percentile exact forms bounds this
      // one (catalog-bounded today; the registered sketch path at
      // scale is agg_abc_class_approx — bounded log-bucket revenue
      // quantiles + a map-side class assignment).
      (s, d) => {
        val dec = org.apache.spark.sql.types.DataTypes
          .createDecimalType(38, 10)
        val rev = requireExactAggSafe(Tables.lineitem(s, d),
            "agg_abc_class", "agg_abc_class_approx")
          .groupBy("l_partkey")
          .agg((round(sum(col("l_extendedprice").cast(dec)), 2) * 100)
            .cast("long").as("rev_c"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("rev_c").desc, col("l_partkey").asc)
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val tot = rev.agg(sum(col("rev_c")).as("tot_c"))
        rev.crossJoin(broadcast(tot))
          .withColumn("cum_c", sum(col("rev_c")).over(w))
          .withColumn("cls",
            when(col("cum_c").cast("double") / col("tot_c").cast("double")
              <= 0.80, lit("A"))
              .when(col("cum_c").cast("double") / col("tot_c").cast("double")
                <= 0.95, lit("B"))
              .otherwise(lit("C")))
          .groupBy("cls")
          .agg(count(lit(1)).as("n_parts"),
            sum(col("rev_c")).as("rev_cents"))
          .orderBy("cls")
      },
      Some("""WITH rev AS (
                SELECT l_partkey,
                  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2)
                    * 100 AS BIGINT) AS rev_c
                FROM lineitem GROUP BY 1),
              t AS (SELECT CAST(sum(rev_c) AS BIGINT) AS tot_c FROM rev),
              r AS (
                SELECT rev_c, tot_c,
                  CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_c
                FROM rev, t),
              c AS (
                SELECT rev_c,
                  CASE WHEN CAST(cum_c AS DOUBLE) / CAST(tot_c AS DOUBLE)
                         <= 0.80 THEN 'A'
                       WHEN CAST(cum_c AS DOUBLE) / CAST(tot_c AS DOUBLE)
                         <= 0.95 THEN 'B'
                       ELSE 'C' END AS cls
                FROM r)
              SELECT cls, count(*) AS n_parts,
                CAST(sum(rev_c) AS BIGINT) AS rev_cents
              FROM c GROUP BY 1 ORDER BY cls""")),

    Op("agg_abc_class_approx",
      // the 100 TB ABC classification (the scale-safe sibling
      // agg_abc_class's gate names): the exact form's global ranked
      // window is replaced by a BOUNDED-STATE revenue-weighted
      // quantile sketch — sub-octave log buckets on rev_c built with
      // PURE BIT ARITHMETIC (bucket = bitlen·16 + next-4-bits, the
      // agg_histogram_log2 no-libm discipline; ≤ ~4.4% relative value
      // granularity, ≤ 64·16 = 1024 buckets for any long), per-bucket
      // (n, sum) map-side combined, a running desc cumsum over the
      // ≤1024-row bucket relation (bounded window — the agg_mode
      // rule, NOT a corpus window), threshold buckets kA/kB = the
      // crossing buckets for 80%/95% of total revenue, broadcast as
      // one row, and a map-side classify against them. The crossing
      // bucket is assigned WHOLLY to the higher class, so
      // share(A) ≥ 0.80 by construction and exceeds it by at most the
      // crossing bucket's share — OperatorSpec pins this against the
      // exact form at sf0.1. ORACLED since r18: unlike its sketch
      // siblings (approx_percentile state really is engine-specific)
      // every step here is exact-int bit arithmetic + two IEEE
      // threshold comparisons on identical doubles — the
      // agg_percentile_weighted_approx argument — so both engines run
      // the identical shared SQL; only the bit-shift is spliced.
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("graft_li_abca")
        s.sql(abcApproxSql("graft_li_abca", spark = true))
      },
      Some(abcApproxSql("lineitem", spark = false))),

    Op("agg_hhi",
      // Herfindahl–Hirschman concentration index per nation — THE
      // antitrust/market-power metric beside agg_gini's inequality
      // curve (HHI answers "how few players hold the market", Gini
      // "how unevenly is it spread"): HHI = Σ shareᵢ² over customer
      // revenue shares. Shares divide exact cents (identical
      // quotients both engines); the per-nation Σ of up-to-|customers|
      // share² terms would be association-ordered as doubles, so each
      // term is 8dp-DECIMAL-quantized and summed EXACTLY (the dsum
      // discipline at term grain), then rounded once. Two
      // map-combined aggregates + one broadcast-back join; |nations|
      // rows out.
      (s, d) => {
        val dec = org.apache.spark.sql.types.DataTypes
          .createDecimalType(38, 10)
        val dec8 = org.apache.spark.sql.types.DataTypes
          .createDecimalType(18, 8)
        val rev = Tables.orders(s, d)
          .join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey", "c_custkey")
          .agg((round(sum(col("o_totalprice").cast(dec)), 2) * 100)
            .cast("long").as("x"))
        val tot = rev.groupBy("c_nationkey").agg(sum(col("x")).as("sx"))
        val q = col("x").cast("double") / col("sx").cast("double")
        rev.join(broadcast(tot), "c_nationkey")
          .withColumn("term", round(q * q, 8).cast(dec8))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_customers"),
            round(sum(col("term")), 6).cast("double").as("hhi"))
          .orderBy("c_nationkey")
      },
      Some("""WITH rev AS (
                SELECT c_nationkey, c_custkey,
                  CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2)
                    * 100 AS BIGINT) AS x
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2),
              tot AS (
                SELECT c_nationkey, CAST(sum(x) AS BIGINT) AS sx
                FROM rev GROUP BY 1),
              t AS (
                SELECT rev.c_nationkey,
                  CAST(round((CAST(x AS DOUBLE) / CAST(sx AS DOUBLE))
                    * (CAST(x AS DOUBLE) / CAST(sx AS DOUBLE)), 8)
                    AS DECIMAL(18,8)) AS term
                FROM rev JOIN tot ON rev.c_nationkey = tot.c_nationkey)
              SELECT c_nationkey, count(*) AS n_customers,
                CAST(round(sum(term), 6) AS DOUBLE) AS hhi
              FROM t GROUP BY 1 ORDER BY c_nationkey""")),

    Op("agg_benford",
      // Benford first-digit audit (Benford 1938; Nigrini's fraud-
      // detection staple) — fabricated or systematically-rounded
      // amounts drift from the log-uniform first-digit law, and the
      // χ² against it is the first screen an audit pipeline runs
      // over any money column. Exact cents → first digit by DECIMAL
      // STRING (no log10 at query time — the nine reference
      // probabilities are shared exponent-form literals), one
      // map-combined 9-row aggregate, per-digit χ² terms from
      // identical IEEE expressions, total via a 6dp-DECIMAL window
      // sum (order-independent). |digits| = 9 rows cross the shuffle
      // at any scale.
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_orders_benford")
        s.sql(benfordSql("graft_orders_benford"))
      },
      Some(benfordSql("orders"))),

    Op("agg_benford2",
      // second-significant-digit Benford test — the forensic
      // follow-up auditors run when the first-digit screen passes:
      // fabricated numbers often respect the leading digit (people
      // know that law) but not the second, which is why
      // second-digit tests are standard in election and accounting
      // forensics (Mebane 2006). Same shape as agg_benford: digit
      // counts map-side, expected P(d₂) = Σ log10(1 + 1/(10d₁+d₂))
      // as shared literals, chi2 terms identical IEEE, total via the
      // 6dp-DECIMAL window over 10 rows.
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_orders_b2")
        s.sql(benford2Sql("graft_orders_b2"))
      },
      Some(benford2Sql("orders")))
  )

  /** Shared Benford SQL (agg_benford). The nine reference
    * probabilities log10(1+1/d) are EXPONENT-FORM LITERALS (bare
    * decimals parse as DECIMAL in both engines — the bm25 rule), so
    * no libm log runs at query time; identical literal text parses to
    * the identical double. The χ² total rides a 6dp-DECIMAL window
    * sum (the 9-term double sum would be association-ordered), CAST
    * on the window sum itself (the llm_token_budget stringify rule).
    */
  /** Shared SQL for `agg_benford2` — SECOND-significant-digit law
    * (the forensic follow-up auditors run when first digits pass:
    * invented numbers often respect the leading digit but not the
    * second; P(d₂) = Σ_{d₁=1..9} log10(1 + 1/(10d₁+d₂)) as shared
    * literals), same chi2 shape as benfordSql. */
  /** Shared SQL for `agg_approx_hll_md5` — a COMPLETE HyperLogLog
    * (Flajolet et al. 2007) in portable exact arithmetic, so the
    * ESTIMATOR itself sits under the DuckDB hash gate (the production
    * `agg_approx_hll` wraps Spark's native sketch — its label is
    * engine-ownership, not the algorithm):
    *
    *  - base value x = md5's first 32 bits of the key (exact BIGINT
    *    digit arithmetic);
    *  - m=256 registers: idx = top 8 bits, rank = leading-zero count
    *    of the remaining 24 bits + 1 — an integer CASE ladder, no
    *    floats;
    *  - Σ 2^(−M_j) kept RATIONAL: numerator Σ 2^(25−M_j) ≤ 2^33 is an
    *    exact BIGINT sum (register max via one grouped max; absent
    *    registers join in as M=0 from a generated grid);
    *  - raw estimate αm·m²·2^25/num is one IEEE division of identical
    *    doubles (the whole αm·m²·2^25 factor precomputed as ONE
    *    shortest-round-trip double literal — ADVICE r20: spelling it
    *    as 0.7213/(1+1.079/m)·… let Spark type the literals DECIMAL
    *    and round differently from DuckDB's double division, a
    *    3.7e-9 split that could flip round(e,3) near a boundary);
    *  - the small-range LINEAR-COUNTING correction m·ln(m/V) needs a
    *    libm ln of a data-dependent value — but V only takes 255
    *    possible values, so every possible correction is a
    *    PRECOMPUTED shortest-round-trip double literal in a CASE
    *    (the llm_ann_ndcg libm-free-literal discipline). Large-range
    *    (32-bit collision) correction omitted: it activates at
    *    ~1.4e8 distinct — beyond any per-group cardinality here, and
    *    a 64-bit-hash production sketch never needs it. */
  private def hllMd5Sql(sparkSide: Boolean): String = {
    val liRel = if (sparkSide) "graft_hll_lineitem" else "lineitem"
    val div = if (sparkSide) "DIV" else "//"
    def shl(a: String, b: String) =
      if (sparkSide) s"shiftleft($a, $b)" else s"($a << ($b))"
    val iRange =
      if (sparkSide) "(SELECT explode(sequence(0, 255)) AS i)"
      else "(SELECT unnest(range(0, 256)) AS i)"
    val xExpr = (1 to 8).map { j =>
      val w = 1L << (4 * (8 - j))
      s"(instr('0123456789abcdef', substr(h, $j, 1)) - 1) * CAST($w AS BIGINT)"
    }.mkString(" + ")
    // rank = 25 - bit_length(rest) over the low 24 bits (rest = 0 →
    // rank 25: all-zero suffix)
    val rankCase = "CASE " + (23 to 0 by -1).map { b =>
      s"WHEN rest >= ${1L << b} THEN ${25 - (b + 1)}"
    }.mkString(" ") + " ELSE 25 END"
    // shortest-round-trip double literals parse to the identical
    // double in both engines; e0 keeps DuckDB from typing them DECIMAL
    def dlit(d: Double): String = {
      val s = d.toString
      if (s.contains('E')) s.replace("E", "e") else s + "e0"
    }
    val lcCase = "CASE v " + (1 to 255).map { v =>
      s"WHEN $v THEN ${dlit(256.0 * math.log(256.0 / v))}"
    }.mkString(" ") + " ELSE e END"
    s"""WITH dp AS (
          SELECT DISTINCT l_returnflag, l_partkey FROM $liRel),
        hx AS (
          SELECT l_returnflag, $xExpr AS x
          FROM (SELECT l_returnflag,
                  md5(concat_ws('|', l_partkey)) AS h FROM dp) h0),
        rk AS (
          SELECT l_returnflag, idx, $rankCase AS rank
          FROM (SELECT l_returnflag, x $div 16777216 AS idx,
                  x % 16777216 AS rest FROM hx) r0),
        regs AS (
          SELECT l_returnflag, idx, max(rank) AS m
          FROM rk GROUP BY l_returnflag, idx),
        grid AS (
          SELECT f.l_returnflag, ii.i AS idx
          FROM (SELECT DISTINCT l_returnflag FROM dp) f
          CROSS JOIN $iRange ii),
        fullr AS (
          SELECT g.l_returnflag, coalesce(r.m, 0) AS m
          FROM grid g LEFT JOIN regs r
            ON r.l_returnflag = g.l_returnflag AND r.idx = g.idx),
        agg AS (
          SELECT l_returnflag,
            CAST(sum(${shl("CAST(1 AS BIGINT)", "25 - m")}) AS BIGINT) AS num,
            CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
          FROM fullr GROUP BY l_returnflag),
        est AS (
          SELECT l_returnflag, v,
            ${dlit((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 33554432.0)}
              / CAST(num AS DOUBLE) AS e
          FROM agg),
        ex AS (
          SELECT l_returnflag, count(*) AS exact_parts
          FROM dp GROUP BY l_returnflag)
        SELECT e.l_returnflag,
          round(CASE WHEN e.e <= 640.0 AND e.v > 0
            THEN $lcCase ELSE e.e END, 3) AS hll_parts,
          CAST(x.exact_parts AS BIGINT) AS exact_parts
        FROM est e JOIN ex x ON x.l_returnflag = e.l_returnflag
        ORDER BY e.l_returnflag"""
  }

  /** Shared SQL for `agg_cms_heavy_md5` — count-min with portable
    * hashes: base value x = md5's first 32 bits of the key, row-r
    * bucket = ((a_r·x + b_r) mod p) mod w with odd a_r and prime
    * p > 2^32 (Carter–Wegman pairwise-independent family — the same
    * construction the MinHash twin uses). Everything else is the
    * production op verbatim: d=4 × w=1024 counters as ONE
    * map-combined aggregate, estimate = min over the 4 rows for the
    * true top-10 keys. Engine splices: explode/unnest only. */
  private def cmsMd5Sql(sparkSide: Boolean): String = {
    val evRel = if (sparkSide) "graft_cms_events" else "events"
    val rRange =
      if (sparkSide) "(SELECT explode(sequence(0, 3)) AS r)"
      else "(SELECT unnest(range(0, 4)) AS r)"
    val xExpr = (1 to 8).map { j =>
      val w = 1L << (4 * (8 - j))
      s"(instr('0123456789abcdef', substr(h, $j, 1)) - 1) * CAST($w AS BIGINT)"
    }.mkString(" + ")
    val P = 4294967311L
    // bucket for row r over base x (a_r = 2r+1 odd, b_r = 7919(r+1))
    def bucket(x: String, r: String) =
      s"(((2 * $r + 1) * $x + 7919 * ($r + 1)) % $P) % 1024"
    s"""WITH x AS (
          SELECT user_id, $xExpr AS x
          FROM (SELECT user_id,
                  md5(concat_ws('|', user_id)) AS h
                FROM $evRel) h0),
        cms AS (
          SELECT r, bucket, count(*) AS cnt FROM (
            SELECT rr.r AS r, ${bucket("x", "rr.r")} AS bucket
            FROM x CROSS JOIN $rRange rr) b
          GROUP BY r, bucket),
        top AS (
          SELECT user_id, count(*) AS true_cnt FROM $evRel
          GROUP BY user_id
          ORDER BY true_cnt DESC, user_id ASC LIMIT 10),
        q AS (
          SELECT t.user_id, t.true_cnt, rr.r AS r,
            ${bucket("tx.x", "rr.r")} AS bucket
          FROM top t
          JOIN (SELECT DISTINCT user_id, x FROM x) tx
            ON tx.user_id = t.user_id
          CROSS JOIN $rRange rr)
        SELECT q.user_id, q.true_cnt, min(c.cnt) AS est_cnt
        FROM q JOIN cms c ON c.r = q.r AND c.bucket = q.bucket
        GROUP BY q.user_id, q.true_cnt
        ORDER BY q.true_cnt DESC, q.user_id ASC"""
  }

  private def benford2Sql(src: String): String = {
    val probs = Seq(
      0 -> "1.1967926859688073e-1", 1 -> "1.1389010340755640e-1",
      2 -> "1.0882149900550823e-1", 3 -> "1.0432956023095939e-1",
      4 -> "1.0030820226757937e-1", 5 -> "9.6677235802322431e-2",
      6 -> "9.3374735783036150e-2", 7 -> "9.0351989269603319e-2",
      8 -> "8.7570053578861384e-2", 9 -> "8.4997352057692238e-2")
    val bp = probs.map { case (dg, p) =>
      s"SELECT $dg AS digit, $p AS bp" }.mkString("\n UNION ALL ")
    s"""WITH c AS (
          SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM $src WHERE o_totalprice > 0),
        dg AS (
          SELECT CAST(substr(CAST(cents AS VARCHAR(20)), 2, 1)
            AS INTEGER) AS digit
          FROM c WHERE cents >= 10),
        o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
              FROM dg GROUP BY 1),
        t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM o),
        bp AS ($bp),
        m AS (
          SELECT o.digit, o.n_obs, bp.bp, t.n,
            ((CAST(o.n_obs AS DOUBLE) - CAST(t.n AS DOUBLE) * bp.bp)
             * (CAST(o.n_obs AS DOUBLE) - CAST(t.n AS DOUBLE) * bp.bp))
              / (CAST(t.n AS DOUBLE) * bp.bp) AS term
          FROM o JOIN bp ON o.digit = bp.digit CROSS JOIN t)
        SELECT digit, n_obs,
          round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share,
          round(bp, 6) AS benford_p,
          round(term, 6) AS chi2_term,
          CAST(sum(CAST(round(term, 6) AS DECIMAL(18,6))) OVER ()
            AS DOUBLE) AS chi2_total
        FROM m ORDER BY digit"""
  }

  private def benfordSql(src: String): String = {
    val probs = Seq(
      1 -> "3.0102999566398120e-1", 2 -> "1.7609125905568124e-1",
      3 -> "1.2493873660829992e-1", 4 -> "9.6910013008056420e-2",
      5 -> "7.9181246047624818e-2", 6 -> "6.6946789630613221e-2",
      7 -> "5.7991946977686733e-2", 8 -> "5.1152522447381291e-2",
      9 -> "4.5757490560675143e-2")
    val bp = probs.map { case (dg, p) =>
      s"SELECT $dg AS digit, $p AS bp" }.mkString("\n UNION ALL ")
    s"""WITH c AS (
          SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM $src WHERE o_totalprice > 0),
        dg AS (
          SELECT CAST(substr(CAST(cents AS VARCHAR(20)), 1, 1) AS INTEGER)
            AS digit
          FROM c),
        o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
              FROM dg GROUP BY 1),
        t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM o),
        bp AS ($bp),
        m AS (
          SELECT o.digit, o.n_obs, bp.bp, t.n,
            ((CAST(o.n_obs AS DOUBLE) - CAST(t.n AS DOUBLE) * bp.bp)
             * (CAST(o.n_obs AS DOUBLE) - CAST(t.n AS DOUBLE) * bp.bp))
              / (CAST(t.n AS DOUBLE) * bp.bp) AS term
          FROM o JOIN bp ON o.digit = bp.digit CROSS JOIN t)
        SELECT digit, n_obs,
          round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share,
          round(bp, 6) AS benford_p,
          round(term, 6) AS chi2_term,
          CAST(sum(CAST(round(term, 6) AS DECIMAL(18,6))) OVER ()
            AS DOUBLE) AS chi2
        FROM m ORDER BY digit"""
  }

  /** Shared Gini finish (the agg_stats_moments one-string rule). */
  private val GiniFinishSql: String =
    "round((2e0 * CAST(six AS DOUBLE) - (CAST(n AS DOUBLE) + 1e0) * " +
      "CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) " +
      "AS gini"

  /** Shared SQL for `agg_regression` — moment-sum widths proven in
    * [[statsMomentsSql]] (widest term n·Σy² ≤ 4e33 at sf 1000). */
  private def regressionSql(table: String): String =
    s"""SELECT l_returnflag, n_rows, slope,
          (sy_d - slope * sx_d) / (1e2 * n_d) AS intercept,
          CASE WHEN dxx = 0 OR dyy = 0 THEN NULL
            ELSE (num * num) / (dxx * dyy)
          END AS r2
        FROM (
          SELECT l_returnflag, n_rows, n_d, sx_d, sy_d,
            num, dxx, dyy,
            CASE WHEN dxx = 0 THEN NULL ELSE num / dxx END AS slope
          FROM (
            SELECT l_returnflag,
              CAST(n AS BIGINT) AS n_rows,
              CAST(n AS DOUBLE) AS n_d,
              CAST(sx AS DOUBLE) AS sx_d,
              CAST(sy AS DOUBLE) AS sy_d,
              CAST(CAST(n AS DECIMAL(34,0))*sxy
                   - CAST(sx AS DECIMAL(34,0))*sy AS DOUBLE) AS num,
              CAST(CAST(n AS DECIMAL(31,0))*sxx
                   - CAST(sx AS DECIMAL(31,0))*sx AS DOUBLE) AS dxx,
              CAST(CAST(n AS DECIMAL(37,0))*syy
                   - CAST(sy AS DECIMAL(37,0))*sy AS DOUBLE) AS dyy
            FROM (
              SELECT l_returnflag,
                CAST(count(*) AS DECIMAL(11,0)) AS n,
                CAST(sum(CAST(x AS DECIMAL(15,0))) AS DECIMAL(15,0)) AS sx,
                CAST(sum(CAST(y AS DECIMAL(18,0))) AS DECIMAL(18,0)) AS sy,
                CAST(sum(CAST(x*x AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS sxx,
                CAST(sum(CAST(y*y AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS syy,
                CAST(sum(CAST(x*y AS DECIMAL(22,0))) AS DECIMAL(22,0)) AS sxy
              FROM (
                SELECT l_returnflag,
                  CAST(round(l_quantity * 100, 0) AS BIGINT) AS x,
                  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
                FROM $table)
              GROUP BY l_returnflag)))
        ORDER BY l_returnflag"""

  /** Shared SQL for `agg_gains_curve` — 10 range-cut thresholds,
    * one conditional aggregate pass, UNION ALL fan-out; the integer
    * division is engine-spliced. */
  private def gainsSql(table: String): String = {
    val div = if (table.startsWith("graft_")) "DIV" else "//"
    def thr(k: Int) = s"(mx - (((mx - mn) * $k) $div 10))"
    val aggCols = (1 to 10).flatMap { k =>
      Seq(
        s"""CAST(sum(CASE WHEN cent >= ${thr(k)} THEN 1 ELSE 0 END)
            AS BIGINT) AS pop_$k""",
        s"""CAST(sum(CASE WHEN p = 1 AND cent >= ${thr(k)}
            THEN 1 ELSE 0 END) AS BIGINT) AS pos_$k""")
    }.mkString(",\n            ")
    val rows = (1 to 10).map { k =>
      s"""SELECT $k AS depth, CAST(${thr(k)} AS BIGINT) AS thr_cents,
            pop_$k AS n_targeted, pos_$k AS n_captured,
            round(CAST(pop_$k AS DOUBLE) / CAST(n_pop AS DOUBLE), 6)
              AS pop_pct,
            CASE WHEN n_pos = 0 THEN NULL ELSE
              round(CAST(pos_$k AS DOUBLE) / CAST(n_pos AS DOUBLE), 6)
            END AS capture_pct,
            CASE WHEN n_pos = 0 OR pop_$k = 0 THEN NULL ELSE
              round((CAST(pos_$k AS DOUBLE) / CAST(n_pos AS DOUBLE))
                / (CAST(pop_$k AS DOUBLE) / CAST(n_pop AS DOUBLE)), 6)
            END AS lift
          FROM g"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH b AS (
          SELECT CAST(round(value * 100, 0) AS BIGINT) AS cent,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
          FROM $table
          WHERE event_type IN ('purchase', 'click')),
        m AS (
          SELECT CAST(min(cent) AS BIGINT) AS mn,
            CAST(max(cent) AS BIGINT) AS mx,
            count(*) AS n_pop,
            CAST(sum(p) AS BIGINT) AS n_pos
          FROM b),
        g AS (
          SELECT m.mn, m.mx, m.n_pop, m.n_pos,
            $aggCols
          FROM b, m GROUP BY m.mn, m.mx, m.n_pop, m.n_pos)
        SELECT * FROM (
          $rows)
        ORDER BY depth"""
  }

  /** Shared SQL for `agg_cpk` — exact cents moments, IEEE finish,
    * spec limits [10, 90] as shared literals (1000/9000 cents). */
  private def cpkSql(table: String): String =
    s"""WITH b AS (
          SELECT event_type,
            CAST(round(value * 100, 0) AS BIGINT) AS c
          FROM $table),
        g AS (
          SELECT event_type,
            CAST(count(*) AS DECIMAL(11,0)) AS n,
            CAST(sum(CAST(c AS DECIMAL(16,0))) AS DECIMAL(16,0)) AS sx,
            CAST(sum(CAST(c*c AS DECIMAL(21,0))) AS DECIMAL(21,0)) AS sxx
          FROM b GROUP BY event_type),
        d AS (
          SELECT event_type, CAST(n AS BIGINT) AS n_rows,
            CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu_c,
            CASE WHEN n < 2 OR CAST(n AS DECIMAL(33,0))*sxx
                   - CAST(sx AS DECIMAL(33,0))*sx = 0 THEN NULL
                 ELSE sqrt(CAST(CAST(n AS DECIMAL(33,0))*sxx
                   - CAST(sx AS DECIMAL(33,0))*sx AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0)))
            END AS sd_c
          FROM g)
        SELECT event_type, n_rows,
          round(mu_c / 1e2, 6) AS mean_v,
          round(sd_c / 1e2, 6) AS sd_v,
          round((9000e0 - 1000e0) / (6e0 * sd_c), 6) AS cp,
          round(least(9000e0 - mu_c, mu_c - 1000e0) / (3e0 * sd_c), 6)
            AS cpk
        FROM d ORDER BY event_type"""

  /** Shared SQL for `agg_auc_rank` — exact-int Mann–Whitney 2U over
    * the bounded cents grid; identical text on both engines. */
  private[graft] def aucSql(table: String): String =
    s"""WITH v AS (
          SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p,
            CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS q,
            CAST(round(value * 100, 0) AS BIGINT) AS cent
          FROM $table
          WHERE event_type IN ('purchase', 'click')),
        c AS (
          SELECT cent, CAST(sum(p) AS BIGINT) AS p,
            CAST(sum(q) AS BIGINT) AS q
          FROM v GROUP BY cent),
        w AS (
          SELECT cent, p, q,
            CAST(coalesce(sum(q) OVER (ORDER BY cent
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS qb
          FROM c),
        u AS (
          SELECT CAST(sum(p * (2 * qb + q)) AS BIGINT) AS u2,
            CAST(sum(p) AS BIGINT) AS np,
            CAST(sum(q) AS BIGINT) AS nq
          FROM w)
        SELECT np AS n_pos, nq AS n_neg,
          CASE WHEN np = 0 OR nq = 0 THEN NULL
               ELSE round(CAST(u2 AS DOUBLE)
                 / CAST(2 * np * nq AS DOUBLE), 6)
          END AS auc
        FROM u"""

  /** Shared SQL for `agg_ks_test` — identical text on both engines
    * (no engine-specific functions needed). */
  private[graft] def ksSql(table: String): String =
    s"""WITH v AS (
          SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s1,
            CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS s2,
            CAST(round(value * 100, 0) AS BIGINT) AS cent
          FROM $table
          WHERE event_type IN ('purchase', 'click')),
        c AS (
          SELECT cent, CAST(sum(s1) AS BIGINT) AS c1,
            CAST(sum(s2) AS BIGINT) AS c2
          FROM v GROUP BY cent),
        t AS (
          SELECT CAST(sum(c1) AS DOUBLE) AS n1,
            CAST(sum(c2) AS DOUBLE) AS n2
          FROM c),
        f AS (
          SELECT cent,
            CASE WHEN t.n1 = 0 THEN NULL ELSE
              CAST(sum(c1) OVER (ORDER BY cent) AS DOUBLE) / t.n1
            END AS f1,
            CASE WHEN t.n2 = 0 THEN NULL ELSE
              CAST(sum(c2) OVER (ORDER BY cent) AS DOUBLE) / t.n2
            END AS f2,
            t.n1 AS n1, t.n2 AS n2
          FROM c, t),
        dd AS (
          SELECT cent, n1, n2, round(abs(f1 - f2), 6) AS d FROM f),
        mx AS (SELECT max(d) AS d_stat FROM dd)
        SELECT CAST(dd.n1 AS BIGINT) AS n1, CAST(dd.n2 AS BIGINT) AS n2,
          mx.d_stat AS d_stat, CAST(min(dd.cent) AS BIGINT) AS at_cent
        FROM dd, mx WHERE dd.d = mx.d_stat
        GROUP BY dd.n1, dd.n2, mx.d_stat"""

  /** Shared SQL for `agg_chi2_independence`. The dow expression is
    * spliced per engine (datediff argument conventions differ); both
    * reduce to the same exact epoch-day % 7 integer. */
  private def chi2Sql(table: String, tsExpr: String): String = {
    val dow =
      if (table.startsWith("graft_"))
        s"datediff(CAST($tsExpr AS DATE), DATE '1970-01-01') % 7"
      else s"(CAST($tsExpr AS DATE) - DATE '1970-01-01') % 7"
    s"""WITH cells AS (
          SELECT CAST($dow AS INTEGER) AS dow, event_type,
            count(*) AS o
          FROM $table GROUP BY 1, 2),
        marg AS (
          SELECT dow, event_type, o,
            CAST(sum(o) OVER (PARTITION BY dow) AS DOUBLE) AS row_tot,
            CAST(sum(o) OVER (PARTITION BY event_type) AS DOUBLE)
              AS col_tot,
            CAST(sum(o) OVER () AS DOUBLE) AS n
          FROM cells),
        t AS (
          SELECT dow, event_type, CAST(o AS BIGINT) AS o,
            round(row_tot * col_tot / n, 6) AS expected,
            round((CAST(o AS DOUBLE) - (row_tot * col_tot / n))
                  * (CAST(o AS DOUBLE) - (row_tot * col_tot / n))
                  / (row_tot * col_tot / n), 6) AS term
          FROM marg)
        SELECT dow, event_type, o, expected, term,
          CAST(round(sum(CAST(term AS DECIMAL(38,10))) OVER (), 6)
            AS DOUBLE) AS chi2
        FROM t ORDER BY dow, event_type"""
  }

  /** Shared SQL for `agg_corr_matrix` — exact integer moment sums
    * (the [[regressionSql]] widths) finished by IEEE-exact double
    * ops; three variables, three pairs, one aggregate pass. */
  private def corrMatrixSql(table: String): String =
    s"""WITH b AS (
          SELECT CAST(round(l_quantity * 100, 0) AS BIGINT) AS x,
            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y,
            CAST(round(l_discount * 100, 0) AS BIGINT) AS z
          FROM $table),
        m AS (
          SELECT CAST(count(*) AS DECIMAL(11,0)) AS n,
            CAST(sum(CAST(x AS DECIMAL(15,0))) AS DECIMAL(15,0)) AS sx,
            CAST(sum(CAST(y AS DECIMAL(18,0))) AS DECIMAL(18,0)) AS sy,
            CAST(sum(CAST(z AS DECIMAL(12,0))) AS DECIMAL(12,0)) AS sz,
            CAST(sum(CAST(x*x AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS sxx,
            CAST(sum(CAST(y*y AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS syy,
            CAST(sum(CAST(z*z AS DECIMAL(13,0))) AS DECIMAL(13,0)) AS szz,
            CAST(sum(CAST(x*y AS DECIMAL(22,0))) AS DECIMAL(22,0)) AS sxy,
            CAST(sum(CAST(x*z AS DECIMAL(16,0))) AS DECIMAL(16,0)) AS sxz,
            CAST(sum(CAST(y*z AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS syz
          FROM b),
        d AS (
          SELECT CAST(n AS BIGINT) AS n_rows,
            CAST(CAST(n AS DECIMAL(31,0))*sxx
                 - CAST(sx AS DECIMAL(31,0))*sx AS DOUBLE) AS dxx,
            CAST(CAST(n AS DECIMAL(37,0))*syy
                 - CAST(sy AS DECIMAL(37,0))*sy AS DOUBLE) AS dyy,
            CAST(CAST(n AS DECIMAL(25,0))*szz
                 - CAST(sz AS DECIMAL(25,0))*sz AS DOUBLE) AS dzz,
            CAST(CAST(n AS DECIMAL(34,0))*sxy
                 - CAST(sx AS DECIMAL(34,0))*sy AS DOUBLE) AS nxy,
            CAST(CAST(n AS DECIMAL(28,0))*sxz
                 - CAST(sx AS DECIMAL(28,0))*sz AS DOUBLE) AS nxz,
            CAST(CAST(n AS DECIMAL(31,0))*syz
                 - CAST(sy AS DECIMAL(31,0))*sz AS DOUBLE) AS nyz
          FROM m)
        SELECT * FROM (
          SELECT 'l_quantity' AS x_name, 'l_extendedprice' AS y_name,
            n_rows,
            CASE WHEN dxx = 0 OR dyy = 0 THEN NULL
              ELSE nxy / (sqrt(dxx) * sqrt(dyy)) END AS corr FROM d
          UNION ALL
          SELECT 'l_quantity', 'l_discount', n_rows,
            CASE WHEN dxx = 0 OR dzz = 0 THEN NULL
              ELSE nxz / (sqrt(dxx) * sqrt(dzz)) END FROM d
          UNION ALL
          SELECT 'l_extendedprice', 'l_discount', n_rows,
            CASE WHEN dyy = 0 OR dzz = 0 THEN NULL
              ELSE nyz / (sqrt(dyy) * sqrt(dzz)) END FROM d)
        ORDER BY x_name, y_name"""

  /** Shared SQL for `agg_percentile_disc` — conditional-min over
    * cume_dist, the engine-portable PERCENTILE_DISC rewrite. */
  /** Shared grid-quantile CTE prefix (agg_iqr_outliers /
    * agg_winsorized_mean): lineitem prices collapse to the (flag,
    * cents, n) VALUE GRID map-side (the ks_test support-bounded
    * argument — the cumulative window runs over the grid, never the
    * corpus), discrete quantiles read off exact cumulative counts.
    * Ends in `cum(rf, cents, n, cn, tot)`. */
  // ---- r21 OPTIMIZATION: session-memoized value grids ----
  //
  // The exact-quantile family reads discrete cuts off cumulative
  // counts over a support-bounded VALUE GRID; two pairs of registered
  // queries rebuilt the identical grid per call (scan → map-combined
  // (key, cents) aggregate → two windows): agg_iqr_outliers +
  // agg_winsorized_mean over lineitem's (rf, cents) and agg_hill_tail
  // + agg_cvar over orders' (pri, cents). The grid is the
  // materialized-stats table a production warehouse maintains per
  // corpus snapshot, so it is a session memo ([[Memo]]). Oracle SQL
  // unchanged (self-contained) — the driver's hash gate re-proves
  // each restructured Spark side; OperatorSpec pins restructured ≡
  // monolithic row-for-row.

  /** Registers `graft_li_cum` — the materialized [[gridCumSql]] cum
    * relation (rf, cents, n, cn, tot) over lineitem. */
  private def liCumView(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    val li = Tables.lineitem(s, d)
    Memo.frame("licum", li) {
      li.createOrReplaceTempView("graft_li_gridsrc")
      s.sql(s"""${gridCumSql("graft_li_gridsrc")}
          SELECT rf, cents, n, cn, tot FROM cum""")
    }.createOrReplaceTempView("graft_li_cum")
  }

  /** Registers `graft_ord_cum` — the materialized [[ordGridCumSql]]
    * cum relation (pri, cents, n, cn, tot) over orders. */
  private def ordCumView(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    val o = Tables.orders(s, d)
    Memo.frame("ordcum", o) {
      o.createOrReplaceTempView("graft_ord_gridsrc")
      s.sql(s"""${ordGridCumSql("graft_ord_gridsrc")}
          SELECT pri, cents, n, cn, tot FROM cum""")
    }.createOrReplaceTempView("graft_ord_cum")
  }

  private def gridCumSql(table: String): String =
    s"""WITH c AS (
          SELECT l_returnflag AS rf,
            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
          FROM $table),
        g AS (
          SELECT rf, cents, CAST(count(*) AS BIGINT) AS n
          FROM c GROUP BY rf, cents),
        cum AS (
          SELECT rf, cents, n,
            sum(n) OVER (PARTITION BY rf ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
            sum(n) OVER (PARTITION BY rf) AS tot
          FROM g)"""

  /** Shared SQL for `agg_iqr_outliers` — Tukey fences in doubled
    * cents (2·cents vs 2·Q1 − 3·IQR keeps the half-cent exact in
    * integers), outlier counts off the same grid. */
  private[graft] def iqrOutliersSql(table: String): String =
    s"""${gridCumSql(table)},
        ${iqrTailSql}"""

  /** r21: the Spark side reads the session-memoized grid
    * ([[liCumView]]) — same tail, `cum` is the materialized view. */
  private def iqrOutliersSparkSql: String =
    s"""WITH cum AS (SELECT rf, cents, n, cn, tot FROM graft_li_cum),
        ${iqrTailSql}"""

  private def iqrTailSql: String =
    s"""q AS (
          SELECT rf,
            min(CASE WHEN cn * 4 >= tot THEN cents END) AS q1,
            min(CASE WHEN cn * 4 >= 3 * tot THEN cents END) AS q3
          FROM cum GROUP BY rf)
        SELECT cum.rf AS l_returnflag,
          CAST(min(q.q1) AS BIGINT) AS q1_c,
          CAST(min(q.q3) AS BIGINT) AS q3_c,
          CAST(min(q.q3 - q.q1) AS BIGINT) AS iqr_c,
          CAST(sum(CASE WHEN 2 * cum.cents < 2 * q.q1 - 3 * (q.q3 - q.q1)
                     OR 2 * cum.cents > 2 * q.q3 + 3 * (q.q3 - q.q1)
                   THEN cum.n ELSE 0 END) AS BIGINT) AS n_outliers,
          round(CAST(sum(CASE WHEN
                     2 * cum.cents < 2 * q.q1 - 3 * (q.q3 - q.q1)
                     OR 2 * cum.cents > 2 * q.q3 + 3 * (q.q3 - q.q1)
                   THEN cum.n ELSE 0 END) AS DOUBLE)
            / CAST(min(cum.tot) AS DOUBLE), 6) AS outlier_rate
        FROM cum JOIN q ON cum.rf = q.rf
        GROUP BY cum.rf ORDER BY cum.rf"""

  /** Shared SQL for `agg_winsorized_mean` — P5/P95 clamp off the same
    * grid, DECIMAL-summed clamped cents, raw mean beside it. */
  private[graft] def winsorizedMeanSql(table: String): String =
    s"""${gridCumSql(table)},
        ${winsorizedTailSql}"""

  /** r21: Spark side over the memoized grid ([[liCumView]]). */
  private def winsorizedMeanSparkSql: String =
    s"""WITH cum AS (SELECT rf, cents, n, cn, tot FROM graft_li_cum),
        ${winsorizedTailSql}"""

  private def winsorizedTailSql: String =
    s"""q AS (
          SELECT rf,
            min(CASE WHEN cn * 20 >= tot THEN cents END) AS p05,
            min(CASE WHEN cn * 20 >= 19 * tot THEN cents END) AS p95
          FROM cum GROUP BY rf)
        SELECT cum.rf AS l_returnflag,
          CAST(min(q.p05) AS BIGINT) AS p05_c,
          CAST(min(q.p95) AS BIGINT) AS p95_c,
          round(CAST(sum(CAST(cum.n * cum.cents AS DECIMAL(38,0)))
              AS DOUBLE) / CAST(min(cum.tot) AS DOUBLE) / 100, 6)
            AS mean_raw,
          round(CAST(sum(CAST(cum.n *
              CASE WHEN cum.cents < q.p05 THEN q.p05
                   WHEN cum.cents > q.p95 THEN q.p95
                   ELSE cum.cents END AS DECIMAL(38,0)))
              AS DOUBLE) / CAST(min(cum.tot) AS DOUBLE) / 100, 6)
            AS mean_winsorized
        FROM cum JOIN q ON cum.rf = q.rf
        GROUP BY cum.rf ORDER BY cum.rf"""

  /** Shared SQL for `agg_hill_tail` — Hill tail-index estimator on
    * the per-priority price grid: discrete P95 cut off exact
    * cumulative counts, per-cell n·ln(x/cut) terms rounded 10dp and
    * DECIMAL-reaccumulated (acf dsum rule — the tail can hold many
    * cells), α = k/Σ. */
  private[graft] def hillTailSql(table: String): String =
    s"""${ordGridCumSql(table)},
        ${hillTailTailSql}"""

  /** r21: Spark side over the memoized orders grid ([[ordCumView]]). */
  private def hillTailSparkSql: String =
    s"""WITH cum AS (SELECT pri, cents, n, cn, tot FROM graft_ord_cum),
        ${hillTailTailSql}"""

  /** The (pri, cents) value grid + cumulative counts over orders —
    * shared verbatim by `agg_hill_tail` and `agg_cvar` (the lineitem
    * sibling is [[gridCumSql]]). Ends in `cum(pri, cents, n, cn,
    * tot)`. */
  private def ordGridCumSql(table: String): String =
    s"""WITH c AS (
          SELECT o_orderpriority AS pri,
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM $table),
        g AS (
          SELECT pri, cents, CAST(count(*) AS BIGINT) AS n
          FROM c GROUP BY pri, cents),
        cum AS (
          SELECT pri, cents, n,
            sum(n) OVER (PARTITION BY pri ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
            sum(n) OVER (PARTITION BY pri) AS tot
          FROM g)"""

  private def hillTailTailSql: String =
    s"""q AS (
          SELECT pri,
            min(CASE WHEN cn * 20 >= 19 * tot THEN cents END) AS cut
          FROM cum GROUP BY pri),
        tail AS (
          SELECT cum.pri, cum.cents, cum.n, q.cut
          FROM cum JOIN q ON cum.pri = q.pri
          WHERE cum.cents >= q.cut)
        SELECT pri AS o_orderpriority,
          CAST(min(cut) AS BIGINT) AS cut_c,
          CAST(sum(n) AS BIGINT) AS k_tail,
          CASE WHEN CAST(sum(CAST(round(CAST(n AS DOUBLE)
                * ln(CAST(cents AS DOUBLE) / CAST(cut AS DOUBLE)), 10)
              AS DECIMAL(38,10))) AS DOUBLE) = 0 THEN NULL
            ELSE round(CAST(sum(n) AS DOUBLE)
              / CAST(sum(CAST(round(CAST(n AS DOUBLE)
                  * ln(CAST(cents AS DOUBLE) / CAST(cut AS DOUBLE)), 10)
                AS DECIMAL(38,10))) AS DOUBLE), 6)
          END AS hill_alpha
        FROM tail GROUP BY pri ORDER BY pri"""

  /** Shared SQL for `agg_cvar` — discrete VaR95 cut off the same
    * per-priority price grid as hillTailSql, expected shortfall and
    * tail revenue share from exact DECIMAL tail sums. */
  private[graft] def cvarSql(table: String): String =
    s"""${ordGridCumSql(table)},
        ${cvarTailSql}"""

  /** r21: Spark side over the memoized orders grid ([[ordCumView]]). */
  private def cvarSparkSql: String =
    s"""WITH cum AS (SELECT pri, cents, n, cn, tot FROM graft_ord_cum),
        ${cvarTailSql}"""

  private def cvarTailSql: String =
    s"""q AS (
          SELECT pri,
            min(CASE WHEN cn * 20 >= 19 * tot THEN cents END) AS cut
          FROM cum GROUP BY pri),
        s AS (
          SELECT cum.pri, q.cut,
            CAST(sum(CASE WHEN cum.cents >= q.cut THEN cum.n
              ELSE 0 END) AS BIGINT) AS k_tail,
            CAST(sum(CASE WHEN cum.cents >= q.cut
              THEN CAST(cum.n * cum.cents AS DECIMAL(38,0))
              ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0))
              AS tail_cents,
            CAST(sum(CAST(cum.n * cum.cents AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS all_cents
          FROM cum JOIN q ON cum.pri = q.pri
          GROUP BY cum.pri, q.cut)
        SELECT pri AS o_orderpriority,
          round(CAST(cut AS DOUBLE) / 100, 6) AS var95,
          k_tail,
          round(CAST(tail_cents AS DOUBLE)
            / CAST(k_tail AS DOUBLE) / 100, 6) AS es95,
          round(CAST(tail_cents AS DOUBLE)
            / CAST(all_cents AS DOUBLE), 6) AS tail_rev_share
        FROM s ORDER BY pri"""

  /** Shared SQL for `agg_theil_decomp` — Theil-T inequality with the
    * within/between decomposition; per-cell n·(x/μ)·ln(x/μ) terms on
    * the per-priority value grid, 10dp-rounded + DECIMAL-reaccumulated
    * (acf dsum rule), group relation windows for the totals. */
  private def theilSql(table: String): String =
    s"""WITH c AS (
          SELECT o_orderpriority AS pri,
            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM $table),
        g AS (
          SELECT pri, cents, CAST(count(*) AS BIGINT) AS n
          FROM c GROUP BY pri, cents),
        gt AS (
          SELECT pri, CAST(sum(n) AS BIGINT) AS ng,
            CAST(sum(CAST(n * cents AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS sg
          FROM g GROUP BY pri),
        tot AS (
          SELECT CAST(sum(ng) AS BIGINT) AS nt,
            CAST(sum(sg) AS DECIMAL(38,0)) AS st
          FROM gt),
        mu AS (
          SELECT gt.pri, gt.ng, tot.nt,
            CAST(gt.sg AS DOUBLE) / CAST(gt.ng AS DOUBLE) AS mu_g,
            CAST(tot.st AS DOUBLE) / CAST(tot.nt AS DOUBLE) AS mu_t,
            CAST(gt.sg AS DOUBLE) / CAST(tot.st AS DOUBLE) AS s_g
          FROM gt CROSS JOIN tot),
        tg AS (
          SELECT g.pri,
            CAST(round(sum(CAST(round(CAST(g.n AS DOUBLE)
                * (CAST(g.cents AS DOUBLE) / mu.mu_g)
                * ln(CAST(g.cents AS DOUBLE) / mu.mu_g), 10)
              AS DECIMAL(38,10))), 10) AS DOUBLE)
              / CAST(min(mu.ng) AS DOUBLE) AS t_g
          FROM g JOIN mu ON g.pri = mu.pri
          GROUP BY g.pri),
        r AS (
          SELECT mu.pri, mu.ng, round(mu.mu_g / 100, 6) AS mean_price,
            round(mu.s_g, 6) AS income_share,
            round(tg.t_g, 6) AS theil_g,
            round(mu.s_g * tg.t_g, 10) AS contrib_within,
            round(mu.s_g * ln(mu.mu_g / mu.mu_t), 10) AS contrib_between
          FROM mu JOIN tg ON mu.pri = tg.pri)
        SELECT pri AS o_orderpriority, ng AS n_orders, mean_price,
          income_share, theil_g,
          round(contrib_within, 6) AS contrib_within,
          round(contrib_between, 6) AS contrib_between,
          CAST(round(sum(CAST(contrib_within AS DECIMAL(38,10)))
            OVER (), 6) AS DOUBLE) AS t_within,
          CAST(round(sum(CAST(contrib_between AS DECIMAL(38,10)))
            OVER (), 6) AS DOUBLE) AS t_between
        FROM r ORDER BY pri"""

  private def percentileDiscSql(table: String): String =
    s"""WITH r AS (
          SELECT event_type, value,
            cume_dist() OVER (PARTITION BY event_type
              ORDER BY value ASC) AS cd
          FROM $table)
        SELECT event_type,
          min(CASE WHEN cd >= 0.5e0 THEN value END) AS p50_disc,
          min(CASE WHEN cd >= 0.9e0 THEN value END) AS p90_disc,
          max(value) AS p100_disc
        FROM r GROUP BY event_type ORDER BY event_type"""

  /** Shared SQL for `agg_entropy` — exact counts, one ln per
    * (source, lang) cell, 6dp round absorbing the tiny term-order
    * drift of the ≤|langs|-element double sum. */
  private def entropySql(table: String): String =
    s"""WITH c AS (
          SELECT source, lang, count(*) AS n
          FROM $table GROUP BY source, lang),
        t AS (
          SELECT source, CAST(sum(n) AS BIGINT) AS tot
          FROM c GROUP BY source)
        SELECT c.source,
          CAST(min(t.tot) AS BIGINT) AS n_docs,
          CAST(count(*) AS INT) AS n_langs,
          round(-sum((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
                     * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))), 6)
            AS entropy
        FROM c JOIN t ON c.source = t.source
        GROUP BY c.source ORDER BY c.source"""

  /** Shared SQL for `agg_percentile_weighted` — identical text on both
    * engines (the `statsMomentsSql` discipline): DECIMAL cumulative
    * weights, multiplied-out thresholds, untouched double output. */
  private def weightedPctSql(table: String): String =
    s"""WITH c AS (
          SELECT l_returnflag AS rf, l_extendedprice AS price,
            sum(CAST(l_quantity AS DECIMAL(38,10)))
              OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            sum(CAST(l_quantity AS DECIMAL(38,10)))
              OVER (PARTITION BY l_returnflag) AS tot
          FROM $table)
        SELECT rf AS l_returnflag,
          min(CASE WHEN cum * 2 >= tot THEN price END) AS wp50,
          min(CASE WHEN cum * 10 >= tot * 9 THEN price END) AS wp90
        FROM c GROUP BY rf ORDER BY rf"""

  /** Shared SQL for `agg_abc_class_approx` — the sub-octave log-bucket
    * ABC classification (bitlen·16 + next-4-bits on part revenue
    * cents), per-bucket sums map-side combined, a desc cumsum over
    * the ≤1024-row bucket relation, 80%/95% crossing buckets from one
    * conditional aggregate, map-side classify. Identical text both
    * engines except the bit shift (Spark `shiftright` / DuckDB `>>`);
    * thresholds in exponent form (`80e-2`) so both parse DOUBLE. */
  private def abcApproxSql(table: String, spark: Boolean): String = {
    val sub =
      if (spark) "(shiftright(rev_c, greatest(0, length(bin(rev_c)) - 5)) & 15)"
      else "((rev_c >> greatest(0, length(bin(rev_c)) - 5)) & 15)"
    s"""WITH rev AS (
          SELECT l_partkey,
            CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 2)
              * 100 AS BIGINT) AS rev_c
          FROM $table GROUP BY l_partkey),
        keyed AS (
          SELECT l_partkey, rev_c,
            CAST(CASE WHEN rev_c <= 0 THEN 0
                 ELSE length(bin(rev_c)) * 16 + $sub END AS INT) AS bucket
          FROM rev),
        h AS (
          SELECT bucket, CAST(sum(rev_c) AS BIGINT) AS s_c
          FROM keyed GROUP BY bucket),
        t AS (SELECT CAST(sum(s_c) AS BIGINT) AS tot_c FROM h),
        r AS (
          SELECT bucket,
            CAST(sum(s_c) OVER (ORDER BY bucket DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
          FROM h),
        cuts AS (
          SELECT
            max(CASE WHEN CAST(cum AS DOUBLE)
              >= CAST(tot_c AS DOUBLE) * 80e-2 THEN bucket END) AS ka,
            max(CASE WHEN CAST(cum AS DOUBLE)
              >= CAST(tot_c AS DOUBLE) * 95e-2 THEN bucket END) AS kb
          FROM r, t),
        c AS (
          SELECT CASE WHEN keyed.bucket >= cuts.ka THEN 'A'
                      WHEN keyed.bucket >= cuts.kb THEN 'B'
                      ELSE 'C' END AS cls,
            rev_c
          FROM keyed, cuts)
        SELECT cls, count(*) AS n_parts,
          CAST(sum(rev_c) AS BIGINT) AS rev_cents
        FROM c GROUP BY cls ORDER BY cls"""
  }

  /** Shared SQL for `agg_percentile_weighted_approx` — identical text
    * on both engines except the sub-octave shift (Spark `shiftright`
    * / DuckDB `>>`). The bucket key is monotone nondecreasing in
    * price cents, so per-bucket max prices are strictly increasing
    * across nonempty buckets and the min-over-crossing-buckets
    * selection returns the FIRST crossing bucket's hi — the same
    * selection the exact form runs on rows. */
  private def weightedPctApproxSql(table: String, spark: Boolean): String = {
    val sub =
      if (spark) "(shiftright(pc, greatest(0, length(bin(pc)) - 5)) & 15)"
      else "((pc >> greatest(0, length(bin(pc)) - 5)) & 15)"
    s"""WITH c AS (
          SELECT l_returnflag AS rf, l_extendedprice AS price,
            CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc,
            CAST(round(l_quantity * 100, 0) AS BIGINT) AS qc
          FROM $table),
        k AS (
          SELECT rf, price, qc,
            CAST(CASE WHEN pc <= 0 THEN 0
                 ELSE length(bin(pc)) * 16 + $sub END AS INT) AS bucket
          FROM c),
        h AS (
          SELECT rf, bucket, CAST(sum(qc) AS BIGINT) AS w,
            max(price) AS hi
          FROM k GROUP BY rf, bucket),
        r AS (
          SELECT rf, bucket, hi,
            CAST(sum(w) OVER (PARTITION BY rf ORDER BY bucket ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
            CAST(sum(w) OVER (PARTITION BY rf) AS BIGINT) AS tot
          FROM h)
        SELECT rf AS l_returnflag,
          min(CASE WHEN cum * 2 >= tot THEN hi END) AS wp50,
          min(CASE WHEN cum * 10 >= tot * 9 THEN hi END) AS wp90
        FROM r GROUP BY rf ORDER BY rf"""
  }

  /** Shared SQL for `agg_stats_moments` — the WHOLE point is that the
    * Spark plan and the DuckDB oracle run the IDENTICAL arithmetic,
    * so the engine-specific corr/stddev merge order never enters.
    * Every finish-step operand is explicitly DOUBLE (literals in
    * `1e0` exponent form: both engines parse those as DOUBLE, whereas
    * `1.0` parses as DECIMAL(2,1) in both); sums are accumulated in
    * DECIMAL because Spark's ANSI BIGINT sum would overflow on Σy²
    * past sf 0.01 while DuckDB's would silently widen to HUGEINT. */
  private def statsMomentsSql(table: String): String =
    s"""SELECT l_returnflag,
          CAST(n AS BIGINT) AS n_rows,
          CAST(CAST(n AS DECIMAL(34,0))*sxy - CAST(sx AS DECIMAL(34,0))*sy
               AS DOUBLE)
            / sqrt(CAST(CAST(n AS DECIMAL(31,0))*sxx
                        - CAST(sx AS DECIMAL(31,0))*sx AS DOUBLE)
                   * CAST(CAST(n AS DECIMAL(37,0))*syy
                          - CAST(sy AS DECIMAL(37,0))*sy AS DOUBLE))
            AS corr_qty_price,
          CAST(CAST(n AS DECIMAL(31,0))*sxx - CAST(sx AS DECIMAL(31,0))*sx
               AS DOUBLE)
            / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0)) / 1e4
            AS var_qty,
          sqrt(CAST(CAST(n AS DECIMAL(31,0))*sxx
                    - CAST(sx AS DECIMAL(31,0))*sx AS DOUBLE)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1e0))) / 1e2
            AS std_qty
        FROM (
          SELECT l_returnflag,
            CAST(count(*) AS DECIMAL(11,0)) AS n,
            CAST(sum(CAST(x AS DECIMAL(15,0))) AS DECIMAL(15,0)) AS sx,
            CAST(sum(CAST(y AS DECIMAL(18,0))) AS DECIMAL(18,0)) AS sy,
            CAST(sum(CAST(x*x AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS sxx,
            CAST(sum(CAST(y*y AS DECIMAL(25,0))) AS DECIMAL(25,0)) AS syy,
            CAST(sum(CAST(x*y AS DECIMAL(22,0))) AS DECIMAL(22,0)) AS sxy
          FROM (
            SELECT l_returnflag,
              CAST(round(l_quantity * 100, 0) AS BIGINT) AS x,
              CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
            FROM $table)
          GROUP BY l_returnflag)
        ORDER BY l_returnflag"""
}
