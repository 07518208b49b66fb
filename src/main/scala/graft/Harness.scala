package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The run harness of the mains (`Bench`, `Dev`, `Verify`, `Soak`,
  * `StreamSoak`, `LineageAudit`): the session they run in, the one
  * timer of a query's full result, the JSON they write, and the
  * choice of registered queries by name.
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** Runs `body` in a local session and exits 1 when it returns false.
    * The session runs `local[$SPARK_GRAFT_CPUS]` (default: this
    * machine's processor count) with `SPARK_GRAFT_SHUFFLE` shuffle
    * partitions (default: the cpus), UTC and no UI. However `body`
    * ends, the session's memo is cleared and the session stopped. */
  def session(body: SparkSession => Boolean): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = try body(spark) finally try Memo.clear(spark) finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Seconds to build `df` and produce its full result. The no-op
    * writer runs every row through the whole plan; `count()` would
    * let Catalyst drop sorts, joins and aggregate expressions. */
  def time(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** `v` as JSON: a `Map` is an object in its iteration order, any
    * other collection an array; strings are escaped, non-finite
    * doubles are null. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case _: Int | _: Long | _: Boolean => v.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"no JSON form for ${other.getClass}")
  }

  /** `v` rounded half-up to `places` decimals, for [[json]]; a
    * non-finite `v` stays as it is. */
  def round(v: Double, places: Int): Any =
    if (v.isNaN || v.isInfinite) v
    else BigDecimal(v).setScale(places, BigDecimal.RoundingMode.HALF_UP)

  /** The registered queries named in `names`, in that order; every
    * registered query in name order when `names` is empty. An unknown
    * name fails before anything runs. */
  def select(names: Seq[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    if (names.isEmpty) all.toSeq.sortBy(_._1) else names.distinct.map(n => n -> all(n))
  }
}
