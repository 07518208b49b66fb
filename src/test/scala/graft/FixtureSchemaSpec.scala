package graft

import org.apache.spark.sql.types._

/** Schema-drift canary (r13, after the events.ts incident): the
  * driver REGENERATES the testdata between rounds and physical
  * encodings have drifted before (events.ts went timestamp[ns] →
  * tz-less timestamp[us] at the r12→r13 boundary, silently failing
  * 45 queries at round close). This suite pins the SPARK-SIDE read
  * schema of every table so the next drift fails HERE, loudly, with
  * the table and column named — instead of surfacing as dozens of
  * cryptic per-query AnalysisExceptions. On a failure: update the
  * loader (the `Tables.normalizeEventTs` dispatch pattern), confirm
  * the oracle SQL stays total under the new encoding
  * (FIXTURES.md), then re-pin here.
  */
class FixtureSchemaSpec extends SparkSpec {

  /** Accept either LTZ or NTZ for tz-less parquet timestamps — which
    * one Spark infers depends on `inferTimestampNTZ`; every op using
    * these columns must be valid under both (events goes through
    * `Tables.normalizeEventTs` precisely because some are not). */
  private def isTimestamp(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  private def fieldTypes(table: String): Map[String, DataType] =
    Tables.load(spark, sf001, table).schema.fields.map(f => f.name -> f.dataType).toMap

  private def pin(table: String, expect: (String, DataType => Boolean)*): Unit = {
    val actual = fieldTypes(table)
    val missing = expect.map(_._1).filterNot(actual.contains)
    assert(missing.isEmpty,
      s"$table: columns $missing missing — testdata regenerated with a " +
        s"new layout? actual: ${actual.keys.toSeq.sorted}")
    expect.foreach { case (name, ok) =>
      assert(ok(actual(name)),
        s"$table.$name drifted to ${actual(name)} — update the loader " +
          "(Tables.normalizeEventTs pattern) and FIXTURES.md, then re-pin")
    }
  }

  private def is(dt: DataType): DataType => Boolean = _ == dt

  test("TPC-H dim/fact schemas match what the ops assume") {
    pin("region", "r_regionkey" -> is(IntegerType), "r_name" -> is(StringType))
    pin("nation", "n_nationkey" -> is(IntegerType), "n_name" -> is(StringType),
      "n_regionkey" -> is(IntegerType))
    pin("customer", "c_custkey" -> is(LongType), "c_nationkey" -> is(IntegerType),
      "c_acctbal" -> is(DoubleType), "c_mktsegment" -> is(StringType))
    pin("supplier", "s_suppkey" -> is(LongType), "s_nationkey" -> is(IntegerType),
      "s_acctbal" -> is(DoubleType))
    pin("part", "p_partkey" -> is(LongType), "p_size" -> is(IntegerType),
      "p_retailprice" -> is(DoubleType))
    pin("orders", "o_orderkey" -> is(LongType), "o_custkey" -> is(LongType),
      "o_totalprice" -> is(DoubleType),
      "o_orderdate" -> isTimestamp _, "o_orderpriority" -> is(StringType))
    pin("lineitem", "l_orderkey" -> is(LongType), "l_partkey" -> is(LongType),
      "l_suppkey" -> is(LongType), "l_linenumber" -> is(IntegerType),
      "l_quantity" -> is(DoubleType), "l_extendedprice" -> is(DoubleType),
      "l_discount" -> is(DoubleType), "l_returnflag" -> is(StringType),
      "l_shipdate" -> isTimestamp _)
  }

  test("events/documents/embeddings schemas match what the ops assume") {
    // raw: ts may be long nanos (legacy), NTZ, or LTZ — all handled
    pin("events", "event_id" -> is(LongType),
      "ts" -> (dt => dt == LongType || isTimestamp(dt)),
      "user_id" -> is(LongType), "event_type" -> is(StringType),
      "value" -> is(DoubleType), "props" -> is(StringType))
    pin("documents", "doc_id" -> is(LongType), "text" -> is(StringType),
      "lang" -> is(StringType), "source" -> is(StringType),
      "n_chars" -> is(LongType))
    pin("embeddings", "vec_id" -> is(LongType),
      "embedding" -> is(ArrayType(FloatType)),
      "label" -> is(IntegerType))
  }

  test("the normalized events.ts every op consumes is TimestampType at all SFs") {
    Seq(sf001, sf01, sf1).foreach { d =>
      val dt = Tables.events(spark, d).schema("ts").dataType
      assert(dt == TimestampType,
        s"Tables.events($d).ts normalized to $dt, not TimestampType — " +
          "normalizeEventTs needs a case for the new source encoding")
    }
  }
}
