package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The run harness's pure parts ([[Harness.json]], [[Harness.select]])
  * and Bench's stdout line: parsed back with Jackson, no query runs. */
class HarnessSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  test("json escapes every control char, quote and backslash, and Jackson reads the string back") {
    val nasty = (0 until 0x20).map(_.toChar).mkString + "\"\\ é ß 漢字   \\s+ done"
    val doc = Harness.json(ListMap(nasty -> Seq(nasty, 1, -2L, 0.25, true),
      "n" -> Double.NaN, "m" -> ListMap("r" -> Harness.round(1.23456, 3))))
    val t = mapper.readTree(doc)
    assert(t.fieldNames().asScala.toSeq == Seq(nasty, "n", "m"))
    val arr = t.get(nasty)
    assert(arr.get(0).asText == nasty)
    assert(arr.get(1).asInt == 1 && arr.get(2).asLong == -2L && arr.get(3).asDouble == 0.25)
    assert(arr.get(4).asBoolean)
    assert(t.get("n").isNull)
    assert(t.get("m").get("r").asDouble == 1.235 && doc.contains("\"r\":1.235}"))
  }

  test("oracleSqlJson parses back to exactly oracleSql") {
    val t = mapper.readTree(SparkEntry.oracleSqlJson)
    val back = t.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    assert(back.size == SparkEntry.oracleSql.size && back.size >= 340, back.size)
    assert(back == SparkEntry.oracleSql)
  }

  test("select returns exactly the named queries and rejects an unknown name") {
    val names = Seq("agg_hash_group", "join_inner_smj", "sort_multi")
    val got = Harness.select(names)
    assert(got.map(_._1) == names)
    assert(Harness.select(Nil).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    val e = intercept[IllegalArgumentException](
      Harness.select(Seq("agg_hash_group", "no_such_query")))
    assert(e.getMessage.contains("no_such_query") && !e.getMessage.contains("agg_hash_group"))
  }

  test("Bench's queries line holds the slowest entries in at most 1500 bytes, even at worst-case times") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size >= 376, names.size)
    // the widest entries: every time four integer digits, one failed query
    val best = names.zipWithIndex.map { case (n, i) => n -> (9000.0 + i + 0.9996) }.toMap +
      (names.head -> -1.0)
    val line = Bench.queriesLine(best)
    assert(line.getBytes("UTF-8").length <= Bench.QueriesLineMax, line.length)
    val t = mapper.readTree(line)
    assert(t.get("metric").asText == "queries")
    val shown: Seq[(String, JsonNode)] = t.get("queries").fields().asScala
      .map(e => e.getKey -> e.getValue).toSeq
    assert(shown.size >= 20, shown.size)
    val slowest = best.toSeq.sortBy(-_._2).take(shown.size)
    assert(shown.map(_._1) == slowest.map(_._1))
    shown.zip(slowest).foreach { case ((_, v), (_, want)) =>
      assert(v.asDouble == BigDecimal(want).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // a small registry fits whole, failures as -1
    val small = Bench.queriesLine(Map("a" -> 0.12345, "b" -> -1.0))
    assert(small == """{"metric":"queries","queries":{"a":0.123,"b":-1}}""")
  }

  test("Bench's summary line keeps its keys and leaves failed queries out of the totals") {
    val run = Bench.Run("/sf", ListMap("a" -> 2.0, "b" -> -1.0, "c" -> 1.0),
      ListMap("a" -> 1.5, "b" -> -1.0, "c" -> -1.0),
      ListMap("p1:b" -> "boom \"x\"", "p2:b" -> "boom", "p2:c" -> "late"))
    val t = mapper.readTree(Harness.json(run.summary))
    assert(t.fieldNames().asScala.toSeq ==
      Seq("metric", "value", "unit", "n_queries", "value_cold", "n_failed", "sf"))
    assert(t.get("value").asDouble == 2.5 && t.get("value_cold").asDouble == 3.0)
    assert(t.get("n_queries").asInt == 3 && t.get("n_failed").asInt == 2)
    val r = mapper.readTree(Harness.json(run.report))
    assert(r.get("queries").get("b").asDouble == -1.0)
    assert(r.get("errors").get("p1:b").asText == "boom \"x\"")
    Seq("queries_cold", "queries_warm").foreach(k => assert(r.get(k).size == 3))
  }
}
