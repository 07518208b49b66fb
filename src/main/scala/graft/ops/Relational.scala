package graft.ops

import graft.{Memo, Op, OpModule, Tables}
import org.apache.spark.sql.functions._

/** Scans, projections, filters, casts, null handling, sort/limit and
  * set operations (SURVEY.md §2.1, §2.2, §2.6, §2.7).
  *
  * Determinism contract for every oracled op (SURVEY.md §5.2):
  * total ordering over a unique key set, `round(x, 6)` on any double
  * produced by an aggregation, and no raw timestamp columns in the
  * output (rendered via `date_format` instead, so Spark-parquet and
  * DuckDB value spaces agree).
  *
  * 100 TB notes: every op here is a single scan → narrow transforms
  * (no shuffle except the final presentation sort, which at scale
  * would be dropped or replaced by a bounded top-k); projections and
  * filters are written so Catalyst pushes them into the parquet
  * reader (verified via `PushedFilters` in explain).
  */
object Relational extends OpModule {

  /** Write a scan fixture atomically: temp file in the target dir +
    * ATOMIC_MOVE, so a concurrent reader (Spark executor or the
    * driver's out-of-band DuckDB oracle) sees either the previous
    * complete file or the new complete file, never a torn write.
    * Content at a fixed path must be writer-invariant (see the op
    * comments) — this guards the read side of that contract.
    */
  private def writeFixtureAtomic(f: java.nio.file.Path, body: String): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    Files.createDirectories(f.getParent)
    val tmp = Files.createTempFile(f.getParent, s".${f.getFileName}", ".tmp")
    try {
      Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally {
      // no-op after a successful move; deletes the orphan if write or
      // move threw, so repeated failures can't accumulate tmp files
      Files.deleteIfExists(tmp); ()
    }
  }

  /** Render the SF-invariant nation CSV fixture (shared by `scan_csv`
    * and `scan_dsv2`; 25 rows, byte-identical at every SF dir — the
    * static-oracle-path requirement documented on `scan_csv`). */
  private def nationCsvFixture(s: org.apache.spark.sql.SparkSession,
      d: String): java.nio.file.Path = {
    val rows = Tables.nation(s, d)
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey").collect()
    val f = java.nio.file.Paths.get("/tmp/graft_scan_fixtures/nation.csv")
    val body = "n_nationkey,n_name,n_regionkey\n" +
      rows.map(r => s"${r.get(0)},${r.getString(1)},${r.get(2)}")
        .mkString("\n") + "\n"
    writeFixtureAtomic(f, body)
    f
  }

  override def ops: Seq[Op] = Seq(
    // ── §2.1 scans ────────────────────────────────────────────────
    Op("scan_parquet",
      (s, d) => Tables.nation(s, d)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey, n_name, n_regionkey
              FROM nation ORDER BY n_nationkey""")),

    Op("scan_pushdown",
      (s, d) => Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
        .filter(col("l_quantity") > 45 &&
          col("l_shipdate") < lit("1996-06-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
              FROM lineitem
              WHERE l_quantity > 45 AND l_shipdate < TIMESTAMP '1996-06-01'
              ORDER BY l_orderkey, l_linenumber""")),

    Op("scan_partitioned",
      // hive-partitioned layout + partition-pruned read — the other
      // half of the scan discipline next to scan_pushdown's row-group
      // pruning: a 100 TB table is laid out by its hottest predicate
      // column, and a query on that column must never list (let alone
      // read) the other partitions' files. The fixture is a
      // partitioned copy of events ([[Memo.dir]]), and the read back
      // filters ONE partition; PlanSpec pins that the
      // predicate lands in PartitionFilters (pruning), not in the
      // data filters. The oracle reads the ORIGINAL events table:
      // same rows by construction.
      (s, d) => {
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "value", "event_type")
        val root = Memo.dir("scan_partitioned", ev)(
          ev.write.partitionBy("event_type").mode("overwrite").parquet(_))
        s.read.parquet(root)
          .filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "value")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, value FROM events
              WHERE event_type = 'purchase' ORDER BY event_id""")),

    Op("scan_schema_evolution",
      // schema-drift read: a long-lived table accretes columns, and
      // files written BEFORE the ADD lack them — the reader must
      // union the schemas and backfill NULL, not fail or silently
      // drop the column. Fixture = two generations of nation
      // ([[Memo.dir]]): v1 (keys < 13) without
      // n_regionkey, v2 (keys ≥ 13) with it; the read is
      // mergeSchema=true over both. mergeSchema costs a footer pass
      // per file — at 100 TB you pin the evolved schema in the
      // catalog instead, which is why the EXPLICIT-schema read is the
      // default everywhere else in this engine; this op is the drift
      // DISCOVERY path. Oracle reconstructs the same relation from
      // the original table (v1 rows get NULL region by construction).
      (s, d) => {
        val n = Tables.nation(s, d)
        val root = Memo.dir("scan_schema_evolution", n) { root =>
          n.filter(col("n_nationkey") < 13)
            .select("n_nationkey", "n_name")
            .write.mode("overwrite").parquet(s"$root/v1")
          n.filter(col("n_nationkey") >= 13)
            .select("n_nationkey", "n_name", "n_regionkey")
            .write.mode("overwrite").parquet(s"$root/v2")
        }
        s.read.option("mergeSchema", "true")
          .parquet(s"$root/v1", s"$root/v2")
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name,
                CASE WHEN n_nationkey >= 13 THEN n_regionkey END
                  AS n_regionkey
              FROM nation ORDER BY n_nationkey""")),

    // CSV/JSON scan surface (VERDICT r8 #4) — the first thing a new
    // user tries. The fixtures are RENDERED deterministically from the
    // NATION table only (25 rows, byte-identical at every SF dir —
    // verified across sf0.001/0.01/0.1), because the oracle SQL is a
    // STATIC string: a fixed fixture path is only safe when every
    // possible writer produces the same bytes, otherwise a bench run
    // at another SF between Verify and the driver's DuckDB compare
    // would swap the file under the oracle. Writes are atomic
    // (temp + move) so a concurrent reader never sees a torn file.
    // The op under test is `spark.read.csv/json` with an EXPLICIT
    // schema — the 100 TB discipline that skips the whole-file
    // inference pass a schema-less read pays.
    Op("scan_csv",
      (s, d) => {
        val f = nationCsvFixture(s, d)
        s.read.schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
          .option("header", true).csv(f.toString)
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey
              FROM read_csv('/tmp/graft_scan_fixtures/nation.csv', header=true)
              ORDER BY n_nationkey""")),

    Op("scan_json",
      // nation with a DERIVED double column — a long + string + double
      // mix, so the JSON path proves numeric round-tripping. The
      // double is n_nationkey/16 + n_regionkey*2.5: both terms are
      // exact in binary (divisors/multipliers are powers of two times
      // small integers), so Scala's shortest-round-trip rendering and
      // DuckDB's parse agree bit-for-bit — and unlike the previous
      // supplier rendering, the fixture bytes are SF-INVARIANT (the
      // static-oracle-path requirement above; supplier rows differ
      // per SF dir, so its fixture raced between SF runs)
      (s, d) => {
        val rows = Tables.nation(s, d)
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey").collect()
        def esc(x: String): String =
          "\"" + x.flatMap {
            case '"' => "\\\""
            case '\\' => "\\\\"
            case c if c < ' ' => f"\\u${c.toInt}%04x"
            case c => c.toString
          } + "\""
        val f = java.nio.file.Paths.get("/tmp/graft_scan_fixtures/nation_ext.jsonl")
        val body = rows.map { r =>
          // nation's keys are parquet int32 — widen via Number, not
          // getLong (GenericRow does not auto-widen boxed Integer)
          val score = r.getAs[Number](0).longValue / 16.0 +
            r.getAs[Number](2).longValue * 2.5
          s"""{"n_nationkey":${r.get(0)},"n_name":${esc(r.getString(1))},""" +
          s""""n_regionkey":${r.get(2)},"n_score":$score}"""
        }.mkString("\n") + "\n"
        writeFixtureAtomic(f, body)
        s.read.schema(
            "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, n_score DOUBLE")
          .json(f.toString)
          .select("n_nationkey", "n_name", "n_regionkey", "n_score")
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey, n_score
              FROM read_json('/tmp/graft_scan_fixtures/nation_ext.jsonl',
                             format='newline_delimited')
              ORDER BY n_nationkey""")),

    Op("scan_text",
      // raw text-line ingestion + in-engine parse — the log-file path:
      // `spark.read.text` hands each line through as ONE string column
      // and the structure is recovered by a codegen'd projection
      // (split + casts), which is how a 100 TB pile of appliance logs
      // actually lands (no schema, no quoting discipline — the parse
      // IS the query's first stage, and a malformed line is data, not
      // an error). Text splits by line across executors like any text
      // source; the parse projection pushes nothing but also COSTS
      // nothing extra — it fuses into the first wholestage span.
      // Fixture = the shared nation CSV read as raw lines, header
      // skipped by value (a filter, not an option — read.text has no
      // header concept, which is the point); oracle reads the same
      // file with DuckDB's CSV reader ⇒ the hash gate proves the
      // hand parse ≡ a real CSV parser on this dialect.
      (s, d) => {
        val f = nationCsvFixture(s, d)
        s.read.text(f.toString)
          .filter(col("value") =!= lit("n_nationkey,n_name,n_regionkey"))
          .select(split(col("value"), ",").as("p"))
          .select(col("p")(0).cast("long").as("n_nationkey"),
            col("p")(1).as("n_name"),
            col("p")(2).cast("long").as("n_regionkey"))
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey
              FROM read_csv('/tmp/graft_scan_fixtures/nation.csv', header=true)
              ORDER BY n_nationkey""")),

    Op("scan_csv_malformed",
      // malformed-record discipline — the first thing a real 100 TB
      // text pile teaches: some lines are garbage (wrong field count,
      // unparseable numbers), and the job must QUARANTINE them, not
      // crash hours in (the fn_try_ansi argument at the scan layer).
      // Fixture = the nation rows plus three planted poison lines
      // (2 fields / 4 fields / non-numeric key — the three classic
      // corruption shapes). The read runs mode=DROPMALFORMED with an
      // explicit schema: bad lines drop at the PARSER, good rows flow
      // — and DuckDB's ignore_errors=true implements the same
      // contract, so the hash gate proves both parsers agree on
      // exactly which lines are salvageable. The PERMISSIVE +
      // _corrupt_record variant (quarantine-to-a-column, count = 3)
      // is pinned in SourcesSpec — that is the production form when
      // the bad lines must land in a dead-letter table instead of
      // vanishing.
      (s, d) => {
        val rows = Tables.nation(s, d)
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey").collect()
        val f = java.nio.file.Paths.get(
          "/tmp/graft_scan_fixtures/nation_bad.csv")
        val body = "n_nationkey,n_name,n_regionkey\n" +
          rows.map(r => s"${r.get(0)},${r.getString(1)},${r.get(2)}")
            .mkString("\n") +
          "\ngarbage,line\n40,EXTRAFIELD,4,surplus\nnotanumber,BADKEY,3\n"
        writeFixtureAtomic(f, body)
        s.read
          .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
          .option("header", true).option("mode", "DROPMALFORMED")
          .csv(f.toString)
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey
              FROM read_csv('/tmp/graft_scan_fixtures/nation_bad.csv',
                header=true, ignore_errors=true,
                columns={'n_nationkey':'BIGINT','n_name':'VARCHAR',
                         'n_regionkey':'BIGINT'})
              ORDER BY n_nationkey""")),

    Op("scan_xml",
      // XML scan surface — Spark 4 folded the spark-xml connector into
      // core (`spark.read.xml`, SPARK-44265), so a landing zone handing
      // us XML exports (the classic enterprise-integration format) costs
      // no extra dependency. Fixture = nation rendered to one
      // SF-invariant XML document (25 rows, byte-identical at every SF
      // dir — same static-oracle-path requirement as scan_csv), read
      // back with rowTag + an EXPLICIT schema: XML inference is a full
      // extra parse pass, doubly expensive here because XML is the most
      // parse-bound of the text formats. At 100 TB, XML files split by
      // row tag across executors like any text source, but the per-byte
      // cost is ~10× CSV — the note a real migration needs is "convert
      // once, then columnar", which is exactly what the oracle proves:
      // the XML round-trip is value-identical to the parquet original.
      // DuckDB cannot read XML, so the oracle queries the SOURCE nation
      // table the fixture was rendered from — same relation by
      // construction, which makes the hash gate a true round-trip proof.
      (s, d) => {
        val rows = Tables.nation(s, d)
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey").collect()
        def esc(x: String): String = x.flatMap {
          case '&' => "&amp;"
          case '<' => "&lt;"
          case '>' => "&gt;"
          case c => c.toString
        }
        val f = java.nio.file.Paths.get("/tmp/graft_scan_fixtures/nation.xml")
        val body = "<nations>\n" + rows.map { r =>
          s"  <nation><n_nationkey>${r.get(0)}</n_nationkey>" +
            s"<n_name>${esc(r.getString(1))}</n_name>" +
            s"<n_regionkey>${r.get(2)}</n_regionkey></nation>"
        }.mkString("\n") + "\n</nations>\n"
        writeFixtureAtomic(f, body)
        s.read
          .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
          .option("rowTag", "nation")
          .xml(f.toString)
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey")
      },
      // keys cast: the source nation parquet stores int32 keys, but
      // the XML read's explicit schema types them BIGINT
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
                CAST(n_regionkey AS BIGINT) AS n_regionkey
              FROM nation ORDER BY n_nationkey""")),

    // The custom DataSourceV2 connector (SURVEY row 7f, VERDICT r10
    // #7): TableProvider → ScanBuilder → Batch → PartitionReader over
    // the same rendered nation fixture, with the filter PUSHED into
    // the reader (rows failing it never become InternalRows) and the
    // projection PRUNED (n_regionkey is consumed by the pushed filter
    // and never materialized). PlanSpec pins both on the executed
    // plan's BatchScanExec; the hash gate pins the bytes.
    Op("scan_dsv2",
      (s, d) => {
        val f = nationCsvFixture(s, d)
        s.read.format("graft.sources.GraftFixtureSource")
          .option("path", f.toString).load()
          .filter(col("n_regionkey") <= 2)
          .select("n_nationkey", "n_name")
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name
              FROM read_csv('/tmp/graft_scan_fixtures/nation.csv', header=true)
              WHERE n_regionkey <= 2
              ORDER BY n_nationkey""")),

    // The WRITE half of the V2 connector under the driver's hash gate
    // (SURVEY row 7f-w, VERDICT r17 #2): a deterministic relation
    // derived from nation flows through the full two-phase-commit
    // writer (per-task temp → WriterCommitMessage → driver-side
    // atomic MOVE — SourcesSpec pins the task/job abort invariants)
    // and back out through the V2 scan with a pushed filter, and the
    // oracle recomputes the SAME relation from the source table in
    // DuckDB — a green hash row proves effectively-once END-TO-END
    // VISIBILITY (every committed row, no duplicate, no torn file),
    // not just the protocol invariants the spec asserts. The derive
    // step shifts keys and prefixes names so a stale or partial file
    // from any other fixture cannot alias the expected bytes. The
    // written file is a session fixture ([[Memo.dir]]): a shared
    // hard-coded /tmp file races when two sessions run concurrently
    // on one host (ADVICE r18), and the oracle never reads it.
    Op("scan_dsv2_roundtrip",
      (s, d) => {
        val derived = Tables.nation(s, d)
          .select(
            (col("n_nationkey") + 100).cast("long").as("n_nationkey"),
            concat(lit("V2_"), col("n_name")).as("n_name"),
            (col("n_regionkey") * 2 + 1).cast("long").as("n_regionkey"))
        val path = Memo.dir("scan_dsv2_roundtrip", derived) { root =>
          derived.write.format("graft.sources.GraftFixtureSource")
            .option("path", s"$root/nation_v2_roundtrip.csv")
            .mode("overwrite").save()
        } + "/nation_v2_roundtrip.csv"
        s.read.format("graft.sources.GraftFixtureSource")
          .option("path", path).load()
          .filter(col("n_regionkey") >= 3)
          .orderBy("n_nationkey")
      },
      Some("""SELECT CAST(n_nationkey + 100 AS BIGINT) AS n_nationkey,
                'V2_' || n_name AS n_name,
                CAST(n_regionkey * 2 + 1 AS BIGINT) AS n_regionkey
              FROM nation
              WHERE n_regionkey * 2 + 1 >= 3
              ORDER BY n_nationkey""")),

    Op("scan_orc",
      // ORC scan surface (SURVEY row 7h) — the other columnar format
      // Spark ships natively; a meepo-adjacent warehouse is as likely
      // to hand us ORC (Hive lineage) as parquet. Fixture = an ORC
      // copy of events ([[Memo.dir]]); the read back is the 100 TB
      // discipline end-to-end: EXPLICIT schema (no footer-inference
      // pass over the fleet of files), predicate pushed to the ORC
      // reader (ORC carries per-stripe min/max + optional bloom
      // indexes, so `event_type = 'view'` skips whole stripes the
      // same way parquet row-group pruning does — PlanSpec pins
      // PushedFilters lands in the scan), projection pruned to the
      // three output columns. The oracle reads the ORIGINAL parquet
      // events: same rows by construction, so the hash gate proves
      // the ORC round-trip is value-exact (incl. the double column).
      (s, d) => {
        val ev = Tables.events(s, d)
          .select("event_id", "user_id", "value", "event_type")
        val root = Memo.dir("scan_orc", ev)(ev.write.mode("overwrite").orc(_))
        s.read
          .schema("event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING")
          .orc(root)
          .filter(col("event_type") === "view")
          .select("event_id", "user_id", "value")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, value FROM events
              WHERE event_type = 'view' ORDER BY event_id""")),

    Op("scan_jdbc",
      // JDBC SOURCE (r15) — the read half of the JDBC story
      // (`JdbcUpsertSink` is the write half): dimension hydration
      // from a relational store, the standard warehouse-to-Spark
      // bridge a meepo-family deployment runs against MySQL. Offline
      // the server is embedded Derby (in Spark's own jars — the same
      // boundary the sink draws). The read is the 100 TB discipline
      // for JDBC: a PARTITIONED scan (partitionColumn/bounds/
      // numPartitions slices the table into range predicates, one
      // connection per partition — the only way a JDBC read
      // parallelizes; an unpartitioned read is one executor thread
      // pulling the whole table through one socket). Bounds come from
      // the dimension's own min/max — an O(1) stats read, the same
      // bounded-driver-metadata class as collectCentroids. The hash
      // gate proves the parquet → Derby → Spark round trip is
      // value-exact, doubles included; Derby uppercases identifiers,
      // so the projection restores the oracle's lowercase names.
      (s, d) => {
        // the embedded database lives in a session fixture dir ([[Memo.dir]])
        def url(root: String) = s"jdbc:derby:$root/db;create=true"
        val props = new java.util.Properties()
        props.put("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        val cust = Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        val root = Memo.dir("scan_jdbc", cust) { root =>
          cust.write.mode("overwrite")
            .option("createTableColumnTypes", "c_name VARCHAR(64)")
            .jdbc(url(root), "CUSTOMER", props)
        }
        val bounds = Tables.customer(s, d)
          .agg(min("c_custkey"), max("c_custkey")).head()
        s.read.format("jdbc")
          .option("url", url(root))
          .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
          .option("dbtable", "CUSTOMER")
          .option("partitionColumn", "C_CUSTKEY")
          .option("lowerBound", bounds.getLong(0).toString)
          .option("upperBound", (bounds.getLong(1) + 1).toString)
          .option("numPartitions", "4")
          .load()
          .select(col("C_CUSTKEY").as("c_custkey"),
            col("C_NAME").as("c_name"),
            col("C_NATIONKEY").as("c_nationkey"),
            col("C_ACCTBAL").as("c_acctbal"))
          .filter(col("c_nationkey") <= 12)
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal
              FROM customer WHERE c_nationkey <= 12
              ORDER BY c_custkey""")),

    // ── §2.2 row expressions ──────────────────────────────────────
    Op("project_expr",
      // per-row IEEE arithmetic is bit-identical across engines when the
      // expression shape matches — no rounding needed (unlike aggregates)
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))).as("charge"),
          (col("l_quantity") + lit(10.0)).as("qty_plus"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1.0 - l_discount) AS revenue,
                l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge,
                l_quantity + 10.0 AS qty_plus
              FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    Op("filter_pred",
      (s, d) => Tables.orders(s, d)
        .filter((col("o_orderstatus").isin("F", "P") &&
          col("o_totalprice").between(1000.0, 200000.0) &&
          col("o_orderpriority").like("1-%")) ||
          (col("o_orderpriority") === "5-LOW" && !(col("o_totalprice") > 5000.0)))
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
              FROM orders
              WHERE (o_orderstatus IN ('F','P')
                     AND o_totalprice BETWEEN 1000.0 AND 200000.0
                     AND o_orderpriority LIKE '1-%')
                 OR (o_orderpriority = '5-LOW' AND NOT (o_totalprice > 5000.0))
              ORDER BY o_orderkey""")),

    Op("case_when",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_quantity") < 10, "low")
            .when(col("l_quantity") < 30, "mid")
            .when(col("l_quantity") < 45, "high")
            .otherwise("bulk").as("qty_tier"),
          when(col("l_returnflag") === "R", col("l_extendedprice"))
            .as("returned_price"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
                CASE WHEN l_quantity < 10 THEN 'low'
                     WHEN l_quantity < 30 THEN 'mid'
                     WHEN l_quantity < 45 THEN 'high'
                     ELSE 'bulk' END AS qty_tier,
                CASE WHEN l_returnflag = 'R' THEN l_extendedprice END
                  AS returned_price
              FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    Op("cast_types",
      // Spark CAST(double AS int) truncates toward zero; DuckDB rounds —
      // oracle side uses trunc() to pin the Spark semantics.
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("long").as("price_long"),
          col("o_orderkey").cast("string").as("key_str"),
          col("o_orderdate").cast("date").cast("string").as("date_str"),
          lit("42").cast("int").as("parsed_int"),
          col("o_orderkey").cast("double").as("key_dbl"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
                CAST(trunc(o_totalprice) AS BIGINT) AS price_long,
                CAST(o_orderkey AS VARCHAR) AS key_str,
                CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str,
                CAST('42' AS INTEGER) AS parsed_int,
                CAST(o_orderkey AS DOUBLE) AS key_dbl
              FROM orders ORDER BY o_orderkey""")),

    Op("cond_null_fns",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("P")).as("status_np"),
          coalesce(nullif(col("o_orderstatus"), lit("P")), lit("PENDING"))
            .as("status_filled"),
          greatest(col("o_totalprice"), lit(50000.0)).as("floor_price"),
          least(col("o_totalprice"), lit(50000.0)).as("cap_price"),
          nullif(col("o_orderstatus"), lit("P")).isNull.as("was_pending"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
                nullif(o_orderstatus, 'P') AS status_np,
                coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_filled,
                greatest(o_totalprice, 50000.0) AS floor_price,
                least(o_totalprice, 50000.0) AS cap_price,
                nullif(o_orderstatus, 'P') IS NULL AS was_pending
              FROM orders ORDER BY o_orderkey""")),

    Op("fn_try_ansi",
      // ANSI-mode row-level safety: Spark 4 runs ANSI by default, so a
      // malformed cast, divide-by-zero, or out-of-range index THROWS —
      // at 100 TB that's a job dying hours in on one bad row. The
      // try_* family degrades per-row to NULL instead, which is the
      // only operable failure mode at scale (quarantine the NULLs,
      // keep the job). DuckDB mirrors with TRY_CAST / nullif-guarded
      // division / native NULL on out-of-range list index.
      (s, d) => Tables.events(s, d)
        .select(col("event_id"),
          expr("try_cast(event_type AS BIGINT)").as("bad_cast"),
          expr("try_cast(cast(user_id AS STRING) AS BIGINT)")
            .as("roundtrip_cast"),
          expr("try_divide(value, user_id % 3)").as("safe_div"),
          expr("try_element_at(array(1, 2, 3), cast(user_id % 5 AS INT) + 1)")
            .as("safe_idx"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
                TRY_CAST(event_type AS BIGINT) AS bad_cast,
                TRY_CAST(CAST(user_id AS VARCHAR) AS BIGINT) AS roundtrip_cast,
                value / nullif(user_id % 3, 0) AS safe_div,
                ([1, 2, 3])[CAST(user_id % 5 AS INTEGER) + 1] AS safe_idx
              FROM events ORDER BY event_id""")),

    // ── §2.6 sort / limit ─────────────────────────────────────────
    Op("sort_multi",
      (s, d) => Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy(col("o_orderpriority").asc_nulls_first,
          col("o_totalprice").desc_nulls_last, col("o_orderkey").asc),
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice
              FROM orders
              ORDER BY o_orderpriority ASC NULLS FIRST,
                       o_totalprice DESC NULLS LAST, o_orderkey ASC""")),

    Op("limit_topk",
      // ORDER BY + LIMIT compiles to TakeOrderedAndProject: each task
      // keeps a k-row heap, driver merges — no global sort at scale.
      (s, d) => Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""")),

    // ── §2.7 set operations ───────────────────────────────────────
    Op("set_union_all",
      (s, d) => {
        val e = Tables.events(s, d).select("event_id", "user_id", "event_type")
        e.filter(col("event_type") === "click")
          .unionByName(e.filter(col("event_type") === "purchase"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT event_id, user_id, event_type FROM events WHERE event_type = 'purchase'
              ORDER BY event_id""")),

    Op("set_union_distinct",
      (s, d) => {
        val e = Tables.events(s, d)
        e.filter(col("event_type") === "click").select("user_id")
          .union(e.filter(col("event_type") === "purchase").select("user_id"))
          .distinct()
          .orderBy("user_id")
      },
      Some("""SELECT user_id FROM events WHERE event_type = 'click'
              UNION
              SELECT user_id FROM events WHERE event_type = 'purchase'
              ORDER BY user_id""")),

    Op("set_intersect",
      // (user, day) granularity: days on which a user both clicked and
      // purchased — user_id alone degenerates to "all users" at sf≥0.01
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"),
            date_trunc("day", col("ts")).cast("date").as("day"),
            col("event_type"))
        e.filter(col("event_type") === "click").select("user_id", "day")
          .intersect(e.filter(col("event_type") === "purchase").select("user_id", "day"))
          .orderBy("user_id", "day")
      },
      Some("""SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events WHERE event_type = 'click'
              INTERSECT
              SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events WHERE event_type = 'purchase'
              ORDER BY user_id, day""")),

    Op("set_except",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"),
            date_trunc("day", col("ts")).cast("date").as("day"),
            col("event_type"))
        e.filter(col("event_type") === "view").select("user_id", "day")
          .except(e.filter(col("event_type") === "purchase").select("user_id", "day"))
          .orderBy("user_id", "day")
      },
      Some("""SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events WHERE event_type = 'view'
              EXCEPT
              SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events WHERE event_type = 'purchase'
              ORDER BY user_id, day""")),

    Op("set_except_all",
      // bag difference: multiplicity-aware (user with 3 views and 1
      // purchase keeps 2 rows). Identical rows are interchangeable, so
      // ordering by user_id alone is still hash-stable.
      (s, d) => {
        val e = Tables.events(s, d)
        e.filter(col("event_type") === "view").select("user_id")
          .exceptAll(e.filter(col("event_type") === "purchase").select("user_id"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id FROM events WHERE event_type = 'view'
              EXCEPT ALL
              SELECT user_id FROM events WHERE event_type = 'purchase'
              ORDER BY user_id""")),

    Op("set_intersect_all",
      // bag intersection: min(multiplicity) per value — a user with 3
      // view-days and 2 purchase-days keeps 2 rows. Completes the bag
      // half of §2.7 alongside set_except_all. Identical rows are
      // interchangeable, so ordering by user_id alone is hash-stable.
      // Compiles to one hash aggregate per side + a count-min merge —
      // same shuffle budget as INTERSECT, scales identically.
      (s, d) => {
        val e = Tables.events(s, d)
        e.filter(col("event_type") === "view").select("user_id")
          .intersectAll(e.filter(col("event_type") === "purchase").select("user_id"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id FROM events WHERE event_type = 'view'
              INTERSECT ALL
              SELECT user_id FROM events WHERE event_type = 'purchase'
              ORDER BY user_id"""))
  )
}
