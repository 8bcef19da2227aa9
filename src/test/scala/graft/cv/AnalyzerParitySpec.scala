package graft.cv

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Creation-time error parity with the reference's analyzer battery
  * (analyze_cont_view.sql:20-123). Each case asserts BOTH that creation
  * fails and that the message names the actual domain problem — an opaque
  * Catalyst resolution error is a spec failure for shapes the reference
  * diagnoses specifically.
  */
class AnalyzerParitySpec extends AnyFunSuite with SharedSpark {

  private lazy val eng: ContViewEngine = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ap").toString
    val e = new ContViewEngine(spark, dir)
    e.createStream("s", StructType(Seq(
      StructField("x", IntegerType), StructField("key", StringType),
      StructField("val", DoubleType), StructField("ts", TimestampType))))
    e.createStream("s2", StructType(Seq(StructField("x", IntegerType))))
    // a plain table for join shapes
    import spark.implicits._
    Seq((1, 10)).toDF("id", "v").createOrReplaceTempView("t0")
    e
  }

  /** Creation must fail and every fragment must appear in some message on
    * the cause chain (case-insensitive).
    */
  private def rejected(ddl: String, fragments: String*): Unit = {
    val e = intercept[Exception](eng.sql(ddl))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n").toLowerCase
    fragments.foreach(f => assert(chain.contains(f.toLowerCase),
      s"expected '$f' in error for [$ddl]; got:\n$chain"))
  }

  // --- wildcard selections (sql:42-48) ---
  test("SELECT * is rejected") {
    rejected("CREATE CONTINUOUS VIEW w0 AS SELECT * FROM s", "cannot select", "*")
    rejected("CREATE CONTINUOUS VIEW w1 AS SELECT * FROM s JOIN t0 ON s.x = t0.id",
      "cannot select", "*")
    rejected("CREATE CONTINUOUS VIEW w2 AS SELECT t0.* FROM s JOIN t0 ON s.x = t0.id",
      "cannot select", "t0.*")
    rejected(
      "CREATE CONTINUOUS VIEW w3 AS SELECT q.* FROM s AS q JOIN t0 ON q.x = t0.id",
      "cannot select", "q.*")
    rejected("CREATE VIEW w4 WITH (action=transform) AS SELECT * FROM s",
      "cannot select", "*")
    // count(*) is NOT a wildcard selection
    eng.sql("CREATE CONTINUOUS VIEW wok AS SELECT count(*) AS n FROM s")
    eng.dropContView("wok")
  }

  // --- sorting streams (sql:50-52) ---
  test("ORDER BY is rejected") {
    rejected("CREATE CONTINUOUS VIEW o0 AS SELECT key FROM s ORDER BY key",
      "order by")
  }

  // --- sliding-window predicate shapes (sql:54-60) ---
  test("malformed clock_timestamp() predicates are domain errors") {
    // the canonical spelling works
    eng.sql("""CREATE CONTINUOUS VIEW sw_ok AS SELECT count(*) AS n FROM s
              |WHERE arrival_timestamp > clock_timestamp() - interval '1 hour'""".stripMargin)
    eng.dropContView("sw_ok")
    // NOT-wrapped
    rejected("""CREATE CONTINUOUS VIEW sw0 AS SELECT count(*) AS n FROM s
               |WHERE NOT arrival_timestamp > clock_timestamp() - interval '1 hour'""".stripMargin,
      "clock_timestamp")
    // OR-combined
    rejected("""CREATE CONTINUOUS VIEW sw1 AS SELECT count(*) AS n FROM s
               |WHERE arrival_timestamp > clock_timestamp() - interval '1 hour'
               |   OR key = 'pipelinedb'""".stripMargin,
      "clock_timestamp")
    // twice
    rejected("""CREATE CONTINUOUS VIEW sw2 AS SELECT count(*) AS n FROM s
               |WHERE arrival_timestamp > clock_timestamp() - interval '1 hour'
               |  AND arrival_timestamp > clock_timestamp() - interval '5 hour'""".stripMargin,
      "clock_timestamp")
    // on a stateless transform
    rejected("""CREATE VIEW sw3 WITH (action=transform) AS SELECT x FROM s
               |WHERE ts > clock_timestamp() - interval '1 hour'""".stripMargin,
      "sliding-window")
  }

  // --- relation / column errors (sql:25, 92-96, 118) ---
  test("unknown columns, tables, and self-references fail at creation") {
    rejected("CREATE CONTINUOUS VIEW c0 AS SELECT col FROM s", "col")
    rejected(
      "CREATE CONTINUOUS VIEW c1 AS SELECT s.x, t.tid FROM s JOIN not_a_table t ON s.x = t.tid",
      "not_a_table")
    rejected("CREATE CONTINUOUS VIEW c2 AS SELECT x FROM c2", "c2")
    // qualified ref to an alias that is not in scope (sql:116 cqregress3)
    rejected("CREATE CONTINUOUS VIEW c3 AS SELECT stream0.x FROM s", "stream0")
  }

  // --- table-only CVs (sql:88-90) ---
  test("a CV reading only tables is rejected") {
    rejected("CREATE CONTINUOUS VIEW t_only AS SELECT id FROM t0",
      "stream")
  }

  // --- windows / HAVING / nested aggregation walls (sql:10-12 + analyzer.c) ---
  test("OVER windows, HAVING, and nested aggregates are rejected") {
    rejected(
      "CREATE CONTINUOUS VIEW win0 AS SELECT ts, sum(val) OVER (ORDER BY ts) AS r FROM s",
      "window")
    rejected(
      """CREATE CONTINUOUS VIEW h0 AS SELECT key, count(*) AS n FROM s
        |GROUP BY key HAVING count(*) > 2""".stripMargin,
      "having")
    rejected(
      """CREATE CONTINUOUS VIEW na0 AS SELECT ub, count(*) AS n FROM (
        |  SELECT x % 5 AS ub, count(*) AS inner_n FROM s GROUP BY x % 5) t
        |GROUP BY ub""".stripMargin,
      "aggregates in subselects")
  }

  // --- stream-stream joins (analyzer.c:1264-1274) ---
  test("stream-stream joins are rejected for CVs and CTs") {
    rejected(
      "CREATE CONTINUOUS VIEW ss0 AS SELECT count(*) AS n FROM s JOIN s2 ON s.x = s2.x",
      "stream-stream")
    rejected(
      "CREATE VIEW ss1 WITH (action=transform) AS SELECT s.x FROM s JOIN s2 ON s.x = s2.x",
      "stream-stream")
  }

  // --- misc reference walls ---
  test("reserved arrival_timestamp, scalar target-list subselects, DISTINCT aggs") {
    rejected(
      "CREATE CONTINUOUS VIEW r0 AS SELECT ts AS arrival_timestamp, count(*) AS n FROM s GROUP BY ts",
      "arrival_timestamp")
    rejected(
      "CREATE CONTINUOUS VIEW r1 AS SELECT key, (SELECT max(id) FROM t0) AS m, count(*) AS n FROM s GROUP BY key",
      "subselect")
    // count(DISTINCT) is supported via HLL; other DISTINCT aggregates are not
    rejected(
      "CREATE CONTINUOUS VIEW r2 AS SELECT key, sum(DISTINCT x) AS sd FROM s GROUP BY key",
      "distinct")
  }

  // --- transforms must not aggregate (transforms.sql) ---
  test("aggregating transform is rejected with a domain message") {
    rejected(
      "CREATE VIEW tr0 WITH (action=transform) AS SELECT key, count(*) AS n FROM s GROUP BY key",
      "stateless")
  }
}
