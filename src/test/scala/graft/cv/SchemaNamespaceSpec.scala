package graft.cv

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Schema namespaces (reference cont_view_namespace.sql): CREATE/DROP/ALTER
  * SCHEMA, schema-qualified CVs/streams/transforms end-to-end through both
  * the Scala API and the SQL front door, and catalog-replay round trips.
  */
class SchemaNamespaceSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def newEngine(): ContViewEngine = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ns").toString
    new ContViewEngine(spark, dir)
  }

  private def batch(rows: (String, Long)*): DataFrame = rows.toDF("key", "x")

  private def counts(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("schema-qualified stream + CV end-to-end via the SQL front door") {
    val eng = newEngine()
    eng.sql("CREATE SCHEMA app")
    eng.sql("CREATE STREAM app.ev (key text, x bigint)")
    eng.sql("CREATE CONTINUOUS VIEW app.cnt AS SELECT key, count(*) AS n FROM app.ev GROUP BY key")
    eng.sql("INSERT INTO app.ev (key, x) VALUES ('a', 1), ('a', 2), ('b', 3)")
    assert(counts(eng.sql("SELECT key, n FROM app.cnt ORDER BY key")) ===
      Map("a" -> 2L, "b" -> 1L))
    // matrel spelling resolves through the same qualified rewrite
    val mrel = eng.sql("SELECT key, finalize(n) AS n FROM app.cnt_mrel ORDER BY key")
    assert(counts(mrel) === Map("a" -> 2L, "b" -> 1L))
    // public. prefix is the default schema: public.x ≡ x
    eng.sql("CREATE STREAM public.ev2 (key text, x bigint)")
    eng.insertInto("ev2", batch("z" -> 1L))
    // ad-hoc SELECT over a qualified stream is still rejected (stream wall)
    val e = intercept[IllegalArgumentException](eng.sql("SELECT * FROM app.ev"))
    assert(e.getMessage.contains("continuous"))
    // unknown schema is a creation-time error
    intercept[IllegalArgumentException](
      eng.sql("CREATE STREAM nope.s (k text)"))
  }

  test("output_of over a qualified CV chains and reads ad hoc") {
    val eng = newEngine()
    eng.createSchema("st")
    eng.createStream("st.ev", StructType(Seq(
      StructField("key", StringType), StructField("x", LongType))))
    eng.createContView("st.cnt", "SELECT key, count(*) AS n FROM st.ev GROUP BY key")
    // downstream CV over the qualified CV's output stream
    eng.createContView("st.roll",
      "SELECT count(*) AS changes FROM output_of('st.cnt')")
    eng.insertInto("st.ev", batch("a" -> 1L, "b" -> 2L))
    eng.insertInto("st.ev", batch("a" -> 3L))
    val ad = eng.sql("SELECT count(*) AS c FROM output_of('st.cnt')")
    assert(ad.collect().head.getLong(0) === 3L) // 2 inserts + 1 update
    assert(eng.sql("SELECT changes FROM st.roll").collect().head.getLong(0) === 3L)
  }

  test("renameStream re-points reading CVs; renameContTransform moves the chain") {
    val eng = newEngine()
    eng.createStream("src", StructType(Seq(
      StructField("key", StringType), StructField("x", LongType))))
    eng.sql("CREATE CONTINUOUS TRANSFORM t1 AS SELECT key, x * 2 AS x2 FROM src")
    eng.createContView("agg", "SELECT key, count(*) AS n FROM output_of('t1') GROUP BY key")
    eng.insertInto("src", batch("a" -> 1L))
    eng.sql("ALTER STREAM src RENAME TO src2")
    eng.insertInto("src2", batch("a" -> 2L))
    eng.sql("ALTER VIEW t1 RENAME TO t2")
    eng.insertInto("src2", batch("b" -> 3L))
    assert(counts(eng.sql("SELECT key, n FROM agg ORDER BY key")) ===
      Map("a" -> 2L, "b" -> 1L))
    // old names are gone
    intercept[Exception](eng.insertInto("src", batch("c" -> 1L)))
    assert(eng.transformNames.contains("t2") && !eng.transformNames.contains("t1"))
  }

  test("ALTER SCHEMA RENAME moves streams, CVs and state; survives restart") {
    val root = java.nio.file.Files.createTempDirectory("graft_ns_rn").toString
    val eng = new ContViewEngine(spark, root)
    eng.sql("CREATE SCHEMA a")
    eng.sql("CREATE STREAM a.ev (key text, x bigint)")
    eng.sql("CREATE CONTINUOUS VIEW a.cnt AS SELECT key, count(*) AS n FROM a.ev GROUP BY key")
    eng.insertInto("a.ev", batch("k" -> 1L, "k" -> 2L))
    eng.sql("ALTER SCHEMA a RENAME TO b")
    assert(eng.schemaNames === Seq("b", "public"))
    // accumulation continues under the new names
    eng.insertInto("b.ev", batch("k" -> 3L, "m" -> 4L))
    assert(counts(eng.sql("SELECT key, n FROM b.cnt ORDER BY key")) ===
      Map("k" -> 3L, "m" -> 1L))
    intercept[Exception](eng.sql("SELECT key, n FROM a.cnt"))
    // restart: schema_create + schema_rename replay reproduce the layout
    val eng2 = new ContViewEngine(spark, root)
    assert(eng2.schemaNames === Seq("b", "public"))
    eng2.insertInto("b.ev", batch("m" -> 5L))
    assert(counts(eng2.sql("SELECT key, n FROM b.cnt ORDER BY key")) ===
      Map("k" -> 3L, "m" -> 2L))
  }

  test("schema-qualified definitions replay on restart") {
    val root = java.nio.file.Files.createTempDirectory("graft_ns_rt").toString
    val eng = new ContViewEngine(spark, root)
    eng.createSchema("tel")
    eng.sql("CREATE STREAM tel.ev (key text, x bigint)")
    eng.sql("CREATE CONTINUOUS VIEW tel.sums AS SELECT key, sum(x) AS s FROM tel.ev GROUP BY key")
    eng.insertInto("tel.ev", batch("a" -> 10L, "b" -> 20L))
    val eng2 = new ContViewEngine(spark, root)
    assert(eng2.schemaNames.contains("tel"))
    eng2.insertInto("tel.ev", batch("a" -> 5L))
    val got = eng2.sql("SELECT key, s FROM tel.sums ORDER BY key").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 15L, "b" -> 20L))
  }

  test("DROP SCHEMA: empty-only without CASCADE; cascade drops members; external readers block") {
    val eng = newEngine()
    eng.sql("CREATE SCHEMA tmp")
    eng.sql("CREATE STREAM tmp.ev (key text, x bigint)")
    eng.sql("CREATE CONTINUOUS VIEW tmp.cnt AS SELECT key, count(*) AS n FROM tmp.ev GROUP BY key")
    intercept[IllegalArgumentException](eng.sql("DROP SCHEMA tmp"))
    // an external CQ reading a member's output blocks even CASCADE — and
    // fails BEFORE anything is dropped
    eng.createContView("outside", "SELECT count(*) AS c FROM output_of('tmp.cnt')")
    val e = intercept[IllegalArgumentException](eng.sql("DROP SCHEMA tmp CASCADE"))
    assert(e.getMessage.contains("outside"))
    assert(eng.viewNames.contains("tmp.cnt")) // nothing was half-dropped
    eng.dropContView("outside")
    eng.sql("DROP SCHEMA tmp CASCADE")
    assert(!eng.viewNames.exists(_.startsWith("tmp.")))
    assert(!eng.schemaNames.contains("tmp"))
    intercept[IllegalArgumentException](eng.sql("DROP SCHEMA tmp CASCADE"))
    intercept[IllegalArgumentException](eng.sql("DROP SCHEMA public"))
  }
}
