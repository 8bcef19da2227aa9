package graft.cv

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** CHECK constraints on materialization tables (reference
  * matrel_constraints.sql + .out): a combiner write whose merged row
  * violates a CHECK is SKIPPED, not an error — the group keeps its last
  * passing state; brand-new violating groups never materialize.
  */
class MatrelConstraintSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def newEngine(smallState: Boolean): ContViewEngine = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mc").toString
    new ContViewEngine(spark, dir,
      smallStateBytes = if (smallState) StateStore.DefaultSmallStateBytes else 0L)
  }

  private def run(eng: ContViewEngine): Unit = {
    eng.createStream("mc_s0", StructType(Seq(
      StructField("x", IntegerType), StructField("y", IntegerType))))
    eng.sql("""CREATE CONTINUOUS VIEW mc_v0 WITH (changes = false) AS
              |SELECT x, sum(y) AS s, count(*) AS c FROM mc_s0 GROUP BY x""".stripMargin)
    eng.sql("ALTER TABLE mc_v0_mrel ADD CONSTRAINT chk0 CHECK (x > 5)")
    eng.sql("ALTER TABLE mc_v0_mrel ADD CONSTRAINT chk1 CHECK (c < 3)")
    eng.sql("ALTER TABLE mc_v0_mrel ADD CONSTRAINT chk2 CHECK (s < 3)")
    def insert(): Unit =
      eng.insertInto("mc_s0", (1 to 10).map(x => (x, 1)).toDF("x", "y"))
    def state(): Seq[(Int, Long, Long)] =
      eng.sql("SELECT x, s, c FROM mc_v0 ORDER BY x").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    insert()
    // x <= 5 never materializes (key constraint filters at first write)
    assert(state() === (6 to 10).map(x => (x, 1L, 1L)))
    insert(); insert(); insert()
    // third and fourth increments violate c < 3 / s < 3: state freezes at 2
    // (matrel_constraints.out second SELECT)
    assert(state() === (6 to 10).map(x => (x, 2L, 2L)))
  }

  test("violating combiner writes are skipped, keeping last passing state (small-state path)") {
    run(newEngine(smallState = true))
  }

  test("same semantics through the bucket-pruned large-state path") {
    run(newEngine(smallState = false))
  }

  test("constraints survive restart via catalog replay") {
    val root = java.nio.file.Files.createTempDirectory("graft_mc_rt").toString
    val eng = new ContViewEngine(spark, root)
    eng.createStream("s", StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType))))
    eng.createContView("cv", "SELECT k, count(*) AS c FROM s GROUP BY k",
      emitChanges = false)
    eng.sql("ALTER TABLE cv_mrel ADD CONSTRAINT cap CHECK (c < 2)")
    eng.insertInto("s", Seq(("a", 1)).toDF("k", "v"))
    val eng2 = new ContViewEngine(spark, root)
    eng2.insertInto("s", Seq(("a", 1)).toDF("k", "v")) // c would become 2 → skipped
    eng2.insertInto("s", Seq(("b", 1)).toDF("k", "v"))
    val got = eng2.sql("SELECT k, c FROM cv ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("a", 1L), ("b", 1L)))
  }

  test("bad constraint column and append-only targets fail at creation") {
    val eng = newEngine(smallState = true)
    eng.createStream("s2", StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType))))
    eng.createContView("cv2", "SELECT k, count(*) AS c FROM s2 GROUP BY k",
      emitChanges = false)
    intercept[Exception](
      eng.sql("ALTER TABLE cv2_mrel ADD CONSTRAINT bad CHECK (nope > 1)"))
    eng.createContView("ap", "SELECT k, v FROM s2 WHERE v > 0", emitChanges = false)
    intercept[IllegalArgumentException](
      eng.sql("ALTER TABLE ap_mrel ADD CONSTRAINT nope CHECK (v > 1)"))
    // non-mrel targets are rejected like UPDATE/DELETE
    intercept[IllegalArgumentException](
      eng.sql("ALTER TABLE cv2 ADD CONSTRAINT c1 CHECK (c < 3)"))
  }
}
