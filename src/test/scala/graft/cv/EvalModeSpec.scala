package graft.cv

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import graft.cv.CvPlanner.CvOptions
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** A small store's commits, reads, ticks and reaps run interpreted
  * (`spark.sql.codegen.factoryMode=NO_CODEGEN`, no whole-stage codegen);
  * a large store's run compiled. graft's own expressions (sketch states,
  * `date_round`, the finalizers) implement both `eval` and `doGenCode`, so
  * the two modes must produce the same rows from the same input: the
  * worker partials of one batch, and the finalized overlays of one set of
  * small-store state files.
  */
class EvalModeSpec extends AnyFunSuite with SharedSpark {

  /** A session over the same context that evaluates only interpreted, or
    * only through generated code (no silent interpreted fallback).
    */
  private def session(interpreted: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.adaptive.enabled", "false") // as on the engine's sessions
    if (interpreted) {
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    } else s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s
  }

  private def on(s: SparkSession, df: DataFrame): DataFrame =
    GraftBridge.ofRows(s, GraftBridge.analyzed(df))

  // rows in a canonical order, binary sketch states compared by content
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }).sortBy(_.toString)

  private def usesCodegen(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined

  private val now = Timestamp.valueOf("2024-06-01 00:01:00")

  private def batch(seed: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("item", LongType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    spark.createDataFrame(java.util.Arrays.asList((0 until 400).map { _ =>
      Row(rng.nextInt(300).toLong, rng.nextInt(5000).toLong, rng.nextInt(1000) / 7.0,
        new Timestamp(now.getTime - rng.nextInt(40000)))
    }: _*), schema)
  }

  test("worker partials and small-store overlays are equal interpreted and compiled") {
    val eng = new ContViewEngine(spark,
      java.nio.file.Files.createTempDirectory("graft_evalmode").toString)
    eng.createStream("em_s", StructType(Seq(StructField("user_id", LongType),
      StructField("item", LongType), StructField("value", DoubleType),
      StructField("ts", TimestampType))))
    val cvs = Seq(
      eng.createContView("em_users",
        "SELECT user_id, count(*) AS n, sum(value) AS sv, avg(value) AS av " +
          "FROM em_s GROUP BY user_id", emitChanges = false),
      eng.createContView("em_sketch",
        "SELECT user_id % 16 AS grp, count(DISTINCT item) AS nd, dist_agg(value) AS dv " +
          "FROM em_s GROUP BY user_id % 16", emitChanges = false),
      eng.createContView("em_sw",
        "SELECT user_id % 8 AS k, count(*) AS n, sum(value) AS sv FROM em_s GROUP BY user_id % 8",
        CvOptions(sw = Some("20 seconds"), swColumn = "ts")),
      eng.createContView("em_ttl",
        "SELECT date_round(ts, '1 second') AS t, count(*) AS n FROM em_s " +
          "GROUP BY date_round(ts, '1 second')",
        CvOptions(ttl = Some("30 seconds"), ttlColumn = Some("t")), emitChanges = false))
    val interp = session(interpreted = true)
    val compiled = session(interpreted = false)

    // worker side: the partial states of one batch (date_round step and
    // TTL buckets, HLL and t-digest states, sum/count/avg states)
    val stamped = batch(1).withColumn("arrival_timestamp", lit(now))
    // (a sketch-only aggregate is an ObjectHashAggregate, which has no
    // whole-stage form; CODEGEN_ONLY still compiles its projections)
    val workerStaged = cvs.map { h =>
      val i = h.plan.workerPartials(interp, stamped)
      val c = h.plan.workerPartials(compiled, stamped)
      assert(!usesCodegen(i))
      assert(rows(i) == rows(c), s"${h.plan.name}: worker partials differ")
      usesCodegen(c)
    }
    assert(workerStaged.count(identity) >= 3)

    (1 to 4).foreach(i => eng.insertInto("em_s", batch(i)))
    assert(eng.expireTtl("em_ttl", Some(now)).rewrittenBuckets > 0)
    val reads = Seq(
      eng.overlay("em_users"),
      eng.overlay("em_sketch")
        .selectExpr("grp", "nd", "dist_quantile(dv, 0.5) AS p50", "dist_quantile(dv, 0.9) AS p90"),
      eng.overlay("em_sw", Some(now)),
      eng.overlay("em_ttl"))
    // each session plans the scan of the state files itself
    spark.catalog.clearCache()
    val readStaged = reads.map { df =>
      val (i, c) = (on(interp, df), on(compiled, df))
      assert(!usesCodegen(i))
      val got = rows(i)
      assert(got.nonEmpty)
      assert(got == rows(c), s"overlay differs:\n${df.queryExecution.analyzed}")
      assert(rows(df) == got, "the engine's own overlay read differs")
      usesCodegen(c)
    }
    assert(readStaged.count(identity) >= 3)
  }
}
