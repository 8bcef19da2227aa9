package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.SharedSpark

/** Exact-gate spools written by the earlier exactly-once layout, reopened
  * by the current one. That layout spooled only the SURVIVORS (no
  * `__admitted` flag) under `<gate>/spool` — and, for a sharded gate, one
  * such spool per core under `<gate>/s<k>of<G>/spool`. An undelivered
  * epoch in the unsharded spool must still recover and deliver exactly
  * once; one in a per-core spool, which the single gate-level spool no
  * longer reads, must make the open fail loudly rather than be orphaned.
  */
class DedupSpoolLayoutSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val inSchema = Seq((0L, "x")).toDF("id", "body").schema
  private val outSchema = org.apache.spark.sql.types.StructType(
    inSchema.fields :+ org.apache.spark.sql.types.StructField("h",
      org.apache.spark.sql.types.StringType))

  /** Write `df` as the single parquet FILE `target` (the store and spool
    * layouts name flat files, not Spark output dirs). */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val stage = Files.createTempDirectory("graft_layout_stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.resolve("out").toString)
    val part = Files.list(stage.resolve("out")).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(target.getParent)
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Survivors of an earlier-layout epoch: the transform's columns plus
    * the key `h`, no admitted flag. */
  private def survivors(rows: (Long, String)*): DataFrame =
    rows.toDF("id", "body").withColumn("h", md5(col("body")))

  test("unsharded: a survivors-only spool with no marker delivers once and its keys suppress") {
    val root = Files.createTempDirectory("graft_dsl1")
    val gateDir = root.resolve("gate/l_gate")
    // store at batch 1 holds 'aa'; epoch 2 spooled 'bb' and 'cc' but
    // crashed before its store append and delivery
    writeFile(survivors((1L, "aa")).select("h"),
      gateDir.resolve("seen_keys/keys_00001.parquet"))
    writeFile(survivors((2L, "bb"), (3L, "cc")),
      gateDir.resolve("spool/fwd_00002.parquet"))
    val eng = new ContViewEngine(spark, root.resolve("eng").toString)
    eng.createStream("l_in", inSchema)
    eng.createStream("l_out", outSchema)
    eng.createContView("v_l", "SELECT id, count(*) AS c FROM l_out GROUP BY id",
      emitChanges = false)
    val g = StreamDedupGate.create(eng, "l_gate", "SELECT id, body FROM l_in",
      keySql = "md5(body)", orderCol = "id", sink = "l_out",
      storeRoot = root.resolve("gate").toString,
      delivery = StreamDedupGate.ExactlyOnce)
    g.recover()
    def counts = eng.overlay("v_l").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts === Map(2L -> 1L, 3L -> 1L),
      "the spooled survivors reach the sink exactly once")
    // the recovered epoch's keys are live, and so is the batch-1 store
    eng.insertInto("l_in",
      Seq((4L, "bb"), (5L, "cc"), (6L, "aa"), (7L, "dd")).toDF("id", "body"))
    assert(counts === Map(2L -> 1L, 3L -> 1L, 7L -> 1L),
      "a re-feed of the recovered keys is suppressed")
  }

  test("sharded: a per-core spool with an undelivered epoch is refused at open") {
    val root = Files.createTempDirectory("graft_dsl2")
    val spool = root.resolve("gate/p_gate/s0of2/spool")
    writeFile(survivors((1L, "aa")), spool.resolve("fwd_00001.parquet"))
    val eng = new ContViewEngine(spark, root.resolve("eng").toString)
    eng.createStream("p_in", inSchema)
    eng.createStream("p_out", outSchema)
    def open() = StreamDedupGate.create(eng, "p_gate",
      "SELECT id, body FROM p_in", keySql = "md5(body)", orderCol = "id",
      sink = "p_out", storeRoot = root.resolve("gate").toString, shards = 2,
      delivery = StreamDedupGate.ExactlyOnce)
    val e = intercept[IllegalStateException](open())
    assert(e.getMessage.contains(spool.toString),
      s"the refusal must name the orphaned spool directory: ${e.getMessage}")
    // once that epoch is marked delivered nothing is pending: the open
    // proceeds
    Files.createFile(spool.resolve("delivered_1"))
    assert(open().shardCount === 2)
  }
}
