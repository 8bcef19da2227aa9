package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.ops.{SimHash, TextOps}
import graft.SharedSpark

/** The SimHash gate's on-disk layout is a restart contract: a store holding
  * `seen_fps/fps_<batch>.parquet` files of exploded (bucket, id, fp[, ts])
  * rows under a `simhash_k<blocks>[_ttl]` geometry stamp — written here by
  * hand, the way every earlier gate build wrote it — must reopen under
  * [[SimHashNearDupGate.create]] and keep suppressing, on both the
  * resident tier and the disk path.
  */
class SimHashStoreLayoutSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def text(seed: Int): String =
    (0 until 40).map(j => s"s${seed}t$j").mkString(" ")

  private def fpOf(t: String): Long =
    Seq(t).toDF("body")
      .select(SimHash.simhash64(TextOps.tokens(col("body")))).head().getLong(0)

  // event time of an `hours` column: hours after 2024-01-01 00:00 UTC
  private def hoursTs =
    expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,hours)")

  /** Write (id, fp[, hours]) rows as one hand-built batch file plus the
    * stamps `create` checks; returns the engine store root. */
  private def writeStore(gate: String, ttl: Boolean,
      rows: Seq[(Long, Long, Int)]): String = {
    val storeRoot = java.nio.file.Files.createTempDirectory("graft_sh_layout").toString
    val root = GateStore.gateRoot(storeRoot, gate)
    val dir = GateStore.child(root, "seen_fps")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    GateStore.stampGeometry(root, "shards_1")
    GateStore.stampGeometry(dir, "simhash_k6" + (if (ttl) "_ttl" else ""))
    val base = rows.toDF("id", "fp", "hours")
    val exploded = base.select(
      Seq(explode(SimHash.blockKeys(col("fp"), 6, 3)).as("bucket"),
        col("id"), col("fp")) ++
        (if (ttl) Seq(hoursTs.as("ts")) else Nil): _*)
    GateStore.append(exploded, dir, "fps", 1L, sortCol = Some("bucket"))
    storeRoot
  }

  /** Reopen the store, feed `batch`, return the admitted ids — once with
    * the resident tier and once on the disk path. */
  private def reopenAndFeed(storeRoot: String, gate: String, ttl: Boolean,
      batch: DataFrame): Seq[Set[Long]] =
    Seq(None, Some(0L)).zipWithIndex.map { case (budget, k) =>
      // each pass reopens a copy: the first pass appends to its store
      val copy = java.nio.file.Files.createTempDirectory("graft_sh_copy").toString
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(storeRoot), new java.io.File(copy))
      ResidentIndex.budgetOverride = budget
      try {
        val eng = new ContViewEngine(spark, s"$copy/eng$k")
        eng.createStream("l_in", batch.schema)
        eng.createStream("l_out", org.apache.spark.sql.types.StructType(
          batch.schema.fields :+ org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.LongType)))
        eng.createContView("v_l", "SELECT id FROM l_out", emitChanges = false)
        val g = SimHashNearDupGate.create(eng, gate,
          s"SELECT ${batch.columns.mkString(", ")} FROM l_in",
          textSql = "body", orderCol = "id", sink = "l_out", storeRoot = copy,
          ttlMillis = if (ttl) 24L * 3600 * 1000 else 0L,
          ttlColumn = if (ttl) "ts" else "")
        assert(g.cores(0).residentStats._1 === budget.isEmpty)
        eng.insertInto("l_in", batch)
        eng.overlay("v_l").collect().map(_.getLong(0)).toSet
      } finally ResidentIndex.budgetOverride = None
    }

  test("a store in the (bucket, id, fp) layout reopens and keeps suppressing") {
    val (t1, t2) = (text(1), text(2))
    // stored: a fingerprint 3 bits from t1's (the new doc is its Hamming-3
    // variant), and t2's exact fingerprint
    val store = writeStore("lg", ttl = false,
      Seq((1L, fpOf(t1) ^ 0x7L, 0), (2L, fpOf(t2), 0)))
    val fresh = text(3)
    assert(java.lang.Long.bitCount(fpOf(fresh) ^ fpOf(t1)) > 3 &&
      java.lang.Long.bitCount(fpOf(fresh) ^ fpOf(t2)) > 3)
    val batch = Seq((10L, t1), (11L, t2), (12L, fresh)).toDF("id", "body")
    reopenAndFeed(store, "lg", ttl = false, batch).foreach { admitted =>
      assert(admitted === Set(12L),
        "Hamming-≤3 variants of stored docs are suppressed, a fresh doc admitted")
    }
  }

  test("a windowed store in the (bucket, id, fp, ts) layout reopens and keeps suppressing") {
    val (t1, t2) = (text(1), text(2))
    // stored at hour 0: t1's Hamming-3 variant and t2's exact fingerprint
    val store = writeStore("lw", ttl = true,
      Seq((1L, fpOf(t1) ^ 0x7L, 0), (2L, fpOf(t2), 0)))
    val batch = Seq((10L, t1, 10), (11L, t2, 30), (12L, text(3), 10))
      .toDF("id", "body", "hours").withColumn("ts", hoursTs).drop("hours")
    reopenAndFeed(store, "lw", ttl = true, batch).foreach { admitted =>
      // 10: in-window variant → suppressed; 11: copy 30 h after its stored
      // original (24 h window) → admitted; 12: fresh → admitted
      assert(admitted === Set(11L, 12L),
        "stored event times window the suppression; a fresh doc is admitted")
    }
  }
}
