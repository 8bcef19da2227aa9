package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.ops.{SimHash, TextOps}
import graft.SharedSpark

/** Windowed (TTL) mode of the NEAR-DUP gates + the `ttl × exactly_once`
  * combination on the exact gate (both r10-verdict items): suppression
  * only by a similar arrival whose event time lies inside the trailing
  * window, every arrival refreshing its own suppressor window, compaction
  * reaping the stores (and the resident tier) down to the window, and the
  * full-batch spool protocol carrying the ts column through crash
  * recovery.
  */
class NearDupGateTtlSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  // (id, body, ts): per-doc-unique token sets (no accidental near-pairs)
  // with EVENT-TIME-MONOTONE arrival order (ts nondecreasing in id — the
  // regime the fold-time reaper is exact under; out-of-order events fall
  // under the documented watermark caveat and are not what this battery
  // pins). Re-crawl schedule per every-other base doc: an in-window copy
  // (+10h → suppressed), an aged-out copy (+36h → admitted), and a copy
  // inside the PREVIOUS copy's refreshed window (+50h → suppressed).
  private def corpus: DataFrame = {
    def body(i: Long) = (0 until 30).map(j => s"d${i}w$j").mkString(" ")
    val base = (0L until 10L).map(i => (i, body(i), i))
    val a = Seq(0L, 4L, 8L).map(i => (1000L + i, body(i), i + 10L))
    val b = (0L until 10L by 2).map(i => (2000L + i, body(i), i + 36L))
    val c = (0L until 10L by 2).map(i => (3000L + i, body(i), i + 50L))
    (base ++ a ++ b ++ c)
      .toDF("id", "body", "hours")
      .withColumn("ts", expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,hours)"))
      .drop("hours")
  }

  /** Feed-order brute force at Hamming distance ≤ maxDist with a trailing
    * window: admitted iff no lower-id doc within distance whose ts >
    * this.ts − window. */
  private def expectedAdmitted(maxDist: Int, windowMicros: Long): Set[Long] = {
    val rows = corpus
      .select(col("id"), SimHash.simhash64(TextOps.tokens(col("body"))).as("fp"),
        unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    rows.filter { case (id, fp, us) =>
      !rows.exists { case (id2, fp2, us2) =>
        id2 < id && java.lang.Long.bitCount(fp ^ fp2) <= maxDist &&
          us2 > us - windowMicros
      }
    }.map(_._1).toSet
  }

  private def runSimhashTtl(root: String, batchBounds: Seq[(Long, Long)],
      compactAfter: Boolean = false): (ContViewEngine, ShardedGate[SimHashNearDupGate]) = {
    val eng = new ContViewEngine(spark, s"$root/eng${batchBounds.head._1}")
    val schema = corpus.schema
    eng.createStream("w_in", schema)
    eng.createStream("w_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    eng.createContView("v_w", "SELECT id FROM w_out", emitChanges = false)
    val g = SimHashNearDupGate.create(eng, "w_gate",
      "SELECT id, body, ts FROM w_in", textSql = "body", orderCol = "id",
      sink = "w_out", storeRoot = root, maxDist = 3,
      ttlMillis = 24L * 3600 * 1000, ttlColumn = "ts")
    val c = corpus
    batchBounds.foreach { case (lo, hi) =>
      eng.insertInto("w_in", c.where(col("id") >= lo && col("id") < hi))
      if (compactAfter) g.compact()
    }
    (eng, g)
  }

  private def admitted(eng: ContViewEngine): Set[Long] =
    eng.overlay("v_w").collect().map(_.getLong(0)).toSet

  test("simhash windowed: admitted set equals windowed brute force, across batch splits") {
    val expected = expectedAdmitted(3, 24L * 3600 * 1000000L)
    // the schedule exercises all three window cases exactly
    assert(expected ===
      (0L until 10L).toSet ++ (0L until 10L by 2).map(2000L + _).toSet)
    val r1 = java.nio.file.Files.createTempDirectory("graft_wt1").toString
    assert(admitted(runSimhashTtl(r1, Seq((Long.MinValue, Long.MaxValue)))._1)
      === expected, "single batch")
    val r2 = java.nio.file.Files.createTempDirectory("graft_wt2").toString
    assert(admitted(runSimhashTtl(r2,
      Seq((Long.MinValue, 5L), (5L, 2000L), (2000L, Long.MaxValue)))._1)
      === expected, "three-batch feed must admit the same set")
  }

  test("simhash windowed: compaction reap keeps the admitted set AND bounds the store") {
    val expected = expectedAdmitted(3, 24L * 3600 * 1000000L)
    val root = java.nio.file.Files.createTempDirectory("graft_wt3").toString
    // compact after every batch: fold-time reaping must never change the
    // outcome (the watermark caveat only bites events arriving > ttl late,
    // which the id-ordered ts schedule here avoids by construction)
    val (eng, g) = runSimhashTtl(root,
      Seq((Long.MinValue, 1000L), (1000L, 2000L), (2000L, 3000L),
        (3000L, Long.MaxValue)),
      compactAfter = true)
    assert(admitted(eng) === expected)
    val (_, adm, sup) = g.stats
    assert(adm.toInt === expected.size && adm + sup === corpus.count())
  }

  test("simhash windowed: restart restores the window watermark and the resident ts") {
    val expected = expectedAdmitted(3, 24L * 3600 * 1000000L)
    val root = java.nio.file.Files.createTempDirectory("graft_wt4").toString
    runSimhashTtl(root, Seq((Long.MinValue, 2000L)))
    // fresh engine on the same store: bootstrap restores maxSeenTs + the
    // resident tier's per-entry ts — the later re-crawls must still window
    val (eng2, _) = runSimhashTtl(root, Seq((2000L, Long.MaxValue)))
    val post = expected.filter(_ >= 2000L)
    assert(admitted(eng2) === post)
  }

  test("jaccard windowed: re-crawl admitted after the window, suppressed inside it") {
    val root = java.nio.file.Files.createTempDirectory("graft_wt5").toString
    val eng = new ContViewEngine(spark, s"$root/eng")
    val body = (0 until 30).map(i => s"tok$i").mkString(" ")
    val rows = Seq(
      (1L, body, "2024-01-01 00:00:00"),
      (2L, body + " zz", "2024-01-01 06:00:00"),  // inside 24h of doc 1 → suppressed
      (3L, body + " yy", "2024-01-03 00:00:00"),  // all seen-times aged out → admitted
      (4L, body + " xx", "2024-01-03 12:00:00")   // inside 24h of doc 3 → suppressed
    ).toDF("id", "body", "tss")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    eng.createStream("jw_in", rows.schema)
    eng.createStream("jw_out", rows.schema)
    eng.createContView("v_jw", "SELECT id FROM jw_out", emitChanges = false)
    JaccardNearDupGate.create(eng, "jw_gate",
      "SELECT id, body, ts FROM jw_in", textSql = "body", orderCol = "id",
      sink = "jw_out", storeRoot = root, threshold = 0.8,
      ttlMillis = 24L * 3600 * 1000, ttlColumn = "ts")
    eng.insertInto("jw_in", rows.where(col("id") <= 2))
    eng.insertInto("jw_in", rows.where(col("id") > 2))
    assert(eng.overlay("v_jw").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("cosine windowed: re-crawl window on the embedding gate, across restart + compaction") {
    // the cosine gate shares IndexedNearDupGate's windowed plumbing with
    // jaccard but adds the payload POOL ts handling — pin it end-to-end:
    // same three-case schedule (in-window suppressed, aged-out admitted,
    // refreshed-window suppressed), with an engine restart mid-feed and a
    // reaping compaction after every batch
    val root = java.nio.file.Files.createTempDirectory("graft_wt7").toString
    def vec(seed: Long): Seq[Double] = {
      val r = new scala.util.Random(seed)
      val raw = Seq.fill(16)(r.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    // two distinct base embeddings (orthogonal with overwhelming odds);
    // copies reuse the base vector exactly (cos = 1 ≥ any threshold)
    val rows = Seq(
      (1L, vec(1), "2024-01-01 00:00:00"),
      (2L, vec(2), "2024-01-01 01:00:00"),
      (1001L, vec(1), "2024-01-01 06:00:00"), // in-window copy → suppressed
      (2001L, vec(1), "2024-01-03 00:00:00"), // aged out → admitted
      (3001L, vec(1), "2024-01-03 12:00:00"), // inside 2001's window → suppressed
      (2002L, vec(2), "2024-01-04 00:00:00")  // aged out → admitted
    ).toDF("id", "embedding", "tss")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def build(n: String): (ContViewEngine, ShardedGate[CosineNearDupGate]) = {
      val eng = new ContViewEngine(spark, s"$root/eng$n")
      eng.createStream("cw_in", rows.schema)
      eng.createStream("cw_out", rows.schema)
      eng.createContView("v_cw", "SELECT id FROM cw_out", emitChanges = false)
      val g = CosineNearDupGate.create(eng, "cw_gate",
        "SELECT id, embedding, ts FROM cw_in", embSql = "embedding",
        orderCol = "id", sink = "cw_out", storeRoot = s"$root/gate",
        threshold = 0.95, dim = 16,
        ttlMillis = 24L * 3600 * 1000, ttlColumn = "ts")
      (eng, g)
    }
    val (eng1, g1) = build("1")
    eng1.insertInto("cw_in", rows.where(col("id") <= 1001L))
    assert(eng1.overlay("v_cw").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L), "bases admitted, in-window copy suppressed")
    g1.compact() // fold-time reap must not change later outcomes
    val (eng2, _) = build("2") // restart on the same gate store:
    // watermark + pool ts restored (each engine's CV is its own root, so
    // eng2's overlay shows only its own deliveries)
    eng2.insertInto("cw_in", rows.where(col("id") === 2001L || col("id") === 3001L))
    eng2.insertInto("cw_in", rows.where(col("id") === 2002L))
    assert(eng2.overlay("v_cw").collect().map(_.getLong(0)).toSet
      === Set(2001L, 2002L),
      "aged-out re-crawls admitted; refreshed-window copy suppressed")
  }

  test("windowed gates: resident budget shrinks with the window (no dead-slot decay)") {
    // Regression for the monotonic-budget bug: TTL reaps used to drop
    // index ENTRIES but never the gate-owned ord pools or their byte
    // accounting, so a long-running windowed gate deactivated its hot tier
    // on dead slots alone. The fixture streams far more content than the
    // budget holds, all of it aging out batch-over-batch — the tier must
    // stay active (live window ≪ budget) and the pools must track the
    // window, not the stream's lifetime.
    val root = java.nio.file.Files.createTempDirectory("graft_wt8").toString
    ResidentIndex.budgetOverride = Some(192L << 10)
    try {
      def docBody(b: Int, i: Int) =
        (0 until 30).map(j => s"b${b}d${i}w$j").mkString(" ")
      def batchDf(b: Int, n: Int): DataFrame =
        (0 until n).map(i => (b * 1000L + i, docBody(b, i), b * 2L))
          .toDF("id", "body", "hours")
          .withColumn("ts",
            expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,hours)"))
          .drop("hours")

      // ---- simhash (ts pool via ResidentIndex.retainRemap) --------------
      val engS = new ContViewEngine(spark, s"$root/engS")
      val schema = batchDf(0, 1).schema
      engS.createStream("w8_in", schema)
      engS.createStream("w8_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.LongType)))
      engS.createContView("v_w8", "SELECT id FROM w8_out", emitChanges = false)
      val gs = SimHashNearDupGate.create(engS, "w8_gate",
        "SELECT id, body, ts FROM w8_in", textSql = "body", orderCol = "id",
        sink = "w8_out", storeRoot = s"$root/gateS", maxDist = 3,
        ttlMillis = 3600L * 1000, ttlColumn = "ts")
      var slotsPerBatch = 0
      (0 until 12).foreach { b =>
        engS.insertInto("w8_in", batchDf(b, 40))
        gs.compact()
        val (active, _, _, slots, _) = gs.cores(0).residentStats
        if (b == 0) slotsPerBatch = slots
        assert(active, s"simhash tier deactivated at batch $b on dead slots")
      }
      val (_, _, bytesS, slotsS, _) = gs.cores(0).residentStats
      // pre-fix the ts pool accreted one dead slot per stored row forever
      // (12 batches' worth here); post-fix it tracks the live window
      assert(slotsPerBatch > 0 && slotsS <= 2 * slotsPerBatch,
        s"ts pool must track the window (slots=$slotsS, per-batch=$slotsPerBatch)")
      assert(bytesS <= (64L << 10), s"budget accounting must shrink (bytes=$bytesS)")

      // ---- jaccard (id + payload pools via IndexedNearDupGate) ----------
      val engJ = new ContViewEngine(spark, s"$root/engJ")
      engJ.createStream("w9_in", schema)
      engJ.createStream("w9_out", schema)
      engJ.createContView("v_w9", "SELECT id FROM w9_out", emitChanges = false)
      val gj = JaccardNearDupGate.create(engJ, "w9_gate",
        "SELECT id, body, ts FROM w9_in", textSql = "body", orderCol = "id",
        sink = "w9_out", storeRoot = s"$root/gateJ", threshold = 0.8,
        ttlMillis = 3600L * 1000, ttlColumn = "ts")
      var jSlotsPerBatch = 0
      (0 until 12).foreach { b =>
        engJ.insertInto("w9_in", batchDf(b, 40))
        gj.compact()
        val (active, _, _, slots, poolActive) = gj.cores(0).residentStats
        if (b == 0) jSlotsPerBatch = slots
        assert(active && poolActive,
          s"jaccard tier/pool deactivated at batch $b on dead slots")
      }
      val (_, _, bytesJ, slotsJ, _) = gj.cores(0).residentStats
      assert(slotsJ <= 2 * jSlotsPerBatch,
        s"id pool must track the window (slots=$slotsJ, per-batch=$jSlotsPerBatch)")
      assert(bytesJ <= (64L << 10), s"budget accounting must shrink (bytes=$bytesJ)")
    } finally ResidentIndex.budgetOverride = None
  }

  test("exact gate ttl x exactly_once: windowed admission with crash recovery") {
    val root = java.nio.file.Files.createTempDirectory("graft_wt6").toString
    def build(n: String): (ContViewEngine, ShardedGate[StreamDedupGate]) = {
      val eng = new ContViewEngine(spark, s"$root/eng$n")
      val schema = Seq((0L, "u", "2024-01-01 00:00:00")).toDF("id", "k", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss").schema
      eng.createStream("te_in", schema)
      eng.createStream("te_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      eng.createContView("v_te", "SELECT id, count(*) AS c FROM te_out GROUP BY id",
        emitChanges = false)
      val g = StreamDedupGate.create(eng, "te_gate",
        "SELECT id, k, ts FROM te_in", keySql = "k", orderCol = "id",
        sink = "te_out", storeRoot = s"$root/gate",
        delivery = StreamDedupGate.ExactlyOnce,
        ttlMillis = 24L * 3600 * 1000, ttlColumn = "ts")
      (eng, g)
    }
    def rows(v: (Long, String, String)*): DataFrame =
      v.toDF("id", "k", "tss").withColumn("ts", col("tss").cast("timestamp"))
        .drop("tss")
    val (eng, g) = build("1")
    eng.insertInto("te_in", rows((1L, "u", "2024-01-01 00:00:00")))
    g.epochs.failAt = "after-spool"
    intercept[Exception] {
      eng.insertInto("te_in", rows(
        (2L, "u", "2024-01-01 06:00:00"),  // inside window of id 1 → suppressed
        (3L, "u", "2024-01-03 00:00:00"),  // id 1 aged out, id 2 REFRESHED? 2024-01-01 06:00 + 24h < 2024-01-03 → admitted
        (4L, "v", "2024-01-03 00:00:00")))
    }
    // retry re-feeds the same content: recovery rebuilds the (h, max ts)
    // rows from the spool and delivers epoch 2 once; every re-fed row then
    // sits inside the recovered window
    eng.insertInto("te_in", rows(
      (2L, "u", "2024-01-01 06:00:00"),
      (3L, "u", "2024-01-03 00:00:00"),
      (4L, "v", "2024-01-03 00:00:00")))
    val counts = eng.overlay("v_te").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts === Map(1L -> 1L, 3L -> 1L, 4L -> 1L),
      "windowed admission exactly once; re-fed batch adds nothing")
    // restart on the same store: the watermark and the windowed keys live
    val (eng2, g2) = build("2")
    g2.recover()
    eng2.insertInto("te_in", rows(
      (5L, "u", "2024-01-03 06:00:00"),  // inside id 3's window → suppressed
      (6L, "w", "2024-01-03 06:00:00")))
    assert(eng2.overlay("v_te").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      === Map(6L -> 1L))
  }
}
