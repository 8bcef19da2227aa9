package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.ops.{SimHash, TextOps}
import graft.SharedSpark

/** Brute-force semantics of the streaming near-dup gate: admitted(d) iff no
  * earlier doc (feed order) within Hamming distance maxDist — including
  * suppressed docs as suppressors ("seen"-closed prefix), across any batch
  * split of the same feed. The oracle row (q_neardup_stream) covers the
  * engine path end-to-end on the distance-0 slice; this spec pins the full
  * distance-≤3 behavior the oracle can't express.
  */
class SimHashNearDupGateSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val vocab = Seq("spark", "query", "row", "data", "join", "filter",
    "scan", "merge", "sort", "key", "hash", "table", "stream", "batch",
    "group", "window", "order", "value", "fast", "slow")

  /** 90 base docs + a near-dup (2 appended tokens) of every 3rd — the
    * OpsSpec corpus shape, which is known to contain natural near-pairs. */
  private def corpus: DataFrame = {
    val rng = new scala.util.Random(11)
    val base = (0 until 90).map { i =>
      (i.toLong, (0 until 40).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val dups = base.filter(_._1 % 3 == 0).map { case (id, t) => (id + 1000L, t + " zz yy") }
    (base ++ dups).toDF("id", "body")
  }

  /** Feed-order brute force: admitted iff no lower-id doc within maxDist. */
  private def expectedAdmitted(maxDist: Int): Set[Long] = {
    val fps = corpus
      .select(col("id"), SimHash.simhash64(TextOps.tokens(col("body"))).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    fps.filter { case (id, fp) =>
      !fps.exists { case (id2, fp2) =>
        id2 < id && java.lang.Long.bitCount(fp ^ fp2) <= maxDist
      }
    }.map(_._1).toSet
  }

  private def runGate(batchBounds: Seq[(Long, Long)]): Set[Long] = {
    val root = java.nio.file.Files.createTempDirectory("graft_ndgate").toString
    val eng = new ContViewEngine(spark, root)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("n_in", schema)
    eng.createStream("n_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    // deliberately undersized bloom: heavy false positives must only cost
    // extra store joins, never change the admitted set
    SimHashNearDupGate.create(eng, "n_gate", "SELECT id, body FROM n_in",
      textSql = "body", orderCol = "id", sink = "n_out", storeRoot = root,
      maxDist = 3, blocks = 6, bloomP = 0.2, bloomN = 128)
    eng.createContView("v_n", "SELECT id FROM n_out", emitChanges = false)
    val c = corpus
    batchBounds.foreach { case (lo, hi) =>
      eng.insertInto("n_in", c.where(col("id") >= lo && col("id") < hi))
    }
    eng.overlay("v_n").collect().map(_.getLong(0)).toSet
  }

  test("admitted set equals feed-order brute force, across batch splits") {
    val expected = expectedAdmitted(3)
    // sanity: the corpus actually exercises suppression (seeded + natural)
    assert(expected.size < 120)
    assert(runGate(Seq((Long.MinValue, Long.MaxValue))) === expected,
      "single-batch feed")
    assert(runGate(Seq((Long.MinValue, 45L), (45L, 1000L), (1000L, Long.MaxValue)))
      === expected, "three-batch feed must admit the same set")
  }

  test("disk path (resident tier off) admits the identical set") {
    val expected = expectedAdmitted(3)
    ResidentIndex.budgetOverride = Some(0L)
    try assert(
      runGate(Seq((Long.MinValue, 45L), (45L, 1000L), (1000L, Long.MaxValue)))
        === expected,
      "the store-join path must match the resident path exactly")
    finally ResidentIndex.budgetOverride = None
  }

  test("hot-bucket cap: flooded buckets stop pairing, clean recall survives") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndgate3").toString
    val eng = new ContViewEngine(spark, root)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("f_in", schema)
    eng.createStream("f_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    val gate = SimHashNearDupGate.create(eng, "f_gate",
      "SELECT id, body FROM f_in", textSql = "body", orderCol = "id",
      sink = "f_out", storeRoot = root, maxBucketSize = 100)
    eng.createContView("v_f", "SELECT id FROM f_out", emitChanges = false)
    val rng = new scala.util.Random(23)
    val real = (0 until 60).map { i =>
      (i.toLong, (0 until 40).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    // feed-order brute force over the real docs (the flood shares no
    // buckets with them: fp=0 vs ~32-bit-heavy real fingerprints)
    val realFps = real.toDF("id", "body")
      .select(col("id"), SimHash.simhash64(TextOps.tokens(col("body"))).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val realAdmitted = realFps.filter { case (id, fp) =>
      !realFps.exists { case (id2, fp2) =>
        id2 < id && java.lang.Long.bitCount(fp ^ fp2) <= 3
      }
    }.map(_._1).toSet
    // crawl pathology: hundreds of empty docs share fingerprint 0, blowing
    // every one of their buckets past the cap. The cap reads occupancy as
    // of batch START, so batch 1's flood still pairs within itself (and is
    // suppressed down to its first row); batch 2's flood arrives with the
    // buckets already over cap and passes through un-paired — the
    // documented recall trade for bounded join fan-out.
    eng.insertInto("f_in",
      (real ++ (0 until 200).map(i => (10000L + i, ""))).toDF("id", "body"))
    eng.insertInto("f_in",
      ((0 until 200).map(i => (10200L + i, "")) :+
        // an exact copy of real doc 5: its buckets are NOT flooded, so the
        // cap must not cost this suppression
        (20000L, real(5)._2)).toDF("id", "body"))
    val out = eng.overlay("v_f").collect().map(_.getLong(0)).toSet
    assert(!out.contains(20000L), "clean-bucket copy must still be suppressed")
    assert(out.contains(10000L), "first degenerate doc is admitted")
    assert((10001L until 10200L).forall(id => !out.contains(id)),
      "batch-1 flood pairs within its own batch (cap not yet tripped)")
    assert((10200L until 10400L).forall(out.contains),
      "batch-2 flood must pass through once the buckets are over cap")
    assert(out.filter(_ < 10000L) === realAdmitted,
      "real-doc suppression must be unaffected by the flood")
    val (batches, adm, _) = gate.stats
    assert(batches === 2L && adm === (realAdmitted.size + 1 + 200).toLong)
    eng.dropContView("v_f"); ()
  }

  test("restart: re-created gate resumes from the fingerprint store") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndgate_rs").toString
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    def build(i: Int): (ContViewEngine, ShardedGate[SimHashNearDupGate]) = {
      val eng = new ContViewEngine(spark, root + s"/eng$i")
      eng.createStream("rr_in", schema)
      eng.createStream("rr_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.LongType)))
      val g = SimHashNearDupGate.create(eng, "rr_gate",
        "SELECT id, body FROM rr_in", textSql = "body", orderCol = "id",
        sink = "rr_out", storeRoot = root + "/gate")
      eng.createContView("v_rr", "SELECT id FROM rr_out", emitChanges = false)
      (eng, g)
    }
    val t1 = (0 until 40).map(i => vocab(i % vocab.size)).mkString(" ")
    val t2 = (0 until 40).map(i => vocab((i * 3 + 5) % vocab.size)).mkString(" ")
    val (eng1, _) = build(1)
    eng1.insertInto("rr_in", Seq((1L, t1), (2L, t2)).toDF("id", "body"))
    val (eng2, g2) = build(2)
    // copies of pre-restart docs must be suppressed by the rebuilt state
    eng2.insertInto("rr_in", Seq((3L, t1), (4L, t2)).toDF("id", "body"))
    assert(eng2.overlay("v_rr").collect().isEmpty,
      "exact copies of pre-restart docs suppressed after restart")
    assert(g2.stats._3 === 2L)
  }

  test("suppressed docs still suppress later arrivals (seen-semantics)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndgate2").toString
    val eng = new ContViewEngine(spark, root)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("s_in", schema)
    eng.createStream("s_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    val gate = SimHashNearDupGate.create(eng, "s_gate",
      "SELECT id, body FROM s_in", textSql = "body", orderCol = "id",
      sink = "s_out", storeRoot = root)
    eng.createContView("v_s", "SELECT id FROM s_out", emitChanges = false)
    val t = (0 until 40).map(i => vocab(i % vocab.size)).mkString(" ")
    // 1 admitted; 2 (copy of 1) suppressed; 3 (copy of 2) must STILL be
    // suppressed — by 1 transitively and by the seen entry for 2
    eng.insertInto("s_in", Seq((1L, t)).toDF("id", "body"))
    eng.insertInto("s_in", Seq((2L, t)).toDF("id", "body"))
    eng.insertInto("s_in", Seq((3L, t)).toDF("id", "body"))
    assert(eng.overlay("v_s").collect().map(_.getLong(0)).toSet === Set(1L))
    assert(gate.stats === ((3L, 1L, 2L)))
  }
}
