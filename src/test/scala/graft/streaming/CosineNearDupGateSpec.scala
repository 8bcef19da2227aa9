package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.functions.VectorExpressions
import graft.SharedSpark

/** Brute-force semantics of the streaming cosine gate: admitted(v) iff no
  * earlier vector (feed order) at cosine ≥ threshold, invariant across
  * batch splits, resumable from the persisted embedding store.
  */
class CosineNearDupGateSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val dim = 16

  /** 80 random unit-ish vectors + a perturbed copy (cos ≈ 0.999) of every
    * 4th — natural pairs sit near cos 0 at dim 16, far from 0.97. */
  private def corpus: DataFrame = {
    val rng = new scala.util.Random(31)
    val base = (0 until 80).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat))
    }
    val dups = base.filter(_._1 % 4 == 0).map { case (id, v) =>
      (id + 5000L, v.map(x => x * 1.001f + 1e-4f))
    }
    (base ++ dups).toDF("id", "embedding")
  }

  private def expectedAdmitted(threshold: Double): Set[Long] = {
    val vecs = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    vecs.filter { case (id, v) =>
      !vecs.exists { case (id2, v2) => id2 < id && cos(v, v2) >= threshold }
    }.map(_._1).toSet
  }

  private def runGate(root: String, engSuffix: String,
      bounds: Seq[(Long, Long)]): (ContViewEngine, ShardedGate[CosineNearDupGate]) = {
    val eng = new ContViewEngine(spark, root + "/eng" + engSuffix)
    val schema = corpus.schema
    eng.createStream("c_in", schema)
    eng.createStream("c_out", schema)
    val g = CosineNearDupGate.create(eng, "c_gate",
      "SELECT id, embedding FROM c_in", embSql = "embedding", orderCol = "id",
      sink = "c_out", storeRoot = root + "/gate",
      threshold = 0.97, dim = dim, numTables = 6, bitsPerTable = 8)
    eng.createContView("v_c", "SELECT id FROM c_out", emitChanges = false)
    val c = corpus
    bounds.foreach { case (lo, hi) =>
      eng.insertInto("c_in", c.where(col("id") >= lo && col("id") < hi))
    }
    (eng, g)
  }

  private def admitted(eng: ContViewEngine): Set[Long] =
    eng.overlay("v_c").collect().map(_.getLong(0)).toSet

  test("admitted set equals feed-order brute force, across batch splits") {
    val expected = expectedAdmitted(0.97)
    assert(expected.size === 80, "every perturbed copy suppressed, every base kept")
    val r1 = java.nio.file.Files.createTempDirectory("graft_cg1").toString
    assert(admitted(runGate(r1, "a", Seq((Long.MinValue, Long.MaxValue)))._1)
      === expected, "single batch")
    val r2 = java.nio.file.Files.createTempDirectory("graft_cg2").toString
    assert(admitted(runGate(r2, "a",
      Seq((Long.MinValue, 40L), (40L, 5000L), (5000L, Long.MaxValue)))._1)
      === expected, "three-batch feed must admit the same set")
  }

  test("distributed fallback paths admit the identical set (forced via tiny bounds)") {
    // shrink the driver-verify byte bound AND the pushdown key bound to 0:
    // phase 1 takes the broadcast index join, phase 2 the distributed
    // similarCol verify — the store is never collected to the driver, and
    // the admitted set must be bit-identical to the driver paths'
    val expected = expectedAdmitted(0.97)
    val r = java.nio.file.Files.createTempDirectory("graft_cgf").toString
    GateStore.maxDriverVerifyBytesOverride = Some(0L)
    GateStore.maxPushdownKeysOverride = Some(0)
    ResidentIndex.budgetOverride = Some(0L) // force the disk paths
    try {
      assert(admitted(runGate(r, "a",
        Seq((Long.MinValue, 40L), (40L, 5000L), (5000L, Long.MaxValue)))._1)
        === expected, "fallback paths must match the driver paths exactly")
    } finally {
      GateStore.maxDriverVerifyBytesOverride = None
      GateStore.maxPushdownKeysOverride = None
      ResidentIndex.budgetOverride = None
    }
  }

  test("restart: re-created gate resumes from the embedding store") {
    val root = java.nio.file.Files.createTempDirectory("graft_cg3").toString
    runGate(root, "1", Seq((Long.MinValue, 5000L))) // bases only, then "crash"
    val (eng2, g2) = runGate(root, "2", Seq((5000L, Long.MaxValue))) // copies
    assert(admitted(eng2) === Set.empty,
      "every post-restart copy suppressed by the rebuilt store")
    assert(g2.stats._3 === 20L)
  }

  test("hot-bucket cap: flooded buckets stop pairing, clean recall survives") {
    val root = java.nio.file.Files.createTempDirectory("graft_cg4").toString
    val eng = new ContViewEngine(spark, root)
    val schema = corpus.schema
    eng.createStream("fc_in", schema)
    eng.createStream("fc_out", schema)
    val gate = CosineNearDupGate.create(eng, "fc_gate",
      "SELECT id, embedding FROM fc_in", embSql = "embedding", orderCol = "id",
      sink = "fc_out", storeRoot = root, threshold = 0.97, dim = dim,
      numTables = 6, bitsPerTable = 8, maxBucketSize = 100)
    eng.createContView("v_fc", "SELECT id FROM fc_out", emitChanges = false)
    val rng = new scala.util.Random(7)
    val real = (0 until 40).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat))
    }
    // degenerate-crawl flood: 200 copies of ONE boilerplate embedding share
    // every SRP bucket. The cap reads occupancy as of batch START, so
    // batch 1's flood still pairs within itself (suppressed down to its
    // first row); batch 2's flood arrives with the buckets over cap and
    // passes through un-paired — the documented recall trade.
    val boiler = Array.fill(dim)(0.7f)
    eng.insertInto("fc_in",
      (real ++ (0 until 200).map(i => (10000L + i, boiler))).toDF("id", "embedding"))
    eng.insertInto("fc_in",
      ((0 until 200).map(i => (10200L + i, boiler)) :+
        // a near-copy of real vec 5: its buckets are NOT flooded, so the
        // cap must not cost this suppression
        (20000L, real(5)._2.map(x => x * 1.001f))).toDF("id", "embedding"))
    val out = eng.overlay("v_fc").collect().map(_.getLong(0)).toSet
    assert(!out.contains(20000L), "clean-bucket near-copy must still be suppressed")
    assert(out.contains(10000L), "first boilerplate doc is admitted")
    assert((10001L until 10200L).forall(id => !out.contains(id)),
      "batch-1 flood pairs within its own batch (cap not yet tripped)")
    assert((10200L until 10400L).forall(out.contains),
      "batch-2 flood must pass through once the buckets are over cap")
    assert(out.filter(_ < 10000L) === real.map(_._1).toSet,
      "real-vector admission must be unaffected by the flood")
    val (batches, adm, _) = gate.stats
    assert(batches === 2L && adm === (real.size + 1 + 200).toLong)
    eng.dropContView("v_fc"); ()
  }

  test("recall contract: estimate matches SRP collision math, loose configs warn") {
    // p_bit at cos=1 is 1 → recall exactly 1 regardless of geometry
    assert(CosineNearDupGate.recallEstimate(1.0, 1, 12) === 1.0)
    // defaults at the designed operating point are effectively structural
    assert(CosineNearDupGate.recallEstimate(0.99, 8, 12) > 0.995)
    assert(CosineNearDupGate.recallEstimate(0.97, 8, 12) > 0.95)
    // ... and 0.95 on the defaults sits just UNDER the warn line (~0.93):
    // the boundary the create() warning exists to surface
    val r95 = CosineNearDupGate.recallEstimate(0.95, 8, 12)
    assert(r95 > 0.9 && r95 < 0.95)
    // a loose threshold on the same geometry decays hard — this is the
    // configuration create() warns about
    assert(CosineNearDupGate.recallEstimate(0.80, 8, 12) < 0.5)
    // and the knobs the warning names actually restore recall
    assert(CosineNearDupGate.recallEstimate(0.80, 64, 6) > 0.95)
  }
}
