package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.ops.{MinHashLsh, TextOps}
import graft.SharedSpark

/** Brute-force semantics of the streaming Jaccard gate: admitted(d) iff no
  * earlier doc (feed order) whose MinHash signature agrees with d's at ≥
  * threshold — including suppressed docs as suppressors ("seen"-closed
  * prefix), across any batch split of the same feed. The oracle row
  * (q_jaccard_stream) covers the engine + DDL path on the estimate-1.0
  * slice; this spec pins the full estimate-threshold behavior.
  */
class JaccardNearDupGateSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val vocab = Seq("spark", "query", "row", "data", "join", "filter",
    "scan", "merge", "sort", "key", "hash", "table", "stream", "batch",
    "group", "window", "order", "value", "fast", "slow")

  /** 60 base docs + a high-overlap variant (2 words swapped out of 40) of
    * every 3rd — overlapping shingle sets without being exact copies. */
  private def corpus: DataFrame = {
    val rng = new scala.util.Random(17)
    val base = (0 until 60).map { i =>
      (i.toLong, (0 until 40).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val dups = base.filter(_._1 % 3 == 0).map { case (id, t) =>
      val words = t.split(" ")
      words(5) = "zz"; words(30) = "yy"
      (id + 1000L, words.mkString(" "))
    }
    (base ++ dups).toDF("id", "body")
  }

  private val threshold = 0.55

  /** Feed-order brute force over the SAME signatures the gate computes. */
  private def expectedAdmitted: Set[Long] = {
    val sigs = corpus
      .select(col("id"),
        MinHashLsh.minhashSignature(TextOps.shingles(col("body"), 3), 64).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    def agree(a: Array[Long], b: Array[Long]): Double =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    sigs.filter { case (id, sig) =>
      !sigs.exists { case (id2, sig2) =>
        id2 < id && agree(sig, sig2) >= threshold
      }
    }.map(_._1).toSet
  }

  private def runGate(root: String, engSuffix: String,
      bounds: Seq[(Long, Long)]): (ContViewEngine, ShardedGate[JaccardNearDupGate]) = {
    val eng = new ContViewEngine(spark, root + "/eng" + engSuffix)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("j_in", schema)
    eng.createStream("j_out", schema)
    // undersized bloom: false positives must only cost store joins
    val g = JaccardNearDupGate.create(eng, "j_gate",
      "SELECT id, body FROM j_in", textSql = "body", orderCol = "id",
      sink = "j_out", storeRoot = root + "/gate",
      threshold = threshold, bloomP = 0.2, bloomN = 256)
    eng.createContView("v_j", "SELECT id FROM j_out", emitChanges = false)
    val c = corpus
    bounds.foreach { case (lo, hi) =>
      eng.insertInto("j_in", c.where(col("id") >= lo && col("id") < hi))
    }
    (eng, g)
  }

  private def admitted(eng: ContViewEngine): Set[Long] =
    eng.overlay("v_j").collect().map(_.getLong(0)).toSet

  test("admitted set equals feed-order brute force, across batch splits") {
    val expected = expectedAdmitted
    // sanity: the variants actually overlap enough to suppress at 0.55
    assert(expected.size < 80 && expected.size >= 60 - 5)
    val r1 = java.nio.file.Files.createTempDirectory("graft_jg1").toString
    assert(admitted(runGate(r1, "a", Seq((Long.MinValue, Long.MaxValue)))._1)
      === expected, "single-batch feed")
    val r2 = java.nio.file.Files.createTempDirectory("graft_jg2").toString
    assert(admitted(runGate(r2, "a",
      Seq((Long.MinValue, 30L), (30L, 1000L), (1000L, Long.MaxValue)))._1)
      === expected, "three-batch feed must admit the same set")
  }

  test("distributed fallback paths admit the identical set (forced via tiny bounds)") {
    val expected = expectedAdmitted
    val r = java.nio.file.Files.createTempDirectory("graft_jgf").toString
    GateStore.maxDriverVerifyBytesOverride = Some(0L)
    GateStore.maxPushdownKeysOverride = Some(0)
    ResidentIndex.budgetOverride = Some(0L) // force the disk paths
    try {
      assert(admitted(runGate(r, "a",
        Seq((Long.MinValue, 30L), (30L, 1000L), (1000L, Long.MaxValue)))._1)
        === expected, "fallback paths must match the driver paths exactly")
    } finally {
      GateStore.maxDriverVerifyBytesOverride = None
      GateStore.maxPushdownKeysOverride = None
      ResidentIndex.budgetOverride = None
    }
  }

  test("restart: re-created gate resumes from the signature store") {
    val root = java.nio.file.Files.createTempDirectory("graft_jg3").toString
    runGate(root, "1", Seq((Long.MinValue, 1000L))) // bases only, then "crash"
    val (eng2, g2) = runGate(root, "2", Seq((1000L, Long.MaxValue))) // variants
    val expectedPostRestart = expectedAdmitted.filter(_ >= 1000L)
    assert(admitted(eng2) === expectedPostRestart,
      "post-restart suppression must match the rebuilt store's brute force")
    assert(g2.stats._3 === (20 - expectedPostRestart.size).toLong)
  }

  test("banding recall estimate matches the LSH S-curve; loose configs warn") {
    assert(JaccardNearDupGate.recallEstimate(1.0, 1, 4) === 1.0)
    // defaults (16 bands x 4 rows) at the fixture thresholds
    assert(JaccardNearDupGate.recallEstimate(0.9, 16, 4) > 0.999)
    assert(JaccardNearDupGate.recallEstimate(0.7, 16, 4) > 0.95)
    // the warn boundary: 0.5 on the defaults decays hard
    assert(JaccardNearDupGate.recallEstimate(0.5, 16, 4) < 0.7)
    // and the knobs the warning names restore it
    assert(JaccardNearDupGate.recallEstimate(0.5, 64, 2) > 0.95)
  }

  test("an empty batch does not funnel the next burst through one task") {
    val root = java.nio.file.Files.createTempDirectory("graft_jg_burst").toString
    val eng = new ContViewEngine(spark, root)
    val schema = corpus.schema
    eng.createStream("e_in", schema)
    eng.createStream("e_out", schema)
    JaccardNearDupGate.create(eng, "e_gate", "SELECT id, body FROM e_in",
      textSql = "body", orderCol = "id", sink = "e_out", storeRoot = root,
      threshold = threshold)
    // (stage id, task count) of every batch-collect stage: exactly one per
    // batch here (resident tier, no store reads, no compaction)
    val collects = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (e.stageInfo.name.startsWith("collect at IndexedNearDupGate"))
          collects.add((e.stageInfo.stageId, e.stageInfo.numTasks))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      def rdf(rows: Seq[org.apache.spark.sql.Row], parts: Int) =
        spark.createDataFrame(sc.parallelize(rows, parts), schema)
      eng.insertInto("e_in", rdf(Nil, 1))
      eng.insertInto("e_in", rdf(corpus.collect().toSeq, 4))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (collects.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(collects.size === 2, s"one collect stage per batch, got $collects")
      val burstTasks = collects.toArray(Array.empty[(Int, Int)]).maxBy(_._1)._2
      assert(burstTasks > 1,
        "the burst after an empty batch must keep its 4 partitions, not coalesce(1)")
    } finally sc.removeSparkListener(listener)
  }
}
