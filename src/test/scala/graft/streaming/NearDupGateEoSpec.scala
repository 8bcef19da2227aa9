package graft.streaming

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{StructField, StructType, LongType, StringType, ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.SharedSpark

/** Exactly-once delivery for the NEAR-DUP / contamination gate family
  * (GateEpochs — the full-batch spool protocol): the crash matrix forced
  * with failpoints at every protocol edge, per gate kind, plus the sharded
  * composition (one wrapper-level spool). Invariant: every admitted row
  * reaches the sink exactly once (the counting CV shows c=2 on a duplicate
  * forward, a missing id on loss), and a re-fed batch after any crash adds
  * nothing — the recovered store suppresses it in full, including rows the
  * crashed batch itself SUPPRESSED (seen-based stores record every
  * arrival, which is why the spool carries the whole flagged batch).
  */
class NearDupGateEoSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val textSchema = Seq((0L, "x")).toDF("id", "body").schema

  private def b(rows: (Long, String)*) = rows.toDF("id", "body")

  private def counts(eng: ContViewEngine, view: String): Map[Long, Long] =
    eng.overlay(view).collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  // ---- simhash (unsharded) ----------------------------------------------

  private def buildSimhash(root: String, n: String): (ContViewEngine, ShardedGate[SimHashNearDupGate]) = {
    val eng = new ContViewEngine(spark, s"$root/eng$n")
    eng.createStream("n_in", textSchema)
    eng.createStream("n_out", StructType(
      textSchema.fields :+ StructField("fp", LongType)))
    eng.createContView("v_n", "SELECT id, count(*) AS c FROM n_out GROUP BY id",
      emitChanges = false)
    val g = SimHashNearDupGate.create(eng, "n_gate",
      "SELECT id, body FROM n_in", textSql = "body", orderCol = "id",
      sink = "n_out", storeRoot = s"$root/gate",
      delivery = StreamDedupGate.ExactlyOnce)
    (eng, g)
  }

  test("simhash EO: crash after spool — one delivery, re-fed batch fully suppressed") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndeo1").toString
    val (eng, g) = buildSimhash(root, "1")
    eng.insertInto("n_in", b((1L, "alpha beta gamma delta")))
    g.epochs.failAt = "after-spool"
    intercept[Exception] {
      eng.insertInto("n_in",
        b((2L, "epsilon zeta eta theta"), (3L, "alpha beta gamma delta")))
    }
    // retry re-feeds the same content: recovery rebuilds the store from the
    // spool (BOTH rows — 3 was suppressed but still suppresses), delivers
    // epoch 2 once, and the re-fed rows all hit the recovered store
    eng.insertInto("n_in",
      b((2L, "epsilon zeta eta theta"), (3L, "alpha beta gamma delta")))
    assert(counts(eng, "v_n") === Map(1L -> 1L, 2L -> 1L))
  }

  test("simhash EO: crash after store, before delivery — restart delivers exactly once") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndeo2").toString
    val (eng1, g1) = buildSimhash(root, "1")
    eng1.insertInto("n_in", b((1L, "alpha beta gamma delta")))
    g1.epochs.failAt = "after-store"
    intercept[Exception] {
      eng1.insertInto("n_in", b((2L, "epsilon zeta eta theta")))
    }
    val (eng2, _) = buildSimhash(root, "2")
    // delivery completes at the next batch head; the new batch's dup of the
    // recovered content stays suppressed (store + resident tier rebuilt)
    eng2.insertInto("n_in", b((4L, "epsilon zeta eta theta"), (5L, "iota kappa lambda mu")))
    assert(counts(eng2, "v_n") === Map(2L -> 1L, 5L -> 1L))
  }

  test("simhash EO: crash before spool loses nothing, duplicates nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndeo3").toString
    val (eng, g) = buildSimhash(root, "1")
    g.epochs.failAt = "before-spool"
    intercept[Exception] { eng.insertInto("n_in", b((1L, "alpha beta gamma delta"))) }
    eng.insertInto("n_in", b((1L, "alpha beta gamma delta")))
    assert(counts(eng, "v_n") === Map(1L -> 1L))
  }

  // ---- jaccard (unsharded) ----------------------------------------------

  test("jaccard EO: crash after spool — suppressed rows still suppress after recovery") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndeo4").toString
    val eng = new ContViewEngine(spark, s"$root/eng")
    eng.createStream("j_in", textSchema)
    eng.createStream("j_out", textSchema)
    eng.createContView("v_j", "SELECT id, count(*) AS c FROM j_out GROUP BY id",
      emitChanges = false)
    val body = (0 until 30).map(i => s"tok$i").mkString(" ")
    val g = JaccardNearDupGate.create(eng, "j_gate",
      "SELECT id, body FROM j_in", textSql = "body", orderCol = "id",
      sink = "j_out", storeRoot = s"$root/gate", threshold = 0.8,
      delivery = StreamDedupGate.ExactlyOnce)
    g.epochs.failAt = "after-spool"
    intercept[Exception] {
      eng.insertInto("j_in", b((1L, body), (2L, body + " zz")))
    }
    eng.insertInto("j_in", b((1L, body), (2L, body + " zz"), (3L, body + " yy")))
    assert(counts(eng, "v_j") === Map(1L -> 1L),
      "epoch 1 delivered once; the re-fed rows and the fresh near-dup all suppressed")
  }

  // ---- cosine (SHARDED: wrapper-level spool) ----------------------------

  test("cosine EO sharded: wrapper spool commits the jointly-decided batch once") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndeo5").toString
    val embSchema = StructType(Seq(StructField("id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    def vec(seed: Long): Seq[Double] =
      (0 until 8).map(k => math.sin(seed * 31.0 + k)).map(x => x)
    def eb(rows: (Long, Long)*) =
      spark.createDataFrame(
        rows.map { case (id, s) => org.apache.spark.sql.Row(id, vec(s)) }.asJava,
        embSchema)
    val eng = new ContViewEngine(spark, s"$root/eng")
    eng.createStream("c_in", embSchema)
    eng.createStream("c_out", embSchema)
    eng.createContView("v_c", "SELECT id, count(*) AS c FROM c_out GROUP BY id",
      emitChanges = false)
    val g = CosineNearDupGate.create(eng, "c_gate",
      "SELECT id, embedding FROM c_in", embSql = "embedding", orderCol = "id",
      sink = "c_out", storeRoot = s"$root/gate", threshold = 0.999, dim = 8,
      shards = 2, delivery = StreamDedupGate.ExactlyOnce)
    eng.insertInto("c_in", eb((1L, 7L)))
    g.epochs.failAt = "after-spool"
    intercept[Exception] { eng.insertInto("c_in", eb((2L, 9L), (3L, 7L))) }
    // retry: recovery replays BOTH cores' index slices + the shared
    // payload store from the one wrapper spool, delivers epoch 2 once
    eng.insertInto("c_in", eb((2L, 9L), (3L, 7L), (4L, 9L)))
    assert(counts(eng, "v_c") === Map(1L -> 1L, 2L -> 1L))
  }

  // ---- contamination (delivery-only recovery) ---------------------------

  test("contamination EO: order-independent decisions still need the spool to dedup delivery") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndeo6").toString
    val eng = new ContViewEngine(spark, s"$root/eng")
    eng.createStream("t_in", textSchema)
    eng.createStream("t_out", textSchema)
    eng.createContView("v_t", "SELECT id, count(*) AS c FROM t_out GROUP BY id",
      emitChanges = false)
    Seq("benchmark question one two three").toDF("text")
      .createOrReplaceTempView("eo_ref")
    val g = ContaminationGate.create(eng, "t_gate",
      "SELECT id, body FROM t_in", textSql = "body", orderCol = "id",
      sink = "t_out", storeRoot = s"$root/gate",
      reference = spark.sql("SELECT text FROM eo_ref"),
      delivery = StreamDedupGate.ExactlyOnce)
    g.epochs.failAt = "after-spool"
    intercept[Exception] {
      eng.insertInto("t_in",
        b((1L, "clean document body here"), (2L, "benchmark question one two three copied")))
    }
    // a naive retry would re-forward row 1 (decisions are stateless) — the
    // pending epoch's marker is what suppresses the duplicate delivery
    eng.insertInto("t_in",
      b((1L, "clean document body here"), (2L, "benchmark question one two three copied")))
    assert(counts(eng, "v_t") === Map(1L -> 1L),
      "admitted row delivered once despite the re-fed batch; contaminated row never")
  }

  test("contamination EO sharded: retry window suppresses the re-fed epoch") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndeo7").toString
    val eng = new ContViewEngine(spark, s"$root/eng")
    eng.createStream("s_in", textSchema)
    eng.createStream("s_out", textSchema)
    eng.createContView("v_s", "SELECT id, count(*) AS c FROM s_out GROUP BY id",
      emitChanges = false)
    Seq("benchmark question one two three").toDF("text")
      .createOrReplaceTempView("eo_ref2")
    val g = ContaminationGate.create(eng, "s_gate",
      "SELECT id, body FROM s_in", textSql = "body", orderCol = "id",
      sink = "s_out", storeRoot = s"$root/gate",
      reference = spark.sql("SELECT text FROM eo_ref2"), shards = 2,
      delivery = StreamDedupGate.ExactlyOnce)
    // pre-spool crash first: the window must NOT remember a batch that
    // never reached its commit point — the retry is legitimate, not a dup
    g.epochs.failAt = "before-spool"
    intercept[Exception] {
      eng.insertInto("s_in", b((1L, "clean document body here")))
    }
    eng.insertInto("s_in", b((1L, "clean document body here")))
    assert(counts(eng, "v_s") === Map(1L -> 1L), "pre-spool crash retry admits")
    // post-spool crash: recovery delivers the pending epoch once, and the
    // upstream's at-least-once re-feed of the SAME rows must not be
    // re-admitted by the stateless decision — the retry-dedup window (on
    // core 0, wrapper-wide row identity) suppresses it
    g.epochs.failAt = "after-spool"
    intercept[Exception] {
      eng.insertInto("s_in", b((2L, "another clean document entirely"),
        (3L, "benchmark question one two three copied")))
    }
    eng.insertInto("s_in", b((2L, "another clean document entirely"),
      (3L, "benchmark question one two three copied")))
    assert(counts(eng, "v_s") === Map(1L -> 1L, 2L -> 1L),
      "epoch delivered once; re-fed clean row not duplicated; contaminated row never")
  }

  test("contamination EO sharded: window survives an engine restart via the spool") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndeo8").toString
    def build(n: String): ContViewEngine = {
      val eng = new ContViewEngine(spark, s"$root/eng$n")
      eng.createStream("r_in", textSchema)
      eng.createStream("r_out", textSchema)
      eng.createContView("v_r", "SELECT id, count(*) AS c FROM r_out GROUP BY id",
        emitChanges = false)
      eng
    }
    Seq("benchmark question one two three").toDF("text")
      .createOrReplaceTempView("eo_ref3")
    val eng1 = build("1")
    val g1 = ContaminationGate.create(eng1, "r_gate",
      "SELECT id, body FROM r_in", textSql = "body", orderCol = "id",
      sink = "r_out", storeRoot = s"$root/gate",
      reference = spark.sql("SELECT text FROM eo_ref3"), shards = 2,
      delivery = StreamDedupGate.ExactlyOnce)
    g1.epochs.failAt = "after-spool"
    intercept[Exception] {
      eng1.insertInto("r_in", b((1L, "clean document body here")))
    }
    // full restart: the new wrapper recovers the pending spool at
    // construction (re-remembering its ids into the window) and delivers
    // it at the next batch head; the re-fed row is then window-suppressed
    val eng2 = build("2")
    ContaminationGate.create(eng2, "r_gate",
      "SELECT id, body FROM r_in", textSql = "body", orderCol = "id",
      sink = "r_out", storeRoot = s"$root/gate",
      reference = spark.sql("SELECT text FROM eo_ref3").where(lit(false)),
      shards = 2, delivery = StreamDedupGate.ExactlyOnce)
    eng2.insertInto("r_in", b((1L, "clean document body here"),
      (4L, "fresh unrelated words entirely")))
    assert(counts(eng2, "v_r") === Map(1L -> 1L, 4L -> 1L))
  }

  private implicit class SeqRowOps[T](s: Seq[T]) {
    def asJava: java.util.List[T] = {
      val l = new java.util.ArrayList[T](s.size)
      s.foreach(l.add)
      l
    }
  }
}
