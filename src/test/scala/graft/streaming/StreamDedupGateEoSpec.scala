package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.SharedSpark

/** The exactly-once delivery mode's crash battery: each batch is an epoch
  * committed by the atomic spool rename, and the failure matrix from
  * DESIGN_NOTES §1 is forced with failpoints — spool-ahead-of-store,
  * store-ahead-of-delivery, a double crash (recovery itself crashing), and
  * the pre-commit crash. The invariant throughout: every admitted row
  * reaches the sink EXACTLY once (the counting CV would show c=2 on a
  * duplicate forward and a missing row on loss), and a re-fed batch after
  * any crash adds nothing.
  */
class StreamDedupGateEoSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val schema = Seq((0L, "x")).toDF("id", "body").schema

  /** Engine + counting CV + exactly-once gate (API form so the test can
    * reach the failpoint hook). CV created BEFORE the gate so a recovery
    * delivery during bootstrap lands in it. */
  private def build(root: String, engSuffix: String): (ContViewEngine, ShardedGate[StreamDedupGate]) = {
    val eng = new ContViewEngine(spark, s"$root/eng$engSuffix")
    eng.createStream("e_in", schema)
    eng.createStream("e_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType)))
    eng.createContView("v_e", "SELECT id, count(*) AS c FROM e_out GROUP BY id",
      emitChanges = false)
    val g = StreamDedupGate.create(eng, "e_gate", "SELECT id, body FROM e_in",
      keySql = "md5(body)", orderCol = "id", sink = "e_out",
      storeRoot = s"$root/gate", delivery = StreamDedupGate.ExactlyOnce)
    (eng, g)
  }

  /** id -> delivery count from the counting CV. */
  private def counts(eng: ContViewEngine): Map[Long, Long] =
    eng.overlay("v_e").collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def b(rows: (Long, String)*) = rows.toDF("id", "body")

  test("clean run: exactly-once admits the same set as at-least-once, each row once") {
    val root = java.nio.file.Files.createTempDirectory("graft_eo0").toString
    val (eng, _) = build(root, "1")
    eng.insertInto("e_in", b((1L, "aa"), (2L, "bb"), (3L, "aa")))
    eng.insertInto("e_in", b((4L, "bb"), (5L, "cc")))
    assert(counts(eng) === Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
  }

  test("crash after spool-commit, before store append: one delivery, re-fed batch adds nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft_eo1").toString
    val (eng, g) = build(root, "1")
    eng.insertInto("e_in", b((1L, "aa")))
    g.epochs.failAt = "after-spool"
    intercept[Exception] {
      eng.insertInto("e_in", b((2L, "bb"), (3L, "aa"), (4L, "cc")))
    }
    // upstream retry re-feeds the SAME content: recovery finishes epoch 2
    // (store rebuilt from the spool, spool delivered, marker), then the
    // re-fed rows are fully suppressed by the recovered store
    eng.insertInto("e_in", b((2L, "bb"), (3L, "aa"), (4L, "cc")))
    assert(counts(eng) === Map(1L -> 1L, 2L -> 1L, 4L -> 1L),
      "survivors delivered exactly once; the re-fed batch forwarded nothing")
    val (_, adm, sup) = g.stats
    assert(adm == 3L && sup == 4L, s"stats admitted=$adm suppressed=$sup")
  }

  test("an unreadable spool file is quarantined, not a permanent wedge") {
    // a power loss can persist the spool RENAME but not its data (the
    // page cache died with the kernel): recovery must quarantine the
    // poison file and keep ingesting — before GateSpool.readSpool, every
    // subsequent batch head re-threw the corrupt-footer error forever
    val root = java.nio.file.Files.createTempDirectory("graft_eoq").toString
    val (eng1, g1) = build(root, "1")
    eng1.insertInto("e_in", b((1L, "aa")))
    g1.epochs.failAt = "after-spool"
    intercept[Exception] { eng1.insertInto("e_in", b((2L, "bb"))) }
    // simulate the torn write: truncate epoch 2's spool to garbage
    val spool = java.nio.file.Paths.get(s"$root/gate/e_gate/spool")
    val f = spool.resolve("fwd_00002.parquet")
    assert(java.nio.file.Files.exists(f))
    java.nio.file.Files.write(f, "not parquet".getBytes)
    // restart: bootstrap + the next batch must proceed, not wedge
    val (eng2, _) = build(root, "2")
    eng2.insertInto("e_in", b((3L, "cc")))
    assert(counts(eng2) === Map(3L -> 1L),
      "ingest must continue past the quarantined epoch")
    assert(java.nio.file.Files.exists(
      spool.resolve("fwd_00002.parquet.corrupt")),
      "the poison spool must be quarantined in place")
    assert(!java.nio.file.Files.exists(f))
    // the lost epoch falls to at-least-once: the upstream re-feed is
    // re-decided (its keys never reached the store) and admitted
    eng2.insertInto("e_in", b((2L, "bb")))
    assert(counts(eng2) === Map(2L -> 1L, 3L -> 1L))
  }

  test("a transient recovery failure rethrows — retryable, never quarantined") {
    // an fs hiccup / interrupted job during recovery must NOT destroy the
    // committed epoch: the error propagates, the spool survives, and the
    // next attempt delivers exactly once
    val root = java.nio.file.Files.createTempDirectory("graft_eot").toString
    val (eng, g) = build(root, "1")
    g.epochs.failAt = "after-spool"
    intercept[Exception] { eng.insertInto("e_in", b((1L, "aa"), (2L, "bb"))) }
    g.epochs.failAt = "recovery-after-store"
    g.epochs.failWith = new java.io.IOException("fs hiccup")
    intercept[Exception] {
      eng.insertInto("e_in", b((1L, "aa"), (2L, "bb")))
    }
    val spool = java.nio.file.Paths.get(s"$root/gate/e_gate/spool")
    assert(java.nio.file.Files.exists(spool.resolve("fwd_00001.parquet")),
      "the committed spool must survive a transient recovery failure")
    assert(!java.nio.file.Files.exists(
      spool.resolve("fwd_00001.parquet.corrupt")),
      "a transient error is not corruption evidence — no quarantine")
    eng.insertInto("e_in", b((1L, "aa"), (2L, "bb")))
    assert(counts(eng) === Map(1L -> 1L, 2L -> 1L),
      "the retried epoch delivers exactly once")
  }

  test("corruption reported only AFTER the spool validated in full " +
      "rethrows — quarantining then would be silent at-most-once loss") {
    // the recovery body validates every column of every spooled row
    // BEFORE the store append; a parquet-flavored error past that point
    // (store state possibly committed, file just proven readable) is
    // treated as transient: rethrow, keep the spool, deliver on retry.
    // Quarantining would strand the epoch's keys in the store while its
    // rows never reach the sink — the upstream re-feed then suppressed
    // as duplicates.
    val root = java.nio.file.Files.createTempDirectory("graft_eoc").toString
    val (eng, g) = build(root, "1")
    g.epochs.failAt = "after-spool"
    intercept[Exception] { eng.insertInto("e_in", b((1L, "aa"))) }
    g.epochs.failAt = "recovery-after-store"
    g.epochs.failWith =
      new org.apache.parquet.io.ParquetDecodingException("Can not read value")
    intercept[Exception] { eng.insertInto("e_in", b((1L, "aa"))) }
    val spool = java.nio.file.Paths.get(s"$root/gate/e_gate/spool")
    assert(java.nio.file.Files.exists(spool.resolve("fwd_00001.parquet")) &&
      !java.nio.file.Files.exists(spool.resolve("fwd_00001.parquet.corrupt")),
      "post-validation corruption must keep the spool, not quarantine it")
    // next batch head retries recovery cleanly: epoch 1 delivers exactly
    // once, then the fresh batch flows
    eng.insertInto("e_in", b((2L, "bb")))
    assert(counts(eng) === Map(1L -> 1L, 2L -> 1L),
      "the rethrown epoch must deliver on retry — nothing lost")
  }

  test("crash after store append, before delivery: restart recovery delivers exactly once") {
    val root = java.nio.file.Files.createTempDirectory("graft_eo2").toString
    val (eng1, g1) = build(root, "1")
    eng1.insertInto("e_in", b((1L, "aa")))
    g1.epochs.failAt = "after-store"
    intercept[Exception] {
      eng1.insertInto("e_in", b((2L, "bb"), (3L, "cc")))
    }
    // "crash": only the gate store + spool survive; the fresh engine's
    // bootstrap restores the STORE, and recover() (or the next batch)
    // delivers epoch 2's spool into the new CV
    val (eng2, g2) = build(root, "2")
    g2.recover()
    assert(counts(eng2) === Map(2L -> 1L, 3L -> 1L),
      "the interrupted epoch's survivors arrive exactly once at restart")
    // and the keys are live: repeats of the recovered content stay suppressed
    eng2.insertInto("e_in", b((4L, "bb"), (5L, "dd")))
    assert(counts(eng2) === Map(2L -> 1L, 3L -> 1L, 5L -> 1L))
  }

  test("double crash: recovery itself dies after the store append; third attempt delivers once") {
    val root = java.nio.file.Files.createTempDirectory("graft_eo3").toString
    val (eng, g) = build(root, "1")
    g.epochs.failAt = "after-spool"
    intercept[Exception] { eng.insertInto("e_in", b((1L, "aa"), (2L, "bb"))) }
    g.epochs.failAt = "recovery-after-store"
    intercept[Exception] { eng.insertInto("e_in", b((1L, "aa"), (2L, "bb"))) }
    eng.insertInto("e_in", b((1L, "aa"), (2L, "bb")))
    assert(counts(eng) === Map(1L -> 1L, 2L -> 1L),
      "two crashes, one delivery per admitted row")
  }

  test("recover() racing a batch between its spool and its delivery: each row once") {
    val root = java.nio.file.Files.createTempDirectory("graft_eo_race").toString
    val (eng, g) = build(root, "1")
    val parked = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    // park the batch after its store commit: spool written, no marker yet
    g.epochs.onPoint = p =>
      if (p == "after-store") { parked.countDown(); release.await() }
    @volatile var failure: Throwable = null
    def thread(f: => Unit): Thread = {
      val t = new Thread(() => try f catch { case e: Throwable => failure = e })
      t.start()
      t
    }
    val batch = thread(eng.insertInto("e_in", b((1L, "aa"), (2L, "bb"))))
    assert(parked.await(120, java.util.concurrent.TimeUnit.SECONDS))
    g.epochs.onPoint = null
    val rec = thread(g.recover())
    rec.join(3000) // an unserialized recover delivers the parked epoch here
    release.countDown()
    batch.join()
    rec.join()
    assert(failure === null)
    assert(counts(eng) === Map(1L -> 1L, 2L -> 1L),
      "the parked epoch is delivered by the batch alone")
  }

  test("crash before the spool commit: nothing lost, nothing duplicated") {
    val root = java.nio.file.Files.createTempDirectory("graft_eo4").toString
    val (eng, g) = build(root, "1")
    g.epochs.failAt = "before-spool"
    intercept[Exception] { eng.insertInto("e_in", b((1L, "aa"))) }
    eng.insertInto("e_in", b((1L, "aa")))
    assert(counts(eng) === Map(1L -> 1L))
  }

  test("DDL spelling: sharded + exactly_once compose (dedup_gate('k','id',2,'exactly_once'))") {
    val root = java.nio.file.Files.createTempDirectory("graft_eo6").toString
    val eng = new ContViewEngine(spark, s"$root/eng")
    eng.createStream("se_in", schema)
    eng.createStream("se_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType)))
    eng.createContView("v_se", "SELECT id, count(*) AS c FROM se_out GROUP BY id",
      emitChanges = false)
    eng.sql("""CREATE VIEW se_gate WITH (action = transform, sink = 'se_out',
              |  outputfunc = dedup_gate('md5(body)', 'id', 2, 'exactly_once')) AS
              |SELECT id, body FROM se_in""".stripMargin)
    assert(eng.gateOf("se_gate").exists(_.shardCount == 2))
    eng.insertInto("se_in", b((1L, "aa"), (2L, "bb"), (3L, "aa")))
    eng.insertInto("se_in", b((4L, "bb"), (5L, "cc")))
    assert(eng.overlay("v_se").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
      === Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
  }

  test("DDL spelling: dedup_gate(..., 'exactly_once') + catalog replay keep suppressing") {
    val root = java.nio.file.Files.createTempDirectory("graft_eo5").toString
    def setup(): ContViewEngine = {
      val eng = new ContViewEngine(spark, s"$root/eng")
      eng.createStream("d_in", schema)
      eng.createStream("d_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      eng.createContView("v_d", "SELECT id, count(*) AS c FROM d_out GROUP BY id",
        emitChanges = false)
      eng.sql("""CREATE VIEW d_gate WITH (action = transform, sink = 'd_out',
                |  outputfunc = dedup_gate('md5(body)', 'id', 1, 'exactly_once')) AS
                |SELECT id, body FROM d_in""".stripMargin)
      eng
    }
    val eng1 = setup()
    eng1.insertInto("d_in", b((1L, "aa"), (2L, "bb")))
    val eng2 = setup() // same engine root: the catalog replays the gate
    eng2.insertInto("d_in", b((3L, "aa"), (4L, "cc")))
    assert(eng2.overlay("v_d").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
      === Map(1L -> 1L, 2L -> 1L, 4L -> 1L))
  }
}
