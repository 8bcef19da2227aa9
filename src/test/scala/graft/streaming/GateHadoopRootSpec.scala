package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.SharedSpark

/** The GATE tier on a Hadoop-FileSystem root: every engine and gate store
  * here lives under a `file:`-SCHEME URI, so all gate store metadata —
  * batch appends (Spark-staged and parquet-mr driver-direct), range-
  * sharded compaction, geometry/owner stamps, the exactly-once spool's
  * commit/marker/quarantine protocol, and restart bootstrap — runs
  * through `graft.io.HadoopStoreFs` instead of java.nio, while Spark's
  * bulk parquet IO rides the same URI. This is the deploy shape of a
  * shared-storage dedup/decontamination pipeline (swap `file:` for
  * `hdfs:`/`s3a:`); a java.nio call surviving on a shared gate-store path
  * fails here with an unparseable-path error. Mirrors the CV tier's
  * HadoopRootSpec (round 16) and StreamDedupGateEoSpec's crash battery.
  */
class GateHadoopRootSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def uriRoot(tag: String): String =
    "file:" + java.nio.file.Files.createTempDirectory(s"graft_g$tag").toString

  private val schema = Seq((0L, "x")).toDF("id", "body").schema

  /** Engine + counting CV + exactly-once exact gate, everything on the
    * URI root (engine store AND gate store). */
  private def build(root: String,
      engSuffix: String): (ContViewEngine, ShardedGate[StreamDedupGate]) = {
    val eng = new ContViewEngine(spark, s"$root/eng$engSuffix")
    eng.createStream("g_in", schema)
    eng.createStream("g_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType)))
    eng.createContView("v_g", "SELECT id, count(*) AS c FROM g_out GROUP BY id",
      emitChanges = false)
    val g = StreamDedupGate.create(eng, "g_gate", "SELECT id, body FROM g_in",
      keySql = "md5(body)", orderCol = "id", sink = "g_out",
      storeRoot = s"$root/gate", delivery = StreamDedupGate.ExactlyOnce)
    (eng, g)
  }

  private def counts(eng: ContViewEngine): Map[Long, Long] =
    eng.overlay("v_g").collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def b(rows: (Long, String)*) = rows.toDF("id", "body")

  test("exactly-once clean run on the URI root: spool commit, store " +
      "append, marker all through Hadoop FS") {
    val root = uriRoot("eo0")
    val (eng, _) = build(root, "1")
    eng.insertInto("g_in", b((1L, "aa"), (2L, "bb"), (3L, "aa")))
    eng.insertInto("g_in", b((4L, "bb"), (5L, "cc")))
    assert(counts(eng) === Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
    // the store really lives on the URI root (not a CWD-relative 'file:'
    // directory — the pre-port failure mode this spec exists to pin)
    val fs = graft.io.StoreFs.forRoot(root)
    assert(fs.list(s"$root/gate/g_gate/seen_keys")
      .exists(_.endsWith(".parquet")), "seen-keys store under the URI root")
    assert(!new java.io.File("file:").exists,
      "no literal 'file:' directory scattered under CWD")
  }

  test("crash after spool-commit, before store append: restart recovery " +
      "on the URI root delivers once, re-fed batch adds nothing") {
    val root = uriRoot("eo1")
    val (eng1, g1) = build(root, "1")
    eng1.insertInto("g_in", b((1L, "aa")))
    g1.epochs.failAt = "after-spool"
    intercept[Exception] {
      eng1.insertInto("g_in", b((2L, "bb"), (3L, "aa"), (4L, "cc")))
    }
    // "crash": a fresh engine (fresh counting CV) replays from the URI
    // root; bootstrap rebuilds the keys from the spool, the batch head
    // delivers the interrupted epoch's survivors {2,4}, and the re-fed
    // rows add nothing (id 1's delivery lives in eng1's CV)
    val (eng2, _) = build(root, "2")
    eng2.insertInto("g_in", b((2L, "bb"), (3L, "aa"), (4L, "cc")))
    assert(counts(eng2) === Map(2L -> 1L, 4L -> 1L),
      "survivors delivered exactly once across the URI-root restart")
  }

  test("crash after store append, before delivery: bootstrap + batch-head " +
      "recovery finish the epoch exactly once") {
    val root = uriRoot("eo2")
    val (eng1, g1) = build(root, "1")
    eng1.insertInto("g_in", b((1L, "aa")))
    g1.epochs.failAt = "after-store"
    intercept[Exception] { eng1.insertInto("g_in", b((2L, "bb"))) }
    val (eng2, _) = build(root, "2")
    eng2.insertInto("g_in", b((3L, "cc")))
    assert(counts(eng2) === Map(2L -> 1L, 3L -> 1L),
      "interrupted epoch delivered once into the fresh CV, new batch once")
  }

  test("a torn spool on the URI root is quarantined through the Hadoop " +
      "byte-level frame check, not a permanent wedge") {
    val root = uriRoot("eoq")
    val (eng1, g1) = build(root, "1")
    eng1.insertInto("g_in", b((1L, "aa")))
    g1.epochs.failAt = "after-spool"
    intercept[Exception] { eng1.insertInto("g_in", b((2L, "bb"))) }
    val fs = graft.io.StoreFs.forRoot(root)
    val spool = s"$root/gate/g_gate/spool"
    val f = s"$spool/fwd_00002.parquet"
    assert(fs.exists(f))
    fs.writeString(f, "not parquet") // the torn write
    val (eng2, _) = build(root, "2")
    eng2.insertInto("g_in", b((3L, "cc")))
    assert(counts(eng2) === Map(3L -> 1L),
      "ingest continues past the quarantined epoch")
    assert(fs.exists(f + ".corrupt") && !fs.exists(f),
      "poison spool quarantined in place on the Hadoop FS")
    // the lost epoch falls to at-least-once: the re-feed is re-admitted
    eng2.insertInto("g_in", b((2L, "bb")))
    assert(counts(eng2) === Map(2L -> 1L, 3L -> 1L))
  }

  test("near-dup (simhash) gate on the URI root: suppression, driver-" +
      "direct appends, compaction fold, restart bootstrap") {
    val root = uriRoot("nd")
    def mk(suffix: String): (ContViewEngine, ShardedGate[SimHashNearDupGate]) = {
      val eng = new ContViewEngine(spark, s"$root/eng$suffix")
      eng.createStream("n_in", schema)
      eng.createStream("n_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.LongType)))
      eng.createContView("v_n", "SELECT id FROM n_out", emitChanges = false)
      val g = SimHashNearDupGate.create(eng, "n_gate",
        "SELECT id, body FROM n_in", textSql = "body", orderCol = "id",
        sink = "n_out", storeRoot = s"$root/gate", compactEvery = 2)
      (eng, g)
    }
    def doc(i: Long) = (i, (1 to 12).map(k => s"w${i * 37 + k}").mkString(" "))
    val (eng1, g1) = mk("1")
    eng1.insertInto("n_in", b(doc(1), doc(2)))
    eng1.insertInto("n_in", b(doc(1).copy(_1 = 11L), doc(3))) // copy of 1
    g1.drainCommits() // join the deferred append + compaction fold
    val admitted1 = eng1.overlay("v_n").collect().map(_.getLong(0)).toSet
    assert(admitted1 === Set(1L, 2L, 3L),
      s"exact copy suppressed cross-batch, got $admitted1")
    // compactEvery=2 → the fold ran: range-stamped shards on the URI root
    val fs = graft.io.StoreFs.forRoot(root)
    assert(fs.list(s"$root/gate/n_gate/seen_fps").exists(_.contains("_c")),
      "compaction shards present under the URI root")
    // restart: bootstrap rebuilds the bloom from the URI-root store; the
    // copy of doc 2 is still suppressed, a fresh doc admitted
    val (eng2, _) = mk("2")
    eng2.insertInto("n_in", b(doc(2).copy(_1 = 22L), doc(4)))
    val admitted2 = eng2.overlay("v_n").collect().map(_.getLong(0)).toSet
    assert(admitted2 === Set(4L),
      s"post-restart: old copy suppressed, fresh doc admitted, got $admitted2")
  }

  test("geometry stamp refusal works through the Hadoop FS (a reopened " +
      "store under different parameters fails loudly)") {
    val root = uriRoot("geo")
    GateStore.stampGeometry(s"$root", "shards_2")
    GateStore.stampGeometry(s"$root", "shards_2") // idempotent
    val e = intercept[IllegalArgumentException] {
      GateStore.stampGeometry(s"$root", "shards_4")
    }
    assert(e.getMessage.contains("key geometry"))
  }

  test("executor-backend gate on the URI root: shard rebuild reads the " +
      "shared store through the scheme, owner stamps ride StoreFs") {
    val root = uriRoot("xb")
    val eng = new ContViewEngine(spark, s"$root/eng")
    eng.createStream("x_in", schema)
    eng.createStream("x_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType)))
    eng.createContView("v_x", "SELECT id, count(*) AS c FROM x_out GROUP BY id",
      emitChanges = false)
    StreamDedupGate.create(eng, "x_gate", "SELECT id, body FROM x_in",
      keySql = "md5(body)", orderCol = "id", sink = "x_out",
      storeRoot = s"$root/gate", backend = StreamDedupGate.ExecutorBackend,
      stateParts = 2)
    eng.insertInto("x_in", b((1L, "aa"), (2L, "bb")))
    eng.insertInto("x_in", b((3L, "aa"), (4L, "cc"))) // cross-batch dup
    val got = eng.overlay("v_x").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 4L -> 1L),
      s"executor shards answer membership from the URI-root store, got $got")
    val fs = graft.io.StoreFs.forRoot(root)
    assert(fs.exists(s"$root/gate/x_gate/seen_keys/_owner_seen"),
      "owner stamp written through StoreFs on the URI root")
  }
}
