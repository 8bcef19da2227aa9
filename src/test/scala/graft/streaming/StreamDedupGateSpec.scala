package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.SharedSpark

/** Unit semantics of the streaming exact-dedup gate on a hand-built feed —
  * the oracle row (q_dedup_stream) proves end-to-end equality; this spec
  * pins the pieces: first-wins within a batch, permanent suppression across
  * batches, bloom-gate transparency (false positives never drop rows), and
  * the append-only seen-key store layout.
  */
class StreamDedupGateSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def fixture() = {
    val root = java.nio.file.Files.createTempDirectory("graft_gate").toString
    val eng = new ContViewEngine(spark, root)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("g_in", schema)
    eng.createStream("g_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType)))
    // a tiny bloom (n=64) at corpus 100+ keys forces a high false-positive
    // rate, exercising the store-join path on nearly every batch — results
    // must be identical to a right-sized filter
    val gate = StreamDedupGate.create(eng, "g_gate",
      "SELECT id, body FROM g_in",
      keySql = "md5(body)", orderCol = "id", sink = "g_out",
      storeRoot = root, bloomP = 0.2, bloomN = 64)
    eng.createContView("v_out", "SELECT id, h FROM g_out", emitChanges = false)
    (eng, gate, root)
  }

  private def admitted(eng: ContViewEngine): Set[Long] =
    eng.overlay("v_out").select("id").collect().map(_.getLong(0)).toSet

  test("restart on the SAME engine root: re-run of the setup script rebinds the gate") {
    // the catalog replays the gate's transform BARE (callbacks can't
    // persist); the user's re-run of Gate.create then hits the idempotent
    // no-op — without the rebind the gate would sit silently dead,
    // forwarding nothing
    val root = java.nio.file.Files.createTempDirectory("graft_gate_sr").toString
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    def setup(): ContViewEngine = {
      val eng = new ContViewEngine(spark, s"$root/eng")
      eng.createStream("s_in", schema)
      eng.createStream("s_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      StreamDedupGate.create(eng, "s_gate", "SELECT id, body FROM s_in",
        keySql = "md5(body)", orderCol = "id", sink = "s_out",
        storeRoot = s"$root/gate")
      eng.createContView("v_s2", "SELECT id FROM s_out", emitChanges = false)
      eng
    }
    val eng1 = setup()
    eng1.insertInto("s_in", Seq((1L, "aa"), (2L, "bb")).toDF("id", "body"))
    val eng2 = setup() // identical script on the replayed engine
    eng2.insertInto("s_in", Seq((3L, "aa"), (4L, "cc")).toDF("id", "body"))
    assert(eng2.overlay("v_s2").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L),
      "post-restart batch must be gated (forwarded AND deduplicated)")
  }

  test("null keys pass through unconditionally and are never stored") {
    val (eng, gate, _) = fixture()
    eng.insertInto("g_in",
      Seq((1L, "aa"), (2L, null.asInstanceOf[String])).toDF("id", "body"))
    eng.insertInto("g_in",
      Seq((3L, null.asInstanceOf[String]), (4L, "aa")).toDF("id", "body"))
    // both null-body rows admitted (batch 1 AND batch 2 — the store path
    // must not swallow them), the duplicate 'aa' suppressed
    assert(admitted(eng) === Set(1L, 2L, 3L))
    assert(gate.stats === ((2L, 3L, 1L)))
  }

  test("auto-compaction keeps the store file count bounded") {
    val root = java.nio.file.Files.createTempDirectory("graft_gate_ac").toString
    val eng = new ContViewEngine(spark, root)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("a_in", schema)
    eng.createStream("a_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType)))
    val g = StreamDedupGate.create(eng, "a_gate", "SELECT id, body FROM a_in",
      keySql = "md5(body)", orderCol = "id", sink = "a_out",
      storeRoot = root, compactEvery = 2)
    eng.createContView("v_a", "SELECT id FROM a_out", emitChanges = false)
    (0 until 6).foreach { b =>
      eng.insertInto("a_in",
        (0 until 10).map(i => ((b * 10 + i).toLong, s"d-$b-$i")).toDF("id", "body"))
    }
    g.drainCommits() // raw store reads need the deferred-append barrier
    val store = new java.io.File(s"$root/a_gate/seen_keys")
    // every 2nd batch MINOR-folds the new appends into a fresh generation
    // of at most `shards` range files (old generations are not rewritten —
    // tiered compaction keeps the cycle O(new data)); a major fold
    // collapses everything once generations exceed MajorCompactGenerations,
    // so the file count is bounded regardless of how many batches ran
    assert(store.listFiles().count(_.getName.endsWith(".parquet")) <=
      GateStore.MajorCompactGenerations * 8 + 9)
    assert(spark.read.parquet(store.getAbsolutePath).count() === 60L)
    // and a repeat of early content is still suppressed through the
    // compacted store
    eng.insertInto("a_in", Seq((999L, "d-0-0")).toDF("id", "body"))
    assert(!eng.overlay("v_a").collect().map(_.getLong(0)).contains(999L))
  }

  test("off-contract duplicate null order ids: stats.admitted matches rows actually forwarded") {
    val (eng, gate, _) = fixture()
    eng.insertInto("g_in", Seq((1L, "aa")).toDF("id", "body"))
    // two null-order-id rows sharing a STORE-PRESENT key: the key-based
    // survivor filter drops both, and admitted must say so (the old
    // arithmetic counted the second null-id row as admitted while the
    // filter removed it — silently inconsistent stats)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("body",
        org.apache.spark.sql.types.StringType)))
    eng.insertInto("g_in", spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(null, "aa"), org.apache.spark.sql.Row(null, "aa")),
      schema))
    assert(admitted(eng) === Set(1L))
    assert(gate.stats === ((2L, 1L, 2L)),
      "admitted must equal the rows the survivor filter actually forwarded")
  }

  test("off-contract duplicate null order ids, exactly-once: the spool forwards what at-least-once would") {
    val root = java.nio.file.Files.createTempDirectory("graft_gate_neo").toString
    val eng = new ContViewEngine(spark, root)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("body",
        org.apache.spark.sql.types.StringType)))
    eng.createStream("n_in", schema)
    eng.createStream("n_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType)))
    val gate = StreamDedupGate.create(eng, "n_gate", "SELECT id, body FROM n_in",
      keySql = "md5(body)", orderCol = "id", sink = "n_out",
      storeRoot = root, delivery = StreamDedupGate.ExactlyOnce)
    eng.createContView("v_n", "SELECT body FROM n_out", emitChanges = false)
    eng.insertInto("n_in", spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1L, "aa")), schema))
    // two null-order-id rows whose key is already stored: the key-based
    // survivor predicate drops both, in the spool's admitted flag too
    eng.insertInto("n_in", spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(null, "aa"), org.apache.spark.sql.Row(null, "aa")),
      schema))
    assert(eng.overlay("v_n").collect().map(_.getString(0)).toSeq === Seq("aa"),
      "neither null-id row is delivered")
    assert(gate.stats === ((2L, 1L, 2L)))
  }

  test("within-batch repeats: lowest order-column row wins its key") {
    val (eng, gate, _) = fixture()
    eng.insertInto("g_in",
      Seq((3L, "aa"), (1L, "aa"), (2L, "bb"), (9L, "aa")).toDF("id", "body"))
    assert(admitted(eng) === Set(1L, 2L))
    assert(gate.stats === ((1L, 2L, 2L)))
  }

  test("cross-batch repeats: a key admitted once is suppressed forever") {
    val (eng, gate, _) = fixture()
    eng.insertInto("g_in", Seq((1L, "aa"), (2L, "bb")).toDF("id", "body"))
    eng.insertInto("g_in", Seq((3L, "aa"), (4L, "cc")).toDF("id", "body"))
    eng.insertInto("g_in", Seq((5L, "bb"), (6L, "cc"), (7L, "aa")).toDF("id", "body"))
    assert(admitted(eng) === Set(1L, 2L, 4L))
    val (batches, adm, sup) = gate.stats
    assert(batches === 3L && adm === 3L && sup === 4L)
  }

  test("restart: a re-created gate on the same store keeps suppressing; compact preserves it") {
    val root = java.nio.file.Files.createTempDirectory("graft_gate_rs").toString
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    // fresh engine root per incarnation: the ENGINE's own replay is covered
    // by q_cv_restart; what must survive here is only the gate's store dir
    def build(i: Int): (ContViewEngine, ShardedGate[StreamDedupGate]) = {
      val eng = new ContViewEngine(spark, root + s"/eng$i")
      eng.createStream("r_in", schema)
      eng.createStream("r_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      val g = StreamDedupGate.create(eng, "r_gate", "SELECT id, body FROM r_in",
        keySql = "md5(body)", orderCol = "id", sink = "r_out",
        storeRoot = root + "/gate")
      eng.createContView("v_r", "SELECT id FROM r_out", emitChanges = false)
      (eng, g)
    }
    val (eng1, _) = build(1)
    eng1.insertInto("r_in", Seq((1L, "aa"), (2L, "bb")).toDF("id", "body"))
    eng1.insertInto("r_in", Seq((3L, "cc")).toDF("id", "body"))
    // "crash": the engine object is abandoned; only the store dir survives
    val (eng2, g2) = build(2)
    eng2.insertInto("r_in",
      Seq((4L, "aa"), (5L, "cc"), (6L, "dd")).toDF("id", "body"))
    assert(eng2.overlay("v_r").collect().map(_.getLong(0)).toSet === Set(6L),
      "keys admitted before the restart must stay suppressed after it")
    // compaction folds the 3 per-batch key files into range shards (every
    // remaining file is compaction output) without changing the key set
    g2.compact()
    val store = new java.io.File(s"$root/gate/r_gate/seen_keys")
    val compacted = store.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(compacted.nonEmpty && compacted.length <= 8)
    assert(compacted.forall(_.getName.contains("_c")),
      "only compacted shards remain after compact()")
    eng2.insertInto("r_in", Seq((7L, "bb"), (8L, "ee")).toDF("id", "body"))
    assert(eng2.overlay("v_r").collect().map(_.getLong(0)).toSet === Set(6L, 8L),
      "post-compaction suppression must be unchanged")
  }

  test("timestamp-typed keys keep suppressing across a restart (driver/executor hash agreement)") {
    // the restart bootstrap rebuilds the bloom DISTRIBUTED (bloom_agg over
    // Catalyst-internal micros) while the per-batch probe hashes the
    // external java.sql.Timestamp a collect() returns — if the two
    // encodings disagree, every stored key probes as a false NEGATIVE and
    // duplicates are silently admitted post-restart
    val root = java.nio.file.Files.createTempDirectory("graft_gate_ts").toString
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val schema = Seq((0L, ts("2026-01-01 00:00:00"))).toDF("id", "ts").schema
    def build(i: Int): (ContViewEngine, ShardedGate[StreamDedupGate]) = {
      val eng = new ContViewEngine(spark, root + s"/eng$i")
      eng.createStream("t_in", schema)
      eng.createStream("t_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.TimestampType)))
      val g = StreamDedupGate.create(eng, "t_gate", "SELECT id, ts FROM t_in",
        keySql = "ts", orderCol = "id", sink = "t_out",
        storeRoot = root + "/gate")
      eng.createContView("v_t", "SELECT id FROM t_out", emitChanges = false)
      (eng, g)
    }
    val (eng1, _) = build(1)
    eng1.insertInto("t_in", Seq(
      (1L, ts("2026-01-01 00:00:00")), (2L, ts("2026-01-02 12:30:45"))).toDF("id", "ts"))
    // "crash": only the gate store dir survives; bootstrap rebuilds the bloom
    val (eng2, _) = build(2)
    eng2.insertInto("t_in", Seq(
      (3L, ts("2026-01-01 00:00:00")), (4L, ts("2026-03-03 03:03:03"))).toDF("id", "ts"))
    assert(eng2.overlay("v_t").collect().map(_.getLong(0)).toSet === Set(4L),
      "a timestamp key admitted before the restart must stay suppressed after it")
  }

  test("windowed (ttl) gate: re-admission after the window, seen-refresh, reaping, restart") {
    val root = java.nio.file.Files.createTempDirectory("graft_gate_ttl").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val schema = Seq((0L, "x", t0)).toDF("id", "k", "ts").schema
    def build(i: Int): (ContViewEngine, ShardedGate[StreamDedupGate]) = {
      val eng = new ContViewEngine(spark, root + s"/eng$i")
      eng.createStream("w_in", schema)
      eng.createStream("w_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      val g = StreamDedupGate.create(eng, "w_gate", "SELECT id, k, ts FROM w_in",
        keySql = "k", orderCol = "id", sink = "w_out",
        storeRoot = root + "/gate",
        ttlMillis = 3600L * 1000, ttlColumn = "ts") // 1-hour window
      eng.createContView("v_w", "SELECT id FROM w_out", emitChanges = false)
      (eng, g)
    }
    val (eng1, g1) = build(1)
    def admittedW(eng: ContViewEngine): Set[Long] =
      eng.overlay("v_w").collect().map(_.getLong(0)).toSet
    // within-batch window: 2 sits 30 min after 1 → suppressed
    eng1.insertInto("w_in", Seq((1L, "a", at(0)), (2L, "a", at(30))).toDF("id", "k", "ts"))
    // a SUPPRESSED sighting still refreshes: 3 is 80 min after the first
    // sighting but only 50 after the suppressed one → still suppressed
    eng1.insertInto("w_in", Seq((3L, "a", at(80))).toDF("id", "k", "ts"))
    // 70 min after the last sighting → the key re-admits
    eng1.insertInto("w_in", Seq((4L, "a", at(150))).toDF("id", "k", "ts"))
    eng1.insertInto("w_in", Seq((5L, "b", at(0)), (6L, "a", at(160))).toDF("id", "k", "ts"))
    assert(admittedW(eng1) === Set(1L, 4L, 5L))
    // reaping: the fold drops seen-times older than (max seen − ttl) —
    // only a@150, a@160 survive the 100-minute cutoff
    g1.compact()
    assert(spark.read.parquet(s"$root/gate/w_gate/seen_keys").count() === 2L)
    // restart: bootstrap restores the bloom AND the reaper watermark
    val (eng2, _) = build(2)
    eng2.insertInto("w_in",
      Seq((7L, "a", at(200)), (8L, "a", at(210)), (9L, "b", at(170))).toDF("id", "k", "ts"))
    // a: 200−160=40 ≤ 60 → suppressed; its sighting refreshes → 8 suppressed;
    // b: last seen at 0, 170 min ago → re-admitted. (The fresh engine's CV
    // accumulates post-restart batches only, so the view shows just 9.)
    assert(admittedW(eng2) === Set(9L))
  }

  test("windowed gate DDL: ttl/ttl_column WITH options, replayed from the catalog") {
    val root = java.nio.file.Files.createTempDirectory("graft_gate_ttld").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val schema = Seq((0L, "x", t0)).toDF("id", "k", "ts").schema
    def setup(): ContViewEngine = {
      val eng = new ContViewEngine(spark, s"$root/eng")
      eng.createStream("wd_in", schema)
      eng.createStream("wd_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      eng.sql("""CREATE VIEW wd_gate WITH (action = transform, sink = 'wd_out',
                |  ttl = '1 hour', ttl_column = ts,
                |  outputfunc = dedup_gate('k', 'id')) AS
                |SELECT id, k, ts FROM wd_in""".stripMargin)
      eng.createContView("v_wd", "SELECT id FROM wd_out", emitChanges = false)
      eng
    }
    val eng1 = setup()
    eng1.insertInto("wd_in", Seq((1L, "a", at(0)), (2L, "a", at(30))).toDF("id", "k", "ts"))
    val eng2 = setup() // catalog replays the windowed gate
    eng2.insertInto("wd_in", Seq((3L, "a", at(50)), (4L, "a", at(120))).toDF("id", "k", "ts"))
    assert(eng2.overlay("v_wd").collect().map(_.getLong(0)).toSet === Set(1L, 4L),
      "the replayed gate must keep the window semantics (3 within, 4 beyond)")
  }

  test("over the pushdown-bytes bound: broadcast-join fallbacks match the InSet paths") {
    // candidate sets / suppressed-id sets past GateStore.MaxPushdownBytes
    // must switch from task-closure InSet filters to broadcast joins with
    // IDENTICAL admitted sets — forced here by shrinking the bound to 1
    // byte so EVERY set takes the join path (plain + windowed mode)
    def feedBoth(): (Set[Long], Set[Long]) = {
      val (eng, _, _) = fixture()
      def b(rows: (Long, String)*) = rows.toDF("id", "body")
      eng.insertInto("g_in", b((1L, "a"), (2L, "b"), (3L, "a")))
      eng.insertInto("g_in", b((4L, "b"), (5L, "c"), (6L, "c"), (7L, "a")))
      val plain = admitted(eng)
      // windowed EXACTLY-ONCE sibling on the same bound: covers the ttl
      // decision read, the ttl survivors, AND the epoch spool's
      // __admitted flag (GateStore.withAdmittedFlag broadcast regime)
      val root = java.nio.file.Files.createTempDirectory("graft_gate_pb").toString
      val e2 = new ContViewEngine(spark, root)
      val rows = Seq(
        (1L, "x", "2024-01-01 00:00:00"), (2L, "x", "2024-01-01 01:00:00"),
        (3L, "x", "2024-01-03 00:00:00"), (4L, "y", "2024-01-03 01:00:00"))
        .toDF("id", "body", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
      e2.createStream("gp_in", rows.schema)
      e2.createStream("gp_out", org.apache.spark.sql.types.StructType(
        rows.schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      e2.createContView("v_gp", "SELECT id FROM gp_out", emitChanges = false)
      StreamDedupGate.create(e2, "gp_gate", "SELECT id, body, ts FROM gp_in",
        keySql = "md5(body)", orderCol = "id", sink = "gp_out",
        storeRoot = root + "/gate", ttlMillis = 24L * 3600 * 1000,
        ttlColumn = "ts", delivery = StreamDedupGate.ExactlyOnce)
      e2.insertInto("gp_in", rows.where(col("id") <= 2))
      e2.insertInto("gp_in", rows.where(col("id") > 2))
      (plain, e2.overlay("v_gp").collect().map(_.getLong(0)).toSet)
    }
    val (plainRef, ttlRef) = feedBoth()
    assert(plainRef === Set(1L, 2L, 5L) && ttlRef === Set(1L, 3L, 4L),
      "fixture must exercise suppression on both modes")
    GateStore.maxPushdownBytesOverride = Some(1L)
    try {
      val (plainJoin, ttlJoin) = feedBoth()
      assert(plainJoin === plainRef, "broadcast semi-join store check diverged")
      assert(ttlJoin === ttlRef,
        "broadcast ttl store check / survivors / spool flag diverged")
    } finally GateStore.maxPushdownBytesOverride = None
  }

  test("bloom misses are admitted without reading the store; store is append-only") {
    val (eng, gate, root) = fixture()
    // 60 distinct keys across 3 batches + full repeat of batch 1
    (0 until 3).foreach { b =>
      eng.insertInto("g_in",
        (0 until 20).map(i => ((b * 20 + i).toLong, s"doc-$b-$i")).toDF("id", "body"))
    }
    eng.insertInto("g_in",
      (0 until 20).map(i => (100L + i, s"doc-0-$i")).toDF("id", "body"))
    assert(admitted(eng).size === 60)
    assert(gate.stats === ((4L, 60L, 20L)))
    // one key file per survivor-bearing batch, none for the all-dup batch
    val store = new java.io.File(s"$root/g_gate/seen_keys")
    val keyFiles = store.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(keyFiles.length === 3)
    assert(spark.read.parquet(store.getAbsolutePath).count() === 60L)
  }
}
