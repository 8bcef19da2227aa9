package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.SharedSpark

/** The executor-partitioned state backend ([[ExecutorShards]]) against
  * the driver backends: BIT-IDENTICAL admitted sets on the same feed —
  * resident driver tier, forced-disk driver path, and the executor shards
  * must all implement one decision function. Also pins restart recovery
  * (shards rebuild from the durable store), the TTL composition, and
  * compaction invalidation.
  */
class ExecutorGateBackendSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  // corpus with REAL near-dup structure: every 3rd doc is a light edit of
  // an earlier one (simhash distance ≤ 3), the rest unique
  private def corpus(n: Int): DataFrame = {
    def base(i: Int) = (0 until 24).map(j => s"d${i}w$j").mkString(" ")
    (0 until n).map { i =>
      val text =
        if (i % 3 == 2) base(i - 2) + " tail"  // near-dup of i-2
        else base(i)
      (i.toLong, text)
    }.toDF("id", "body")
  }

  private def runGate(root: String, engSuffix: String, backend: String,
      batches: Seq[DataFrame], ttl: Boolean = false,
      compactBetween: Boolean = false,
      storeSuffix: String = null): (ContViewEngine, ShardedGate[SimHashNearDupGate]) = {
    val stSuffix = if (storeSuffix == null) engSuffix else storeSuffix
    val eng = new ContViewEngine(spark, s"$root/eng$engSuffix")
    val schema0 = Seq((0L, "x")).toDF("id", "body").schema
    val schema =
      if (!ttl) schema0
      else org.apache.spark.sql.types.StructType(schema0.fields :+
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))
    eng.createStream("xb_in", schema)
    eng.createStream("xb_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    eng.createContView("v_xb", "SELECT id FROM xb_out", emitChanges = false)
    val g = SimHashNearDupGate.create(eng, "xb_gate",
      (if (!ttl) "SELECT id, body FROM xb_in"
       else "SELECT id, body, ts FROM xb_in"),
      textSql = "body", orderCol = "id",
      sink = "xb_out", storeRoot = s"$root/gate_$backend$stSuffix",
      maxDist = 3, backend = backend, stateParts = 5,
      ttlMillis = if (ttl) 24L * 3600 * 1000 else 0L,
      ttlColumn = if (ttl) "ts" else "")
    batches.foreach { b =>
      eng.insertInto("xb_in", b)
      if (compactBetween) g.compact()
    }
    (eng, g)
  }

  private def admitted(eng: ContViewEngine): Set[Long] =
    eng.overlay("v_xb").collect().map(_.getLong(0)).toSet

  test("executor backend admits the exact driver-backend set, across batch splits") {
    val c = corpus(120)
    val batches = Seq(c.where(col("id") < 40), c.where(col("id") >= 40 && col("id") < 80),
      c.where(col("id") >= 80))
    val r1 = java.nio.file.Files.createTempDirectory("graft_xb1").toString
    val (e1, _) = runGate(r1, "d", StreamDedupGate.DriverBackend, batches)
    val expected = admitted(e1)
    assert(expected.size < 120 && expected.size > 60,
      s"fixture must exercise suppression (got ${expected.size})")
    val r2 = java.nio.file.Files.createTempDirectory("graft_xb2").toString
    val (e2, _) = runGate(r2, "x", StreamDedupGate.ExecutorBackend, batches)
    assert(admitted(e2) === expected, "executor backend diverged from driver")
    // forced-disk driver path (budget 0) — the third implementation
    ResidentIndex.budgetOverride = Some(0L)
    try {
      val r3 = java.nio.file.Files.createTempDirectory("graft_xb3").toString
      val (e3, _) = runGate(r3, "k", StreamDedupGate.DriverBackend, batches)
      assert(admitted(e3) === expected, "disk path diverged")
    } finally ResidentIndex.budgetOverride = None
  }

  test("executor backend: restart rebuilds the shards from the durable store") {
    val c = corpus(90)
    val root = java.nio.file.Files.createTempDirectory("graft_xb4").toString
    // driver-backend truth on the full feed
    val rT = java.nio.file.Files.createTempDirectory("graft_xb4t").toString
    val (eT, _) = runGate(rT, "t", StreamDedupGate.DriverBackend, Seq(c))
    val expected = admitted(eT)
    // executor backend: feed half, "crash" (abandon engine), re-create on
    // the SAME store — the new instance's nonce orphans every shard, so
    // the first post-restart probe rebuilds from parquet. Split AT a
    // suppressed near-dup so its suppressor (id−2) lands pre-crash: a
    // fresh store would admit it and the assertion below would catch that.
    val split = (0 until 90).find(i =>
      i % 3 == 2 && !expected.contains(i.toLong)).getOrElse(
      fail("fixture must suppress at least one near-dup")).toLong
    val eng1 = runGate(root, "1", StreamDedupGate.ExecutorBackend,
      Seq(c.where(col("id") < split)), storeSuffix = "shared")._1
    assert(admitted(eng1) === expected.filter(_ < split))
    val (eng2, _) = runGate(root, "2", StreamDedupGate.ExecutorBackend,
      Seq(c.where(col("id") >= split)), storeSuffix = "shared")
    assert(admitted(eng2) === expected.filter(_ >= split),
      "post-restart decisions must see the pre-crash store")
  }

  test("executor backend: ttl window + compaction reap match the driver backend") {
    // three-case window schedule (in-window suppressed, aged-out admitted,
    // refreshed-window suppressed) — same fixture family as
    // NearDupGateTtlSpec, both backends, compaction after every batch on
    // the executor side (invalidate → rebuild from the reaped store)
    def body(i: Long) = (0 until 24).map(j => s"t${i}w$j").mkString(" ")
    val rows = ((0L until 8L).map(i => (i, body(i), i)) ++
      Seq((100L, body(0), 10L),   // in-window copy → suppressed
          (200L, body(0), 40L),   // aged out → admitted
          (300L, body(0), 50L)))  // inside 200's window → suppressed
      .toDF("id", "body", "hours")
      .withColumn("ts",
        expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,hours)"))
      .drop("hours")
    def feedBatches(df: DataFrame) = Seq(df.where(col("id") < 100L),
      df.where(col("id") >= 100L && col("id") < 300L),
      df.where(col("id") >= 300L))
    val r1 = java.nio.file.Files.createTempDirectory("graft_xb5").toString
    val (e1, _) = runGate(r1, "d", StreamDedupGate.DriverBackend,
      feedBatches(rows), ttl = true)
    val expected = admitted(e1)
    assert(expected === (0L until 8L).toSet + 200L)
    val r2 = java.nio.file.Files.createTempDirectory("graft_xb6").toString
    val (e2, _) = runGate(r2, "x", StreamDedupGate.ExecutorBackend,
      feedBatches(rows), ttl = true, compactBetween = true)
    assert(admitted(e2) === expected, "windowed executor backend diverged")
  }

  test("executor backend: a lost/moved shard self-heals mid-stream") {
    // local[n] never migrates a shard, so force the cluster failure mode:
    // poison one shard's generation between batches (what an executor loss
    // or task migration leaves behind) — the next probe must detect the
    // stale shard, rebuild every shard from the durable store, and decide
    // the batch identically
    val c = corpus(90)
    val batches = Seq(c.where(col("id") < 30),
      c.where(col("id") >= 30 && col("id") < 60), c.where(col("id") >= 60))
    val rT = java.nio.file.Files.createTempDirectory("graft_xh1").toString
    val (eT, _) = runGate(rT, "t", StreamDedupGate.DriverBackend, batches)
    val expected = admitted(eT)
    val root = java.nio.file.Files.createTempDirectory("graft_xh2").toString
    val eng = new ContViewEngine(spark, s"$root/eng")
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("xh_in", schema)
    eng.createStream("xh_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    eng.createContView("v_xh", "SELECT id FROM xh_out", emitChanges = false)
    val g = SimHashNearDupGate.create(eng, "xh_gate",
      "SELECT id, body FROM xh_in", textSql = "body", orderCol = "id",
      sink = "xh_out", storeRoot = s"$root/gate", maxDist = 3,
      backend = StreamDedupGate.ExecutorBackend, stateParts = 5)
    eng.insertInto("xh_in", batches(0))
    g.cores(0).executorIndex.poisonShard(2)
    eng.insertInto("xh_in", batches(1)) // heals via rebuild, then decides
    g.cores(0).executorIndex.poisonShard(0)
    g.cores(0).executorIndex.poisonShard(4)
    eng.insertInto("xh_in", batches(2))
    assert(eng.overlay("v_xh").collect().map(_.getLong(0)).toSet === expected,
      "self-healed shards must decide identically")
  }

  test("executor backend composes with exactly-once delivery across a crash") {
    val root = java.nio.file.Files.createTempDirectory("graft_xe1").toString
    val eng = new ContViewEngine(spark, s"$root/eng")
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("xe_in", schema)
    eng.createStream("xe_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    eng.createContView("v_xe", "SELECT id, count(*) AS c FROM xe_out GROUP BY id",
      emitChanges = false)
    val g = SimHashNearDupGate.create(eng, "xe_gate",
      "SELECT id, body FROM xe_in", textSql = "body", orderCol = "id",
      sink = "xe_out", storeRoot = s"$root/gate",
      backend = StreamDedupGate.ExecutorBackend, stateParts = 3,
      delivery = StreamDedupGate.ExactlyOnce)
    def b(rows: (Long, String)*) = rows.toDF("id", "body")
    eng.insertInto("xe_in", b((1L, "alpha beta gamma delta")))
    // crash between spool and delivery: the commitRecovered delta must
    // flow into the executor shards exactly once, and the re-fed batch
    // must be fully suppressed by the recovered store
    g.epochs.failAt = "after-spool"
    intercept[Exception] {
      eng.insertInto("xe_in",
        b((2L, "epsilon zeta eta theta"), (3L, "alpha beta gamma delta")))
    }
    eng.insertInto("xe_in",
      b((2L, "epsilon zeta eta theta"), (3L, "alpha beta gamma delta")))
    val counts = eng.overlay("v_xe").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts === Map(1L -> 1L, 2L -> 1L),
      "every admitted row exactly once; suppressed rows still suppress")
    // pre-spool crash: shards advanced by the crashed decide must not
    // poison the retry (nothing was appended, so decisions are unchanged)
    g.epochs.failAt = "before-spool"
    intercept[Exception] {
      eng.insertInto("xe_in", b((4L, "iota kappa lambda mu")))
    }
    eng.insertInto("xe_in", b((4L, "iota kappa lambda mu")))
    assert(eng.overlay("v_xe").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
      === Map(1L -> 1L, 2L -> 1L, 4L -> 1L))
  }

  test("exact gate executor backend: membership tier replaces bloom + store read") {
    // plain mode: first-wins dedup across batches + restart; ttl mode: the
    // windowed re-admission schedule — both must match the driver backend
    // bit-for-bit with NO driver bloom at all
    def b(rows: (Long, String)*) = rows.toDF("id", "k")
    def run(backend: String, root: String): (ContViewEngine, ShardedGate[StreamDedupGate]) = {
      val eng = new ContViewEngine(spark, s"$root/eng${backend.take(1)}")
      val schema = Seq((0L, "x")).toDF("id", "k").schema
      eng.createStream("xd_in", schema)
      eng.createStream("xd_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      eng.createContView("v_xd", "SELECT id FROM xd_out", emitChanges = false)
      val g = StreamDedupGate.create(eng, "xd_gate",
        "SELECT id, k FROM xd_in", keySql = "k", orderCol = "id",
        sink = "xd_out", storeRoot = s"$root/gate_$backend",
        backend = backend, stateParts = 4)
      (eng, g)
    }
    val feed = Seq(
      b((1L, "a"), (2L, "b"), (3L, "a")),          // in-batch dup
      b((4L, "c"), (5L, "b")),                      // cross-batch dup
      b((6L, "a"), (7L, "d"), (8L, "d"), (9L, null.asInstanceOf[String])))
    def admitted(backend: String): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory("graft_xd").toString
      val (eng, g) = run(backend, root)
      feed.take(2).foreach(f => eng.insertInto("xd_in", f))
      g.compact() // fold + (executor) shard invalidation mid-feed
      // restart on the same store: new engine + gate instance
      val eng2 = new ContViewEngine(spark, s"$root/eng2")
      eng2.createStream("xd_in", feed.head.schema)
      eng2.createStream("xd_out", org.apache.spark.sql.types.StructType(
        feed.head.schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      eng2.createContView("v_xd", "SELECT id FROM xd_out", emitChanges = false)
      StreamDedupGate.create(eng2, "xd_gate",
        "SELECT id, k FROM xd_in", keySql = "k", orderCol = "id",
        sink = "xd_out", storeRoot = s"$root/gate_$backend",
        backend = backend, stateParts = 4)
      eng2.insertInto("xd_in", feed(2))
      eng2.overlay("v_xd").collect().map(_.getLong(0)).toSet
    }
    val expected = admitted(StreamDedupGate.DriverBackend)
    assert(expected === Set(7L, 9L), "post-restart slice: d fresh, null key passes")
    assert(admitted(StreamDedupGate.ExecutorBackend) === expected,
      "exact-gate executor backend diverged")
  }

  test("executor backend under the REAL Structured Streaming driver, restart mid-stream") {
    // the one composition cell the suites didn't cover: exec-backend state
    // under startStreamingInto's checkpointed file source, with an engine
    // restart between micro-batch groups — the replayed gate must carry
    // backend='executor' from the catalog, rebuild shards from the durable
    // store, and suppress the post-restart copies of pre-restart content
    val root = java.nio.file.Files.createTempDirectory("graft_xgst").toString
    val docs = (0 until 60).map(i => (i.toLong, s"doc body $i")).toDF("doc_id", "text")
    val copies = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
    def setup(eng: ContViewEngine): ContViewEngine = {
      eng.createStream("xs_in", docs.schema)
      eng.createStream("xs_clean", org.apache.spark.sql.types.StructType(
        docs.schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      eng.createContView("v_xs",
        "SELECT doc_id, count(*) AS c FROM xs_clean GROUP BY doc_id",
        emitChanges = false)
      eng.sql("""CREATE VIEW xs_gate WITH (action = transform, sink = 'xs_clean',
                |  backend = 'executor', state_parts = 3,
                |  outputfunc = dedup_gate('md5(text)', 'doc_id')) AS
                |SELECT doc_id, text FROM xs_in""".stripMargin)
      eng
    }
    val srcDir = s"$root/_stream_src"
    (0 until 2).foreach { i =>
      docs.where(pmod(col("doc_id"), lit(2)) === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val eng1 = setup(new ContViewEngine(spark, root))
    def source() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q1 = eng1.startStreamingInto("xs_in", source())
    try { q1.processAllAvailable() } finally q1.stop()
    copies.coalesce(1).write.mode("append").parquet(srcDir)
    val eng2 = setup(new ContViewEngine(spark, root))
    val q2 = eng2.startStreamingInto("xs_in", source())
    try { q2.processAllAvailable() } finally q2.stop()
    val counts = eng2.overlay("v_xs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts.keySet === (0 until 60).map(_.toLong).toSet,
      "every original admitted once, every post-restart copy suppressed")
    assert(counts.values.forall(_ == 1L), "no duplicate deliveries")
  }

  test("exact gate executor backend: ttl window matches the driver") {
    def rows(v: (Long, String, String)*): DataFrame =
      v.toDF("id", "k", "tss").withColumn("ts", col("tss").cast("timestamp"))
        .drop("tss")
    def run(backend: String): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory("graft_xdt").toString
      val eng = new ContViewEngine(spark, s"$root/eng")
      val schema = rows((0L, "x", "2024-01-01 00:00:00")).schema
      eng.createStream("xt_in", schema)
      eng.createStream("xt_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      eng.createContView("v_xt", "SELECT id FROM xt_out", emitChanges = false)
      val g = StreamDedupGate.create(eng, "xt_gate",
        "SELECT id, k, ts FROM xt_in", keySql = "k", orderCol = "id",
        sink = "xt_out", storeRoot = s"$root/gate",
        backend = backend, stateParts = 3,
        ttlMillis = 24L * 3600 * 1000, ttlColumn = "ts")
      eng.insertInto("xt_in", rows(
        (1L, "u", "2024-01-01 00:00:00"),
        (2L, "u", "2024-01-01 06:00:00")))  // inside window → suppressed
      g.compact() // reap fold mid-feed
      eng.insertInto("xt_in", rows(
        (3L, "u", "2024-01-03 00:00:00"),   // aged out → admitted
        (4L, "u", "2024-01-03 06:00:00"),   // inside 3's window → suppressed
        (5L, "v", "2024-01-03 06:00:00")))
      eng.overlay("v_xt").collect().map(_.getLong(0)).toSet
    }
    val expected = run(StreamDedupGate.DriverBackend)
    assert(expected === Set(1L, 3L, 5L))
    assert(run(StreamDedupGate.ExecutorBackend) === expected,
      "windowed exact-gate executor backend diverged")
  }

  test("dropping a gate evicts its executor shards from the JVM registry") {
    val root = java.nio.file.Files.createTempDirectory("graft_xr1").toString
    val eng = new ContViewEngine(spark, root) // gate store under the ENGINE root
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("xr_in", schema)
    eng.createStream("xr_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    eng.sql("""CREATE VIEW xr_gate WITH (action = transform, sink = 'xr_out',
              |  backend = 'executor',
              |  outputfunc = neardup_gate('body', 'id')) AS
              |SELECT id, body FROM xr_in""".stripMargin)
    eng.sql("INSERT INTO xr_in (id, body) VALUES (1, 'alpha beta gamma delta')")
    val gateRoot = java.nio.file.Paths.get(root, "xr_gate")
      .toAbsolutePath.toString
    assert(ExecutorGateState.registeredUnder(gateRoot) > 0,
      "the probe must have registered shards")
    eng.dropContTransform("xr_gate")
    assert(ExecutorGateState.registeredUnder(gateRoot) === 0,
      "drop must evict the gate's shards from the registry")
  }

  test("resident-budget overflow names backend = 'executor' in its warning") {
    // the driver tier's overflow degrades into the documented O(store)
    // disk regime — the warning must tell the operator the designed way
    // out (the distributed tier), not just how to postpone the cliff
    val buf = new java.io.ByteArrayOutputStream()
    val orig = System.err
    ResidentIndex.budgetOverride = Some(4096L)
    try {
      System.setErr(new java.io.PrintStream(buf, true))
      val root = java.nio.file.Files.createTempDirectory("graft_xov").toString
      val (_, g) = runGate(root, "o", StreamDedupGate.DriverBackend,
        Seq(corpus(40)))
      g.drainCommits() // the mirror runs in the deferred commit
    } finally {
      System.setErr(orig)
      ResidentIndex.budgetOverride = None
    }
    val err = buf.toString
    assert(err.contains("byte budget mid-stream") ||
      err.contains("exceeds the resident budget"), err.take(400))
    assert(err.contains("backend = 'executor'"),
      "overflow advice must name the executor backend")
  }

  test("a superseded executor-gate instance fails fast instead of thrashing") {
    // two LIVE instances on one store path have different nonces; without
    // the owner stamp each probe would orphan the other's shards — a
    // silent full-rebuild ping-pong. The stamp turns that into an error.
    val c = corpus(30)
    val root = java.nio.file.Files.createTempDirectory("graft_xow").toString
    val (e1, _) = runGate(root, "a", StreamDedupGate.ExecutorBackend,
      Seq(c.where(col("id") < 10)), storeSuffix = "shared")
    runGate(root, "b", StreamDedupGate.ExecutorBackend,
      Seq(c.where(col("id") >= 10 && col("id") < 20)), storeSuffix = "shared")
    val ex = intercept[Throwable] {
      e1.insertInto("xb_in", c.where(col("id") >= 20))
    }
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} ${chain(t.getCause)}"
    assert(chain(ex).contains("superseded"),
      s"expected the owner-stamp diagnosis, got: ${chain(ex)}")
  }

  test("executor backend refuses driver-thread core sharding") {
    intercept[IllegalArgumentException] {
      new ExecutorShards(spark, "/tmp/never", 0,
        IndexKind(false, false, Some("fp"), 3, 0L))
    }
  }

  // ---- split-store family (jaccard/cosine: distributed phase 1 + the
  // id-pruned payload verify, driver payload pool OFF) ---------------------

  private def runJaccard(root: String, engSuffix: String, backend: String,
      batches: Seq[DataFrame],
      afterBatch: ShardedGate[JaccardNearDupGate] => Unit = _ => ()): ContViewEngine = {
    val eng = new ContViewEngine(spark, s"$root/eng$engSuffix")
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("xj_in", schema)
    eng.createStream("xj_out", schema)
    eng.createContView("v_xj", "SELECT id FROM xj_out", emitChanges = false)
    val g = JaccardNearDupGate.create(eng, "xj_gate",
      "SELECT id, body FROM xj_in", textSql = "body", orderCol = "id",
      sink = "xj_out", storeRoot = s"$root/gate_$backend$engSuffix",
      threshold = 0.7, backend = backend, stateParts = 5)
    batches.foreach { b => eng.insertInto("xj_in", b); afterBatch(g) }
    eng
  }

  // shingle-level near-dups: every 4th doc shares most of its shingles
  // with an earlier one (estimated jaccard above the 0.7 threshold)
  private def jaccardCorpus: DataFrame = {
    def toks(i: Int) = (0 until 30).map(j => s"j${i}t$j")
    (0 until 80).map { i =>
      val t = if (i % 4 == 3) toks(i - 3).drop(2) ++ Seq("x", "y")
              else toks(i)
      (i.toLong, t.mkString(" "))
    }.toDF("id", "body")
  }

  test("jaccard executor backend: identical admitted set, incl. restart") {
    val c = jaccardCorpus
    val split = Seq(c.where(col("id") < 40), c.where(col("id") >= 40))
    val r1 = java.nio.file.Files.createTempDirectory("graft_xj1").toString
    val expected = runJaccard(r1, "d", StreamDedupGate.DriverBackend, split)
      .overlay("v_xj").collect().map(_.getLong(0)).toSet
    assert(expected.size < 80 && expected.size > 40,
      s"fixture must exercise suppression (got ${expected.size})")
    val r2 = java.nio.file.Files.createTempDirectory("graft_xj2").toString
    // restart between the two batches on the executor side: the second
    // instance's shards rebuild from the durable index store
    val eng1 = runJaccard(r2, "1", StreamDedupGate.ExecutorBackend,
      Seq(split.head))
    assert(eng1.overlay("v_xj").collect().map(_.getLong(0)).toSet
      === expected.filter(_ < 40L))
    val eng2 = runJaccard(r2, "2", StreamDedupGate.ExecutorBackend,
      Seq(split(1)))
    assert(eng2.overlay("v_xj").collect().map(_.getLong(0)).toSet
      === expected.filter(_ >= 40L),
      "jaccard executor backend diverged across restart")
  }

  test("near-dup executor backends build NO driver bloom (exact gate parity)") {
    // the r12 residual: the exec near-dup paths still grew a corpus-sized
    // driver bucket bloom. Now the field is NULL on the exec backend (an
    // accidental probe would NPE loudly), while the driver backend keeps
    // its bloom — and decisions stay identical either way (covered by the
    // equivalence tests above; re-pinned here through feed + compact +
    // restart so no later phase quietly re-introduces a build site).
    val c = corpus(60)
    val rD = java.nio.file.Files.createTempDirectory("graft_xnb_d").toString
    val (_, gD) = runGate(rD, "d", StreamDedupGate.DriverBackend, Seq(c))
    assert(gD.cores(0).driverBloomForSpec != null, "driver backend must keep its bloom")
    val rX = java.nio.file.Files.createTempDirectory("graft_xnb_x").toString
    val (_, gX) = runGate(rX, "x1", StreamDedupGate.ExecutorBackend,
      Seq(c.where(col("id") < 30)), compactBetween = true,
      storeSuffix = "shared")
    assert(gX.cores(0).driverBloomForSpec == null,
      "simhash executor backend must hold no driver bloom")
    // restart on the same store: bootstrap must not rebuild a bloom either
    val (e2, g2) = runGate(rX, "x2", StreamDedupGate.ExecutorBackend,
      Seq(c.where(col("id") >= 30)), storeSuffix = "shared")
    assert(g2.cores(0).driverBloomForSpec == null,
      "bootstrap on the executor backend must not rebuild a driver bloom")
    assert(admitted(e2).nonEmpty)
    // split-store family: same invariant on the jaccard gate
    val rJ = java.nio.file.Files.createTempDirectory("graft_xnb_j").toString
    val engJ = new ContViewEngine(spark, s"$rJ/eng")
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    engJ.createStream("xnb_in", schema)
    engJ.createStream("xnb_out", schema)
    val gJ = JaccardNearDupGate.create(engJ, "xnb_gate",
      "SELECT id, body FROM xnb_in", textSql = "body", orderCol = "id",
      sink = "xnb_out", storeRoot = s"$rJ/gate", threshold = 0.7,
      backend = StreamDedupGate.ExecutorBackend, stateParts = 3)
    engJ.insertInto("xnb_in",
      (0 until 20).map(i => (i.toLong,
        (0 until 30).map(j => s"n${i}t$j").mkString(" "))).toDF("id", "body"))
    assert(gJ.cores(0).driverBloomForSpec == null,
      "jaccard executor backend must hold no driver bloom")
  }

  test("executor payload deltas drain every batch, even candidate-free ones") {
    // low-duplicate stream: no batch after the first surfaces candidates,
    // so without the per-batch drain the driver's pending queue would
    // accumulate one full-precision payload delta per batch
    val root = java.nio.file.Files.createTempDirectory("graft_xpd").toString
    val eng = new ContViewEngine(spark, s"$root/eng")
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("xpd_in", schema)
    eng.createStream("xpd_out", schema)
    eng.createContView("v_xpd", "SELECT id FROM xpd_out", emitChanges = false)
    val g = JaccardNearDupGate.create(eng, "xpd_gate",
      "SELECT id, body FROM xpd_in", textSql = "body", orderCol = "id",
      sink = "xpd_out", storeRoot = s"$root/gate", threshold = 0.7,
      backend = StreamDedupGate.ExecutorBackend, stateParts = 3)
    def uniq(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong,
      (0 until 30).map(j => s"u${i}t$j").mkString(" "))).toDF("id", "body")
    (0 until 6).foreach(b => eng.insertInto("xpd_in", uniq(b * 10, b * 10 + 10)))
    g.drainCommits() // join the deferred commit of the last batch
    val pool = g.cores(0).executorPayloads
    assert(pool != null)
    assert(pool.pendingDepthForSpec <= 1,
      s"payload deltas accumulated on the driver (depth ${pool.pendingDepthForSpec})")
    assert(eng.overlay("v_xpd").count() === 60L, "unique stream must pass whole")
  }

  test("executor backend: a poisoned payload-pool shard rebuilds and admits identically") {
    // the payload tier's stale path: poison a payload shard after each
    // batch; the next batch's fetch must detect it, rebuild every payload
    // shard from the durable payload store, and verify identically
    val c = jaccardCorpus
    val split = Seq(c.where(col("id") < 27),
      c.where(col("id") >= 27 && col("id") < 54), c.where(col("id") >= 54))
    def run(poison: Boolean): (Set[Long], Seq[Int]) = {
      val root = java.nio.file.Files.createTempDirectory("graft_xpp").toString
      val rebuilds = Seq.newBuilder[Int]
      val eng = runJaccard(root, "p", StreamDedupGate.ExecutorBackend, split,
        afterBatch = { g =>
          val pay = g.cores(0).executorPayloads
          rebuilds += pay.rebuilds
          if (poison) pay.poisonShard(2)
        })
      (eng.overlay("v_xj").collect().map(_.getLong(0)).toSet, rebuilds.result())
    }
    val (expected, clean) = run(poison = false)
    assert(expected.size < 80 && expected.size > 40,
      s"fixture must exercise suppression (got ${expected.size})")
    assert(clean.last === clean.head, s"no rebuild without a poisoned shard: $clean")
    val (admittedP, poisoned) = run(poison = true)
    assert(admittedP === expected, "a rebuilt payload pool must verify identically")
    assert(poisoned.last - poisoned.head === 2,
      s"each poisoned batch must run one payload rebuild: $poisoned")
  }

  test("exact gate executor backend: a poisoned seen-key shard rebuilds and admits identically") {
    // the membership tier's stale path, plain and windowed: poison a
    // seen-key shard after each batch; the next lookup must rebuild every
    // shard from the durable key store and decide identically
    def rows(v: (Long, String, String)*): DataFrame =
      v.toDF("id", "k", "tss").withColumn("ts", col("tss").cast("timestamp"))
        .drop("tss")
    val feed = Seq(
      rows((1L, "a", "2024-01-01 00:00:00"), (2L, "b", "2024-01-01 01:00:00"),
        (3L, "a", "2024-01-01 02:00:00")),
      rows((4L, "c", "2024-01-01 03:00:00"), (5L, "b", "2024-01-01 04:00:00")),
      rows((6L, "a", "2024-01-03 00:00:00"), (7L, "d", "2024-01-03 00:00:00"),
        (8L, "c", "2024-01-01 05:00:00")))
    def run(ttl: Boolean, poison: Boolean): (Set[Long], Seq[Int]) = {
      val root = java.nio.file.Files.createTempDirectory("graft_xsp").toString
      val eng = new ContViewEngine(spark, s"$root/eng")
      eng.createStream("xs_in", feed.head.schema)
      eng.createStream("xs_out", org.apache.spark.sql.types.StructType(
        feed.head.schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      eng.createContView("v_xs", "SELECT id FROM xs_out", emitChanges = false)
      val g = StreamDedupGate.create(eng, "xs_gate",
        "SELECT id, k, ts FROM xs_in", keySql = "k", orderCol = "id",
        sink = "xs_out", storeRoot = s"$root/gate",
        backend = StreamDedupGate.ExecutorBackend, stateParts = 4,
        ttlMillis = if (ttl) 24L * 3600 * 1000 else 0L,
        ttlColumn = if (ttl) "ts" else "")
      val seen = g.cores(0).executorSeen
      val rebuilds = feed.map { f =>
        eng.insertInto("xs_in", f)
        val n = seen.rebuilds
        if (poison) { seen.poisonShard(1); seen.poisonShard(3) }
        n
      }
      (eng.overlay("v_xs").collect().map(_.getLong(0)).toSet, rebuilds)
    }
    for (ttl <- Seq(false, true)) {
      val (expected, clean) = run(ttl, poison = false)
      assert(expected === (if (ttl) Set(1L, 2L, 4L, 6L, 7L) else Set(1L, 2L, 4L, 7L)))
      assert(clean.last === clean.head, s"ttl=$ttl: no rebuild without a poisoned shard: $clean")
      val (admittedP, poisoned) = run(ttl, poison = true)
      assert(admittedP === expected, s"ttl=$ttl: a rebuilt seen-key store must decide identically")
      assert(poisoned.last - poisoned.head === 2,
        s"ttl=$ttl: each poisoned batch must run one seen-key rebuild: $poisoned")
    }
  }

  test("cosine executor backend: windowed admission matches the driver") {
    def vec(seed: Long): Seq[Double] = {
      val r = new scala.util.Random(seed)
      val raw = Seq.fill(16)(r.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val rows = Seq(
      (1L, vec(1), "2024-01-01 00:00:00"),
      (2L, vec(2), "2024-01-01 01:00:00"),
      (1001L, vec(1), "2024-01-01 06:00:00"), // in-window copy → suppressed
      (2001L, vec(1), "2024-01-03 00:00:00"), // aged out → admitted
      (3001L, vec(1), "2024-01-03 12:00:00"), // inside 2001's window → suppressed
      (2002L, vec(2), "2024-01-04 00:00:00")  // aged out → admitted
    ).toDF("id", "embedding", "tss")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def run(backend: String): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory("graft_xc").toString
      val eng = new ContViewEngine(spark, s"$root/eng")
      eng.createStream("xc_in", rows.schema)
      eng.createStream("xc_out", rows.schema)
      eng.createContView("v_xc", "SELECT id FROM xc_out", emitChanges = false)
      val g = CosineNearDupGate.create(eng, "xc_gate",
        "SELECT id, embedding, ts FROM xc_in", embSql = "embedding",
        orderCol = "id", sink = "xc_out", storeRoot = s"$root/gate",
        threshold = 0.95, dim = 16, backend = backend, stateParts = 3,
        ttlMillis = 24L * 3600 * 1000, ttlColumn = "ts")
      eng.insertInto("xc_in", rows.where(col("id") <= 1001L))
      g.compact() // reap + executor-shard invalidation mid-feed
      eng.insertInto("xc_in", rows.where(col("id") > 1001L))
      eng.overlay("v_xc").collect().map(_.getLong(0)).toSet
    }
    val expected = run(StreamDedupGate.DriverBackend)
    assert(expected === Set(1L, 2L, 2001L, 2002L))
    assert(run(StreamDedupGate.ExecutorBackend) === expected,
      "windowed cosine executor backend diverged")
  }
}
