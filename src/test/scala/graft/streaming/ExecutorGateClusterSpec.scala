package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine

/** The executor-distributed gate tier across REAL JVM boundaries:
  * `local-cluster[2,2,2048]` forks two genuine executor processes (the
  * master/worker run as driver threads, executors as separate JVMs), so
  * task serialization, the per-JVM shard registry, preferred-location
  * pinning, and cross-JVM rebuild shuffles all run for real — none of
  * which local[n] exercises (there every "executor" shard shares the
  * driver JVM and the pin is trivially satisfied). Reference anchor: the
  * combiner tier is genuinely multi-process (config.c:300-306), and the
  * reference's test harness spins real multi-process clusters
  * (src/test/py/base.py).
  *
  * Runs in its own forked JVM (build.sbt testGrouping): a SparkContext
  * is a JVM singleton and this one's master differs from every other
  * suite's local[4].
  */
class ExecutorGateClusterSpec extends AnyFunSuite {

  private val jdk17Opens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local-cluster[2,2,2048]")
      // forked executor JVMs need the application classes (this repo's
      // target dirs ride the test JVM's own classpath) and the JDK17
      // module opens Spark needs outside spark-submit
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", jdk17Opens)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // wait for both executor processes to register (driver + 2)
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (s.sparkContext.statusTracker.getExecutorInfos.length < 3 &&
        System.nanoTime() < deadline) Thread.sleep(500)
    assert(s.sparkContext.statusTracker.getExecutorInfos.length >= 3,
      "local-cluster executors failed to register")
    s
  }

  import spark.implicits._

  // same corpus family as ExecutorGateBackendSpec: every 3rd doc a light
  // edit of an earlier one; only some land within simhash distance 3
  private def corpus(n: Int): DataFrame = {
    def base(i: Int) = (0 until 24).map(j => s"d${i}w$j").mkString(" ")
    (0 until n).map { i =>
      val text = if (i % 3 == 2) base(i - 2) + " tail" else base(i)
      (i.toLong, text)
    }.toDF("id", "body")
  }

  private def runSimhash(root: String, engSuffix: String, backend: String,
      batches: Seq[DataFrame],
      storeSuffix: String = null): (ContViewEngine, ShardedGate[SimHashNearDupGate]) = {
    val st = if (storeSuffix == null) engSuffix else storeSuffix
    val eng = new ContViewEngine(spark, s"$root/eng$engSuffix")
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("xc_in", schema)
    eng.createStream("xc_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    eng.createContView("v_xc", "SELECT id FROM xc_out", emitChanges = false)
    val g = SimHashNearDupGate.create(eng, "xc_gate",
      "SELECT id, body FROM xc_in", textSql = "body", orderCol = "id",
      sink = "xc_out", storeRoot = s"$root/gate_$st", maxDist = 3,
      backend = backend, stateParts = 4)
    batches.foreach(b => eng.insertInto("xc_in", b))
    (eng, g)
  }

  private def admitted(eng: ContViewEngine): Set[Long] =
    eng.overlay("v_xc").collect().map(_.getLong(0)).toSet

  test("cluster: executor backend matches the driver backend; shards live OFF the driver JVM") {
    val c = corpus(90)
    val batches = Seq(c.where(col("id") < 45), c.where(col("id") >= 45))
    val r1 = java.nio.file.Files.createTempDirectory("graft_cl1").toString
    val (e1, _) = runSimhash(r1, "d", StreamDedupGate.DriverBackend, batches)
    val expected = admitted(e1)
    assert(expected.size < 90 && expected.size > 45,
      s"fixture must exercise suppression (got ${expected.size})")
    val r2 = java.nio.file.Files.createTempDirectory("graft_cl2").toString
    val (e2, g2) = runSimhash(r2, "x", StreamDedupGate.ExecutorBackend, batches)
    assert(admitted(e2) === expected,
      "executor backend diverged from driver across real JVM boundaries")
    // the proof this exercised REAL executors: probe tasks ran in the
    // forked executor JVMs, so the DRIVER's shard registry holds nothing
    // for this gate's store (on local[n] these registries coincide)
    assert(ExecutorGateState.registeredUnder(s"$r2/gate_x") === 0,
      "shards must live in the executor JVMs, not the driver registry")
    assert(g2.cores(0).driverBloomForSpec == null)
    assert(g2.cores(0).executorIndex.totalEntries > 0L,
      "executor-resident shards must hold the exploded store")
  }

  test("cluster: restart rebuilds shards from the durable store via a real shuffle") {
    val c = corpus(90)
    val rT = java.nio.file.Files.createTempDirectory("graft_cl3t").toString
    val (eT, _) = runSimhash(rT, "t", StreamDedupGate.DriverBackend, Seq(c))
    val expected = admitted(eT)
    // split AT a suppressed near-dup so its suppressor lands pre-restart
    val split = (0 until 90).find(i =>
      i % 3 == 2 && !expected.contains(i.toLong)).getOrElse(
      fail("fixture must suppress at least one near-dup")).toLong
    val root = java.nio.file.Files.createTempDirectory("graft_cl3").toString
    val eng1 = runSimhash(root, "1", StreamDedupGate.ExecutorBackend,
      Seq(c.where(col("id") < split)), storeSuffix = "shared")._1
    assert(admitted(eng1) === expected.filter(_ < split))
    // "crash": abandon eng1; the new instance's nonce orphans every
    // executor-resident shard, so the first probe rebuilds from parquet —
    // a genuine cross-JVM scan + shuffle on this master
    val (eng2, _) = runSimhash(root, "2", StreamDedupGate.ExecutorBackend,
      Seq(c.where(col("id") >= split)), storeSuffix = "shared")
    assert(admitted(eng2) === expected.filter(_ >= split),
      "post-restart decisions must see the pre-crash store")
  }

  test("cluster: exact gate's distributed membership tier (ExecutorSeenStore)") {
    def b(rows: (Long, String)*) = rows.toDF("id", "k")
    def run(backend: String): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory("graft_cl4").toString
      val eng = new ContViewEngine(spark, s"$root/eng")
      val schema = Seq((0L, "x")).toDF("id", "k").schema
      eng.createStream("xd_in", schema)
      eng.createStream("xd_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      eng.createContView("v_xd", "SELECT id FROM xd_out", emitChanges = false)
      StreamDedupGate.create(eng, "xd_gate", "SELECT id, k FROM xd_in",
        keySql = "md5(k)", orderCol = "id", sink = "xd_out",
        storeRoot = s"$root/gate", backend = backend, stateParts = 4)
      eng.insertInto("xd_in", b((1L, "a"), (2L, "b"), (3L, "a")))
      eng.insertInto("xd_in", b((4L, "b"), (5L, "c"), (6L, "c")))
      eng.overlay("v_xd").collect().map(_.getLong(0)).toSet
    }
    val expected = run(StreamDedupGate.DriverBackend)
    assert(expected === Set(1L, 2L, 5L))
    assert(run(StreamDedupGate.ExecutorBackend) === expected,
      "exact-gate membership diverged across real JVM boundaries")
  }

  test("cluster: split-store gate fetches candidate payloads from executor-resident pools") {
    // jaccard = the payload-pool path: phase 1 returns candidate ids from
    // the index shards, phase 2 fetches their STORED payloads from the
    // id-partitioned payload shards — here across real JVMs, so the
    // payloads round-trip through task results, not a shared heap
    def toks(i: Int) = (0 until 30).map(j => s"c${i}t$j")
    val c = (0 until 60).map { i =>
      val t = if (i % 4 == 3) toks(i - 3).drop(2) ++ Seq("x", "y") else toks(i)
      (i.toLong, t.mkString(" "))
    }.toDF("id", "body")
    def run(backend: String): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory("graft_cl6").toString
      val eng = new ContViewEngine(spark, s"$root/eng")
      val schema = Seq((0L, "x")).toDF("id", "body").schema
      eng.createStream("xj_in", schema)
      eng.createStream("xj_out", schema)
      eng.createContView("v_xj", "SELECT id FROM xj_out", emitChanges = false)
      val g = JaccardNearDupGate.create(eng, "xj_gate",
        "SELECT id, body FROM xj_in", textSql = "body", orderCol = "id",
        sink = "xj_out", storeRoot = s"$root/gate", threshold = 0.7,
        backend = backend, stateParts = 4)
      eng.insertInto("xj_in", c.where(col("id") < 30))
      eng.insertInto("xj_in", c.where(col("id") >= 30))
      if (backend == StreamDedupGate.ExecutorBackend) {
        g.drainCommits()
        assert(g.cores(0).executorPayloads != null &&
          g.cores(0).executorPayloads.pendingDepthForSpec <= 1)
        assert(ExecutorGateState.registeredUnder(s"$root/gate") === 0,
          "payload pool shards must live in the executor JVMs too")
      }
      eng.overlay("v_xj").collect().map(_.getLong(0)).toSet
    }
    val expected = run(StreamDedupGate.DriverBackend)
    assert(expected.size < 60 && expected.size > 30,
      s"fixture must exercise suppression (got ${expected.size})")
    assert(run(StreamDedupGate.ExecutorBackend) === expected,
      "payload-pool verification diverged across real JVM boundaries")
  }

  test("cluster: dropping a gate frees executor-resident shards in EVERY executor JVM") {
    val root = java.nio.file.Files.createTempDirectory("graft_cl7").toString
    val eng = new ContViewEngine(spark, root) // store under the ENGINE root
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("xg_in", schema)
    eng.createStream("xg_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    val g = SimHashNearDupGate.create(eng, "xg_gate",
      "SELECT id, body FROM xg_in", textSql = "body", orderCol = "id",
      sink = "xg_out", storeRoot = s"$root/xg_gate", maxDist = 3,
      backend = StreamDedupGate.ExecutorBackend, stateParts = 4)
    // two batches: batch 1's index delta rides batch 2's probe job, so
    // only then do the executor-resident shards hold entries
    val c60 = corpus(60)
    eng.insertInto("xg_in", c60.where(col("id") < 30))
    eng.insertInto("xg_in", c60.where(col("id") >= 30))
    assert(g.cores(0).executorIndex.totalEntries > 0L)
    val gateDir = java.nio.file.Paths.get(root, "xg_gate")
      .toAbsolutePath.toString
    // probe every executor JVM's registry: one instantaneous task per core
    // slot fills every free slot in one wave, so both forked JVMs answer
    def perJvm(): Map[String, Int] = {
      val sc = spark.sparkContext
      val slots = sc.defaultParallelism * 2
      sc.parallelize(0 until slots, slots).mapPartitions { _ =>
        Iterator.single((org.apache.spark.SparkEnv.get.executorId,
          ExecutorGateState.registeredUnder(gateDir)))
      }.collect().groupBy(_._1).map { case (e, v) => e -> v.map(_._2).max }
    }
    val before = perJvm()
    assert(before.size >= 2, s"probe must reach both executor JVMs: $before")
    assert(before.values.sum > 0,
      s"executor JVMs must hold shards before the drop: $before")
    eng.dropContTransform("xg_gate")
    val after = perJvm()
    assert(after.size >= 2, s"probe must reach both executor JVMs: $after")
    assert(after.values.forall(_ == 0),
      s"drop must free REMOTE executor registries, not just the driver's: $after")
  }

  test("cluster: a drop sweep that cannot reach every executor is LOUD, not silent") {
    // r14 residue: after 3 waves the sweep exited without a trace, so an
    // unreached executor's dead shards leaked heap invisibly. Spoofing a
    // third (unreachable) executor forces the give-up path: the session
    // counter must grow and graft_gate_stats must surface it.
    val root = java.nio.file.Files.createTempDirectory("graft_cl9").toString
    val eng = new ContViewEngine(spark, root)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("xl_in", schema)
    eng.createStream("xl_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    val g = SimHashNearDupGate.create(eng, "xl_gate",
      "SELECT id, body FROM xl_in", textSql = "body", orderCol = "id",
      sink = "xl_out", storeRoot = s"$root/xl_gate", maxDist = 3,
      backend = StreamDedupGate.ExecutorBackend, stateParts = 4)
    val c = corpus(40)
    eng.insertInto("xl_in", c.where(col("id") < 20))
    eng.insertInto("xl_in", c.where(col("id") >= 20))
    assert(g.cores(0).executorIndex.totalEntries > 0L)
    // a second gate (DDL-declared: the graft_gate_stats relation lists
    // catalog gates) stays live so the stats view has rows to stamp
    eng.sql("""CREATE VIEW xl_live WITH (action = transform, sink = 'xl_out',
              |  outputfunc = neardup_gate('body', 'id')) AS
              |SELECT id, body FROM xl_in""".stripMargin)
    ExecutorGateState.resetPendingRemoteDrops()
    try {
      ExecutorGateState.spoofExecutorCount = Some(3) // only 2 exist
      eng.dropContTransform("xl_gate")
    } finally ExecutorGateState.spoofExecutorCount = None
    assert(ExecutorGateState.pendingRemoteDrops === 1L,
      "one spoofed-unreachable executor must be counted, not swallowed")
    val stamped = eng.gateStats().where(col("gate") === "xl_live")
      .select("pendingRemoteDrops").collect()(0).getLong(0)
    assert(stamped === 1L,
      "graft_gate_stats must carry the pending-drop counter")
    // the REAL executors were still swept despite the spoofed miss
    val gateDir = java.nio.file.Paths.get(root, "xl_gate")
      .toAbsolutePath.toString
    val sc = spark.sparkContext
    val slots = sc.defaultParallelism * 2
    val perJvm = sc.parallelize(0 until slots, slots).mapPartitions { _ =>
      Iterator.single((org.apache.spark.SparkEnv.get.executorId,
        ExecutorGateState.registeredUnder(gateDir)))
    }.collect().groupBy(_._1).map { case (e, v) => e -> v.map(_._2).max }
    assert(perJvm.size >= 2 && perJvm.values.forall(_ == 0),
      s"reachable executors must still be swept: $perJvm")
    // SELF-HEAL does not wait for another exec-backend drop: dropping the
    // DRIVER-TIER second gate (no executor shards of its own) still
    // retries the pending dirs — with the spoof gone, the wave reaches
    // both real executors and clears the debt
    eng.dropContTransform("xl_live")
    assert(ExecutorGateState.pendingRemoteDrops === 0L,
      "a drop with pending debt must retry the sweep even when its own " +
        "dir had no executor shards")
    // and a full-cluster exec-backend drop keeps the counter at zero
    eng.createStream("xh_in", schema)
    eng.createStream("xh_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType)))
    val g2 = SimHashNearDupGate.create(eng, "xh_gate",
      "SELECT id, body FROM xh_in", textSql = "body", orderCol = "id",
      sink = "xh_out", storeRoot = s"$root/xh_gate", maxDist = 3,
      backend = StreamDedupGate.ExecutorBackend, stateParts = 4)
    eng.insertInto("xh_in", c.where(col("id") < 20))
    eng.insertInto("xh_in", c.where(col("id") >= 20))
    assert(g2.cores(0).executorIndex.totalEntries > 0L)
    eng.dropContTransform("xh_gate") // true executor count: full sweep
    assert(ExecutorGateState.pendingRemoteDrops === 0L,
      "a full-cluster sweep must clear previously-pending drops")
    ExecutorGateState.resetPendingRemoteDrops()
  }

  test("cluster: TTL reap of executor-resident state matches the driver backend across JVMs") {
    // windowed simhash corpus with the three-case schedule: in-window
    // near-dup → suppressed; re-crawl after every seen-time aged out →
    // admitted; copy inside the re-crawl's refreshed window → suppressed.
    // Compaction reaps ride every batch, so the executor shards are
    // invalidated and REBUILT from the reaped store across real JVMs.
    def base(i: Int) = (0 until 24).map(j => s"d${i}w$j").mkString(" ")
    val rows = (0 until 30).map { i =>
      (i.toLong, base(i), s"2024-01-01 0${i % 6}:00:00")
    } ++ Seq(
      // exact copies (simhash distance 0 — deterministic), so the three
      // window cases depend ONLY on the ts schedule
      (100L, base(0), "2024-01-01 06:00:00"), // in-window → suppressed
      (101L, base(1), "2024-01-03 00:00:00"), // aged out → admitted
      (102L, base(1), "2024-01-03 06:00:00")  // inside 101's window → suppressed
    )
    val df = rows.toDF("id", "body", "tss")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def run(backend: String): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory("graft_cl8").toString
      val eng = new ContViewEngine(spark, s"$root/eng")
      eng.createStream("xt_in", df.schema)
      eng.createStream("xt_out", org.apache.spark.sql.types.StructType(
        df.schema.fields :+ org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.LongType)))
      eng.createContView("v_xt", "SELECT id FROM xt_out", emitChanges = false)
      val g = SimHashNearDupGate.create(eng, "xt_gate",
        "SELECT id, body, ts FROM xt_in", textSql = "body", orderCol = "id",
        sink = "xt_out", storeRoot = s"$root/gate", maxDist = 3,
        backend = backend, stateParts = 4,
        ttlMillis = 24L * 3600 * 1000, ttlColumn = "ts")
      eng.insertInto("xt_in", df.where(col("id") < 100))
      g.compact() // reap: every later batch probes REBUILT post-reap shards
      eng.insertInto("xt_in", df.where(col("id") === 100))
      g.compact()
      eng.insertInto("xt_in", df.where(col("id") > 100))
      eng.overlay("v_xt").collect().map(_.getLong(0)).toSet
    }
    val expected = run(StreamDedupGate.DriverBackend)
    assert(expected.contains(101L) && !expected.contains(100L) &&
      !expected.contains(102L), s"fixture must exercise all 3 window cases: $expected")
    assert(run(StreamDedupGate.ExecutorBackend) === expected,
      "windowed executor backend diverged from driver across real JVM boundaries")
  }

  test("cluster: contamination gate's static reference membership on executor shards") {
    // reference docs 0-7; streamed docs where every 4th embeds a verbatim
    // reference 3-gram — the membership question ("is this gram in the
    // reference?") answered by executor-resident seen-key shards
    // across real JVM boundaries, no driver bloom at all
    def doc(i: Int, n: Int) = (0 until n).map(j => s"r${i}g$j").mkString(" ")
    val ref = (0 until 8).map(i => (i.toLong, doc(i, 20))).toDF("id", "body")
    val stream = (100 until 160).map { i =>
      val t =
        if (i % 4 == 0) doc(i, 18) + " " + doc(i % 8, 20).split(" ").slice(5, 8).mkString(" ")
        else doc(i, 18)
      (i.toLong, t)
    }.toDF("id", "body")
    def run(backend: String): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory("graft_cl9").toString
      val eng = new ContViewEngine(spark, s"$root/eng")
      val schema = Seq((0L, "x")).toDF("id", "body").schema
      eng.createStream("xm_in", schema)
      eng.createStream("xm_out", schema)
      eng.createContView("v_xm", "SELECT id FROM xm_out", emitChanges = false)
      val g = ContaminationGate.create(eng, "xm_gate",
        "SELECT id, body FROM xm_in", textSql = "body", orderCol = "id",
        sink = "xm_out", storeRoot = s"$root/gate",
        reference = ref, refTextCol = "body",
        backend = backend, stateParts = 4)
      eng.insertInto("xm_in", stream.where(col("id") < 130))
      eng.insertInto("xm_in", stream.where(col("id") >= 130))
      if (backend == StreamDedupGate.ExecutorBackend) {
        assert(g.cores(0).driverBloomForSpec == null)
        assert(ExecutorGateState.registeredUnder(s"$root/gate") === 0,
          "reference shards must live in the executor JVMs, not the driver")
      }
      eng.overlay("v_xm").collect().map(_.getLong(0)).toSet
    }
    val expected = run(StreamDedupGate.DriverBackend)
    assert(expected === (100 until 160).filter(_ % 4 != 0).map(_.toLong).toSet,
      "exactly the reference-gram carriers must be suppressed")
    assert(run(StreamDedupGate.ExecutorBackend) === expected,
      "contamination membership diverged across real JVM boundaries")
  }

  test("cluster: exactly-once delivery composes with executor shards across a crash") {
    val root = java.nio.file.Files.createTempDirectory("graft_cl5").toString
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
  }
}
