package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.SharedSpark

/** Brute-force semantics of the decontamination gate: admitted(d) iff d
  * shares NO word 3-gram with the reference corpus — order-independent,
  * invariant across batch splits, resumable from the persisted reference
  * store without re-seeding. The oracle row (q_contamination_stream)
  * checks the full admitted set end-to-end; this spec pins the unit
  * semantics (short/null text, batch splits, restart, stats).
  */
class ContaminationGateSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val vocab = (0 until 60).map(i => s"w$i")

  private def mkDoc(rng: scala.util.Random, words: Int): String =
    (0 until words).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")

  /** reference: 8 docs; stream: 40 docs, every 4th embedding a verbatim
    * 5-word span of a reference doc (guaranteed shared 3-gram). */
  private def fixture(): (DataFrame, DataFrame) = {
    val rng = new scala.util.Random(41)
    val ref = (0 until 8).map(i => (i.toLong, mkDoc(rng, 30)))
    val stream = (100 until 140).map { i =>
      val base = mkDoc(rng, 25)
      val text =
        if (i % 4 == 0) {
          val r = ref((i / 4) % ref.size)._2.split(" ").slice(3, 8).mkString(" ")
          base + " " + r
        } else base
      (i.toLong, text)
    }
    (ref.toDF("id", "body"), stream.toDF("id", "body"))
  }

  private def grams(text: String): Set[String] = {
    val t = Option(text).getOrElse("").split(" ").filter(_.nonEmpty)
    if (t.length < 3) Set.empty
    else t.sliding(3).map(_.mkString(" ")).toSet
  }

  private def expectedAdmitted(ref: DataFrame, stream: DataFrame): Set[Long] = {
    val refGrams = ref.collect().flatMap(r => grams(r.getString(1))).toSet
    stream.collect()
      .filter(r => grams(r.getString(1)).intersect(refGrams).isEmpty)
      .map(_.getLong(0)).toSet
  }

  private def runGate(root: String, engSuffix: String, ref: DataFrame,
      batches: Seq[DataFrame],
      backend: String = StreamDedupGate.DriverBackend,
      afterBatch: ShardedGate[ContaminationGate] => Unit = _ => ())
      : (ContViewEngine, ShardedGate[ContaminationGate]) = {
    val eng = new ContViewEngine(spark, root + "/eng" + engSuffix)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("d_in", schema)
    eng.createStream("d_out", schema)
    // deliberately tiny bloom: false positives only cost store reads
    val g = ContaminationGate.create(eng, "d_gate",
      "SELECT id, body FROM d_in", textSql = "body", orderCol = "id",
      sink = "d_out", storeRoot = root + "/gate",
      reference = ref, refTextCol = "body", bloomP = 0.2, bloomN = 64,
      backend = backend, stateParts = if (backend == "executor") 3 else 0)
    eng.createContView("v_d", "SELECT id FROM d_out", emitChanges = false)
    batches.foreach { b => eng.insertInto("d_in", b); afterBatch(g) }
    (eng, g)
  }

  private def admitted(eng: ContViewEngine): Set[Long] =
    eng.overlay("v_d").collect().map(_.getLong(0)).toSet

  test("admitted set equals gram-overlap brute force, across batch splits") {
    val (ref, stream) = fixture()
    val expected = expectedAdmitted(ref, stream)
    // every doc carrying a verbatim reference span must be out; most
    // purely-random docs stay in (a few may collide naturally)
    assert((100 until 140 by 4).forall(i => !expected.contains(i.toLong)))
    assert(expected.size < 40 && expected.size >= 20,
      s"fixture must actually exercise suppression (got ${expected.size})")
    val r1 = java.nio.file.Files.createTempDirectory("graft_ct1").toString
    assert(admitted(runGate(r1, "a", ref, Seq(stream))._1) === expected,
      "single batch")
    val r2 = java.nio.file.Files.createTempDirectory("graft_ct2").toString
    val (e2, g2) = runGate(r2, "a", ref,
      Seq(stream.where(col("id") < 120), stream.where(col("id") >= 120)))
    assert(admitted(e2) === expected, "two-batch feed admits the same set")
    val (b, adm, sup) = g2.stats
    assert(b === 2L && adm === expected.size.toLong &&
      sup === (40 - expected.size).toLong)
  }

  test("short and null texts have no grams and always pass") {
    val (ref, _) = fixture()
    val root = java.nio.file.Files.createTempDirectory("graft_ct3").toString
    val shorties = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]),
      (3L, ""), (4L, ref.collect()(0).getString(1))).toDF("id", "body")
    val (eng, g) = runGate(root, "a", ref, Seq(shorties))
    assert(admitted(eng) === Set(1L, 2L, 3L),
      "sub-gram docs pass; the verbatim reference copy is suppressed")
    assert(g.stats === ((1L, 3L, 1L)))
  }

  test("restart: re-created gate reuses the persisted reference store") {
    val (ref, stream) = fixture()
    val expected = expectedAdmitted(ref, stream)
    val root = java.nio.file.Files.createTempDirectory("graft_ct4").toString
    runGate(root, "1", ref, Seq(stream.where(col("id") < 120))) // then "crash"
    // the restarted incarnation gets an EMPTY reference frame: the store
    // must already be seeded and must not be re-derived
    val emptyRef = ref.where(lit(false))
    val (e2, _) = runGate(root, "2", emptyRef, Seq(stream.where(col("id") >= 120)))
    assert(admitted(e2) === expected.filter(_ >= 120L),
      "post-restart batches gate against the persisted reference")
  }

  test("executor backend: same admitted set, NO driver bloom, restart rebuilds shards") {
    val (ref, stream) = fixture()
    val expected = expectedAdmitted(ref, stream)
    val root = java.nio.file.Files.createTempDirectory("graft_ct5").toString
    val (e1, g1) = runGate(root, "x", ref,
      Seq(stream.where(col("id") < 120)),
      backend = StreamDedupGate.ExecutorBackend)
    assert(admitted(e1) === expected.filter(_ < 120L))
    assert(g1.cores(0).driverBloomForSpec == null,
      "executor backend must build NO driver bloom")
    assert(g1.cores(0).executorSeen != null && g1.cores(0).executorSeen.parts === 3)
    // "crash" + restart with an EMPTY reference frame: the persisted store
    // must feed the new incarnation's shard rebuild, not a re-seed
    val (e2, _) = runGate(root, "y", ref.where(lit(false)),
      Seq(stream.where(col("id") >= 120)),
      backend = StreamDedupGate.ExecutorBackend)
    assert(admitted(e2) === expected.filter(_ >= 120L),
      "post-restart executor shards must rebuild from the persisted reference")
  }

  test("executor backend: a poisoned reference shard rebuilds and admits identically") {
    // the static membership store's stale path: it never takes a delta, so
    // only a rebuild from the persisted reference store can heal a shard
    val (ref, stream) = fixture()
    val expected = expectedAdmitted(ref, stream)
    val split = Seq(stream.where(col("id") < 113),
      stream.where(col("id") >= 113 && col("id") < 126), stream.where(col("id") >= 126))
    def run(poison: Boolean): (Set[Long], Seq[Int]) = {
      val root = java.nio.file.Files.createTempDirectory("graft_ctp").toString
      val rebuilds = Seq.newBuilder[Int]
      val (eng, _) = runGate(root, "p", ref, split,
        backend = StreamDedupGate.ExecutorBackend, afterBatch = { g =>
          val seen = g.cores(0).executorSeen
          rebuilds += seen.rebuilds
          if (poison) seen.poisonShard(0)
        })
      (admitted(eng), rebuilds.result())
    }
    val (clean, cleanRebuilds) = run(poison = false)
    assert(clean === expected)
    assert(cleanRebuilds.last === cleanRebuilds.head,
      s"no rebuild without a poisoned shard: $cleanRebuilds")
    val (admittedP, poisoned) = run(poison = true)
    assert(admittedP === expected, "a rebuilt reference store must decide identically")
    assert(poisoned.last - poisoned.head === 2,
      s"each poisoned batch must run one reference rebuild: $poisoned")
  }

  test("executor backend: DDL spelling + catalog replay; drop frees the shard registry") {
    val (ref, stream) = fixture()
    val expected = expectedAdmitted(ref, stream)
    val root = java.nio.file.Files.createTempDirectory("graft_ct6").toString
    ref.createOrReplaceTempView("ct_ref_exec_spec")
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    def setup(eng: ContViewEngine): ContViewEngine = {
      eng.createStream("d_in", schema)
      eng.createStream("d_out", schema)
      eng.sql("""CREATE VIEW d_gate WITH (action = transform, sink = 'd_out',
                |  backend = 'executor', state_parts = 3,
                |  outputfunc = contamination_gate('body', 'id',
                |    'SELECT body AS text FROM ct_ref_exec_spec')) AS
                |SELECT id, body FROM d_in""".stripMargin)
      eng.createContView("v_d", "SELECT id FROM d_out", emitChanges = false)
      eng
    }
    val e1 = setup(new ContViewEngine(spark, root))
    e1.insertInto("d_in", stream.where(col("id") < 120))
    // mid-feed restart: the catalog must replay backend + state_parts
    val e2 = setup(new ContViewEngine(spark, root))
    e2.insertInto("d_in", stream.where(col("id") >= 120))
    assert(admitted(e2) === expected,
      "DDL-declared executor contamination gate diverged")
    // placement telemetry: graft_gate_stats names the tier and the
    // RESOLVED shard count
    val st = e2.gateStats().where(col("gate") === "d_gate")
      .select("backend", "stateParts").collect()(0)
    assert(st.getString(0) === "executor" && st.getInt(1) === 3,
      s"gate stats must carry placement: $st")
    val gateDir = java.nio.file.Paths.get(root, "d_gate")
      .toAbsolutePath.toString
    assert(ExecutorGateState.registeredUnder(gateDir) > 0,
      "live gate must hold shard registry entries (local[n]: same JVM)")
    e2.dropContTransform("d_gate")
    assert(ExecutorGateState.registeredUnder(gateDir) === 0,
      "drop must free the executor shard registry")
  }

  test("executor backend composes with exactly-once delivery across a crash") {
    val (ref, stream) = fixture()
    val expected = expectedAdmitted(ref, stream)
    val root = java.nio.file.Files.createTempDirectory("graft_ct8").toString
    val eng = new ContViewEngine(spark, root)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("d_in", schema)
    eng.createStream("d_out", schema)
    // counting CV: c = 1 everywhere pins exactly-once across the retry
    eng.createContView("v_dc", "SELECT id, count(*) AS c FROM d_out GROUP BY id",
      emitChanges = false)
    val g = ContaminationGate.create(eng, "d_gate",
      "SELECT id, body FROM d_in", textSql = "body", orderCol = "id",
      sink = "d_out", storeRoot = root + "/gate",
      reference = ref, refTextCol = "body",
      delivery = StreamDedupGate.ExactlyOnce,
      backend = StreamDedupGate.ExecutorBackend, stateParts = 3)
    eng.insertInto("d_in", stream.where(col("id") < 120))
    // crash BETWEEN the epoch spool and its delivery marker; the upstream
    // retry re-feeds the same batch — recovery must deliver the spooled
    // epoch once and the retry-dedup window must swallow the re-feed
    g.epochs.failAt = "after-spool"
    val crashed = try {
      eng.insertInto("d_in", stream.where(col("id") >= 120)); false
    } catch { case _: Exception => true }
    assert(crashed, "failpoint must fire")
    eng.insertInto("d_in", stream.where(col("id") >= 120))
    val counts = eng.overlay("v_dc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts.keySet === expected,
      "exactly-once exec gate admitted set diverged")
    assert(counts.values.forall(_ == 1L),
      s"every admitted row exactly once: ${counts.filter(_._2 != 1L)}")
  }

  test("repeated recovery of a stuck epoch does not flush the retry-dedup window") {
    // commitRecovered runs at EVERY recovery attempt of a pending epoch;
    // it must be idempotent — before the lastRememberedEpoch guard, each
    // failed delivery retry pushed another copy of the stuck epoch's ids
    // into the 8-slot window, evicting the older epochs and re-admitting
    // an upstream's re-feed of them
    val (ref, stream) = fixture()
    val root = java.nio.file.Files.createTempDirectory("graft_ct9").toString
    val eng = new ContViewEngine(spark, root)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("d_in", schema)
    eng.createStream("d_out", schema)
    eng.createContView("v_dc", "SELECT id, count(*) AS c FROM d_out GROUP BY id",
      emitChanges = false)
    val g = ContaminationGate.create(eng, "d_gate",
      "SELECT id, body FROM d_in", textSql = "body", orderCol = "id",
      sink = "d_out", storeRoot = root + "/gate",
      reference = ref, refTextCol = "body",
      delivery = StreamDedupGate.ExactlyOnce)
    eng.insertInto("d_in", stream.where(col("id") < 110))   // epoch 1
    eng.insertInto("d_in",
      stream.where(col("id") >= 110 && col("id") < 120))    // epoch 2
    eng.insertInto("d_in",
      stream.where(col("id") >= 120 && col("id") < 125))    // epoch 3
    // epoch 4 crashes after its spool committed — pending, undelivered
    g.epochs.failAt = "after-spool"
    intercept[Exception] {
      eng.insertInto("d_in",
        stream.where(col("id") >= 125 && col("id") < 130))
    }
    // ten recovery attempts that each fail between delivery and marker
    (0 until 10).foreach { _ =>
      g.epochs.failAt = "after-deliver"
      intercept[Exception] { g.recover() }
    }
    g.recover() // epoch 4 finally completes
    // upstream re-feed of epoch 2 (well inside RetryWindowEpochs = 8):
    // the window must still suppress every row
    eng.insertInto("d_in",
      stream.where(col("id") >= 110 && col("id") < 120))
    val counts = eng.overlay("v_dc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val epoch2Admitted = counts.filter { case (id, _) => id >= 110 && id < 120 }
    assert(epoch2Admitted.values.forall(_ == 1L),
      s"re-fed epoch-2 rows must stay window-suppressed: $epoch2Admitted")
  }

  test("a transient failure inside commitRecovered leaves the window repairable") {
    // the guard must advance only AFTER the epoch's ids are remembered: if
    // the spool collect dies transiently with the guard already set, every
    // later recovery attempt early-returns and the retry-dedup window
    // permanently misses that epoch — an upstream re-feed of it would then
    // be re-admitted (duplicates under exactly-once)
    val (ref, _) = fixture()
    val root = java.nio.file.Files.createTempDirectory("graft_ctw").toString
    val eng = new ContViewEngine(spark, root)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("d_in", schema)
    eng.createStream("d_out", schema)
    val g = ContaminationGate.create(eng, "d_gate",
      "SELECT id, body FROM d_in", textSql = "body", orderCol = "id",
      sink = "d_out", storeRoot = root + "/gate",
      reference = ref, refTextCol = "body",
      delivery = StreamDedupGate.ExactlyOnce)
    val boom = udf((x: Long) => {
      if (x >= 0) throw new RuntimeException("transient collect failure")
      x
    })
    val failing = spark.range(1).select(boom(col("id")).as("id"), lit("t").as("body"))
    intercept[Exception] { g.cores(0).commitRecovered(failing, 5L) }
    // the SAME epoch recovers on retry — its ids must land in the window
    g.cores(0).commitRecovered(Seq((500L, "t"), (501L, "t")).toDF("id", "body"), 5L)
    val sup = new java.util.HashSet[Any]()
    g.cores(0).retrySuppress(Seq((500L, "t"), (502L, "t")).toDF("id", "body"), sup)
    assert(sup.contains(500L) && !sup.contains(502L),
      s"the retried epoch's ids must be window-suppressed, got $sup")
  }

  test("corrupt spool surfacing mid-recovery is quarantined; transient errors rethrow") {
    val (ref, stream) = fixture()
    val root = java.nio.file.Files.createTempDirectory("graft_ctq").toString
    val eng = new ContViewEngine(spark, root)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("d_in", schema)
    eng.createStream("d_out", schema)
    eng.createContView("v_d", "SELECT id FROM d_out", emitChanges = false)
    val g = ContaminationGate.create(eng, "d_gate",
      "SELECT id, body FROM d_in", textSql = "body", orderCol = "id",
      sink = "d_out", storeRoot = root + "/gate",
      reference = ref, refTextCol = "body",
      delivery = StreamDedupGate.ExactlyOnce)
    g.epochs.failAt = "after-spool"
    intercept[Exception] {
      eng.insertInto("d_in", stream.where(col("id") < 110))
    }
    // transient error mid-recovery: rethrown, spool intact
    g.epochs.failAt = "recover-epoch"
    g.epochs.failWith = new java.io.IOException("fs hiccup")
    intercept[Exception] { g.recover() }
    def spoolFiles(suffix: String): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
        while (it.hasNext) {
          val p = it.next()
          if (p.toString.contains("spool") &&
            p.getFileName.toString.endsWith(suffix)) buf += p
        }
        buf.toSeq
      } finally s.close()
    }
    assert(spoolFiles(".parquet.corrupt").isEmpty &&
      spoolFiles(".parquet").nonEmpty,
      "transient recovery error must not quarantine the spool")
    // corrupt-decode error mid-recovery: quarantined, recovery completes
    g.epochs.failAt = "recover-epoch"
    g.epochs.failWith =
      new org.apache.parquet.io.ParquetDecodingException("Can not read value")
    g.recover()
    assert(spoolFiles(".parquet.corrupt").nonEmpty,
      "decode-time corruption must quarantine the epoch's spool")
    // the gate keeps working past the quarantined epoch
    eng.insertInto("d_in", stream.where(col("id") >= 110 && col("id") < 115))
    assert(admitted(eng).nonEmpty)
  }

  test("executor backend does not compose with driver-core sharding") {
    val (ref, _) = fixture()
    val root = java.nio.file.Files.createTempDirectory("graft_ct7").toString
    ref.createOrReplaceTempView("ct_ref_exec_spec2")
    val eng = new ContViewEngine(spark, root)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("d_in", schema)
    eng.createStream("d_out", schema)
    val ex = intercept[IllegalArgumentException] {
      eng.sql("""CREATE VIEW d_gate WITH (action = transform, sink = 'd_out',
                |  backend = 'executor',
                |  outputfunc = contamination_gate('body', 'id',
                |    'SELECT body AS text FROM ct_ref_exec_spec2', 3, 2)) AS
                |SELECT id, body FROM d_in""".stripMargin)
    }
    assert(ex.getMessage.contains("does not compose"))
  }
}
