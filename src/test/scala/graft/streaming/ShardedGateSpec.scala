package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.SharedSpark

/** The sharded gates' one invariant: G key-slice cores admit EXACTLY the
  * set the unsharded gate admits — sharding is a throughput topology, not
  * a semantics change. Each gate family runs the same multi-batch feed
  * (with cross-batch repeats and a mid-feed engine restart) through an
  * unsharded gate and a G=3 sharded one and compares admitted sets; plus
  * the shard-count store stamp and the DDL spelling.
  */
class ShardedGateSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")

  /** 60 docs + exact copies of every 3rd + high-overlap variants of every
    * 4th: exercises exact, simhash, and jaccard suppression at once. */
  private def textCorpus: DataFrame = {
    val rng = new scala.util.Random(7)
    val base = (0 until 60).map { i =>
      (i.toLong, (0 until 30).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val copies = base.filter(_._1 % 3 == 0).map { case (id, t) => (id + 1000L, t) }
    val nears = base.filter(_._1 % 4 == 0).map { case (id, t) =>
      val w = t.split(" "); w(7) = "zz"; (id + 2000L, w.mkString(" "))
    }
    (base ++ copies ++ nears).toDF("id", "body")
  }

  private val dim = 16

  private def embCorpus: DataFrame = {
    val rng = new scala.util.Random(31)
    val base = (0 until 60).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian()))
    }
    val dups = base.filter(_._1 % 4 == 0).map { case (id, v) =>
      (id + 5000L, v.map(_ * 1.001 + 1e-4))
    }
    (base ++ dups).toDF("id", "embedding")
  }

  /** Three batches with a "crash" (fresh engine handle, same roots)
    * between batch 2 and 3. `build` runs the setup script on an engine
    * (idempotent — runs once per incarnation). */
  private def feedWithRestart(root: String, inStream: String,
      build: ContViewEngine => Unit, corpus: DataFrame,
      splits: Seq[(Long, Long)]): ContViewEngine = {
    val eng1 = new ContViewEngine(spark, s"$root/eng1")
    build(eng1)
    splits.dropRight(1).foreach { case (lo, hi) =>
      eng1.insertInto(inStream, corpus.where(col("id") >= lo && col("id") < hi))
    }
    val eng2 = new ContViewEngine(spark, s"$root/eng2")
    build(eng2)
    val (lo, hi) = splits.last
    eng2.insertInto(inStream, corpus.where(col("id") >= lo && col("id") < hi))
    eng2
  }

  // the post-restart engine's view sees only the LAST batch, so it must
  // carry fresh content (ids 40-59) alongside the seeded repeats
  private val splits = Seq((Long.MinValue, 20L), (20L, 40L), (40L, Long.MaxValue))

  private def admittedIds(eng: ContViewEngine, view: String): Set[Long] =
    eng.overlay(view).select("id").collect().map(_.getLong(0)).toSet

  test("exact dedup gate: sharded G=3 admits the identical set, through a restart") {
    val corpus = textCorpus
    def run(shards: Int): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory(s"graft_shd$shards").toString
      val schema = corpus.schema
      val eng = feedWithRestart(root, "sd_in", { e =>
        e.createStream("sd_in", schema)
        e.createStream("sd_out", org.apache.spark.sql.types.StructType(
          schema.fields :+ org.apache.spark.sql.types.StructField("h",
            org.apache.spark.sql.types.StringType)))
        StreamDedupGate.create(e, "sd_gate", "SELECT id, body FROM sd_in",
          keySql = "md5(body)", orderCol = "id", sink = "sd_out",
          storeRoot = s"$root/gate", shards = shards)
        e.createContView("v_sd", "SELECT id FROM sd_out", emitChanges = false)
      }, corpus, splits)
      admittedIds(eng, "v_sd")
    }
    val unsharded = run(1)
    assert(unsharded.nonEmpty && unsharded.size < corpus.count())
    assert(run(3) === unsharded)
  }

  test("simhash near-dup gate: sharded G=3 admits the identical set, through a restart") {
    val corpus = textCorpus
    def run(shards: Int): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory(s"graft_shn$shards").toString
      val schema = corpus.schema
      val eng = feedWithRestart(root, "sn_in", { e =>
        e.createStream("sn_in", schema)
        e.createStream("sn_out", org.apache.spark.sql.types.StructType(
          schema.fields :+ org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.LongType)))
        SimHashNearDupGate.create(e, "sn_gate", "SELECT id, body FROM sn_in",
          textSql = "body", orderCol = "id", sink = "sn_out",
          storeRoot = s"$root/gate", shards = shards)
        e.createContView("v_sn", "SELECT id FROM sn_out", emitChanges = false)
      }, corpus, splits)
      admittedIds(eng, "v_sn")
    }
    val unsharded = run(1)
    assert(unsharded.nonEmpty && unsharded.size < corpus.count())
    assert(run(3) === unsharded)
  }

  test("jaccard gate: sharded G=3 admits the identical set, through a restart") {
    val corpus = textCorpus
    def run(shards: Int): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory(s"graft_shj$shards").toString
      val schema = corpus.schema
      val eng = feedWithRestart(root, "sj_in", { e =>
        e.createStream("sj_in", schema)
        e.createStream("sj_out", schema)
        JaccardNearDupGate.create(e, "sj_gate", "SELECT id, body FROM sj_in",
          textSql = "body", orderCol = "id", sink = "sj_out",
          storeRoot = s"$root/gate", threshold = 0.6, shards = shards)
        e.createContView("v_sj", "SELECT id FROM sj_out", emitChanges = false)
      }, corpus, splits)
      admittedIds(eng, "v_sj")
    }
    val unsharded = run(1)
    assert(unsharded.nonEmpty && unsharded.size < corpus.count())
    assert(run(3) === unsharded)
  }

  test("cosine gate: sharded G=3 admits the identical set, through a restart") {
    val corpus = embCorpus
    def run(shards: Int): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory(s"graft_shc$shards").toString
      val schema = corpus.schema
      val eng = feedWithRestart(root, "sc_in", { e =>
        e.createStream("sc_in", schema)
        e.createStream("sc_out", schema)
        CosineNearDupGate.create(e, "sc_gate", "SELECT id, embedding FROM sc_in",
          embSql = "embedding", orderCol = "id", sink = "sc_out",
          storeRoot = s"$root/gate", threshold = 0.97, dim = dim, shards = shards,
          numTables = 6, bitsPerTable = 8)
        e.createContView("v_sc", "SELECT id FROM sc_out", emitChanges = false)
      }, corpus, splits)
      admittedIds(eng, "v_sc")
    }
    val unsharded = run(1)
    assert(unsharded.nonEmpty && unsharded.size < corpus.count())
    assert(run(3) === unsharded)
  }

  test("contamination gate: sharded G=3 admits the identical set, through a restart") {
    val corpus = textCorpus.where($"id" >= 5 && $"id" < 1000)
    val reference = textCorpus.where($"id" < 5).select($"body".as("text"))
    def run(shards: Int): Set[Long] = {
      val root = java.nio.file.Files.createTempDirectory(s"graft_shx$shards").toString
      val schema = corpus.schema
      val eng = feedWithRestart(root, "sx_in", { e =>
        e.createStream("sx_in", schema)
        e.createStream("sx_out", schema)
        ContaminationGate.create(e, "sx_gate", "SELECT id, body FROM sx_in",
          textSql = "body", orderCol = "id", sink = "sx_out",
          storeRoot = s"$root/gate", reference = reference, shards = shards)
        e.createContView("v_sx", "SELECT id FROM sx_out", emitChanges = false)
      }, corpus, splits)
      admittedIds(eng, "v_sx")
    }
    val unsharded = run(1)
    assert(unsharded.nonEmpty && unsharded.size < corpus.count())
    assert(run(3) === unsharded)
  }

  test("exactly-once delivery composes with sharding (disjoint key slices, per-core epochs)") {
    val corpus = textCorpus
    val root = java.nio.file.Files.createTempDirectory("graft_sheo").toString
    val schema = corpus.schema
    val eng = feedWithRestart(root, "se_in", { e =>
      e.createStream("se_in", schema)
      e.createStream("se_out", org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType)))
      StreamDedupGate.create(e, "se_gate", "SELECT id, body FROM se_in",
        keySql = "md5(body)", orderCol = "id", sink = "se_out",
        storeRoot = s"$root/gate", shards = 3,
        delivery = StreamDedupGate.ExactlyOnce)
      e.createContView("v_se", "SELECT id, count(*) AS c FROM se_out GROUP BY id",
        emitChanges = false)
    }, corpus, splits)
    val out = eng.overlay("v_se").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // post-restart view sees the last batch only: fresh ids 40-59 admitted
    // once each; the +1000/+2000 seeded repeats of ids >= 40 resolve
    // against the cross-restart stores
    assert(out.values.forall(_ == 1L), "no duplicate deliveries")
    assert(out.keySet.filter(_ < 1000L) === (40L until 60L).toSet)
  }

  test("shard count is store identity: reopening under a different G is refused") {
    val root = java.nio.file.Files.createTempDirectory("graft_shg").toString
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    val eng = new ContViewEngine(spark, s"$root/eng1")
    eng.createStream("sg_in", schema)
    eng.createStream("sg_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType)))
    StreamDedupGate.create(eng, "sg_gate", "SELECT id, body FROM sg_in",
      keySql = "md5(body)", orderCol = "id", sink = "sg_out",
      storeRoot = s"$root/gate", shards = 2)
    val eng2 = new ContViewEngine(spark, s"$root/eng2")
    eng2.createStream("sg_in", schema)
    eng2.createStream("sg_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType)))
    val e = intercept[IllegalArgumentException] {
      StreamDedupGate.create(eng2, "sg_gate", "SELECT id, body FROM sg_in",
        keySql = "md5(body)", orderCol = "id", sink = "sg_out",
        storeRoot = s"$root/gate", shards = 4)
    }
    assert(e.getMessage.contains("geometry"))
  }

  test("DDL spelling: dedup_gate with a shards argument builds the sharded gate") {
    val root = java.nio.file.Files.createTempDirectory("graft_shddl").toString
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    val eng = new ContViewEngine(spark, root)
    eng.createStream("dg_in", schema)
    eng.createStream("dg_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType)))
    eng.sql("""CREATE VIEW dg_gate WITH (action = transform, sink = 'dg_out',
              |  outputfunc = dedup_gate('md5(body)', 'id', 3)) AS
              |SELECT id, body FROM dg_in""".stripMargin)
    assert(eng.gateOf("dg_gate").exists(_.shardCount == 3))
    eng.createContView("v_dg", "SELECT id FROM dg_out", emitChanges = false)
    eng.insertInto("dg_in", Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("id", "body"))
    eng.insertInto("dg_in", Seq((4L, "bb"), (5L, "cc")).toDF("id", "body"))
    assert(admittedIds(eng, "v_dg") === Set(1L, 2L, 5L))
  }
}
