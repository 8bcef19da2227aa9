package graft.io

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.streaming.{GateStore, ShardedGate, SimHashNearDupGate, StreamDedupGate}
import graft.SharedSpark

/** The THIRD root flavor (round 18): engine and gate stores on a
  * REGISTERED OBJECT-STORE SCHEME — `graftmem://…` roots whose metadata
  * half routes through [[ObjectStoreFs]] (conditional-PUT commit points,
  * segmented catalog journal, etag CAS publishes) and whose bulk parquet
  * IO rides [[BlobFileSystem]] over the SAME [[MemBlobStore]]. This is
  * the S3-class deployment shape executable end to end: what
  * HadoopRootSpec/GateHadoopRootSpec prove for rename filesystems, this
  * battery proves for a no-rename store — same assertions, different
  * commit-point mechanics underneath (no `.prev` asides exist here).
  *
  * Single-JVM by nature (the registry and the in-memory store are
  * JVM-local); a cluster deployment registers a real S3 adapter on every
  * JVM instead.
  */
class ObjectRootSpec extends AnyFunSuite with SharedSpark {

  private val store = new MemBlobStore

  override protected def configure(s: SparkSession): Unit = {
    StoreFs.registerObjectScheme("graftmem", store)
    s.sparkContext.hadoopConfiguration.set(
      "fs.graftmem.impl", classOf[BlobFileSystem].getName)
  }

  import spark.implicits._

  private val tag = new java.util.concurrent.atomic.AtomicInteger()
  private def objRoot(t: String): String =
    s"graftmem://bucket/$t${tag.incrementAndGet()}"

  // ---- plumbing sanity ---------------------------------------------------

  test("bulk parquet IO round-trips through BlobFileSystem on the " +
      "registered scheme (write commit protocol included)") {
    val root = objRoot("pq")
    val df = (1 to 100).map(i => (i.toLong, s"row$i")).toDF("id", "s")
    df.write.parquet(s"$root/t")
    val back = spark.read.parquet(s"$root/t")
    assert(back.count() === 100L)
    assert(back.where($"id" === 42L).select("s").collect()
      .map(_.getString(0)).toSeq === Seq("row42"))
    // and the seam sees the same namespace: StoreFs lists the files
    // Spark wrote
    val fs = StoreFs.forRoot(root)
    assert(fs.isInstanceOf[ObjectStoreFs], "registry routes the scheme")
    assert(fs.list(s"$root/t").exists(_.endsWith(".parquet")))
  }

  // ---- distilled CV battery ---------------------------------------------

  private val cvSchema = StructType(Seq(
    StructField("key", StringType), StructField("v", DoubleType),
    StructField("ts", TimestampType)))
  private val t0 = Timestamp.valueOf("2024-06-01 00:00:00")
  private def tAt(sec: Long) = new Timestamp(t0.getTime + sec * 1000)
  private val cvRows: Seq[(String, Double, Timestamp)] =
    (1 to 600).map(i => (s"k${i % 5}", i.toDouble, tAt(i.toLong)))
  private def cvBatch(rows: Seq[(String, Double, Timestamp)]): DataFrame =
    rows.toDF("key", "v", "ts")
  private def counts(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("CV ingest + overlay + restart replay on the object root: the " +
      "segmented catalog journal and conditional-PUT manifest swaps hold") {
    val root = objRoot("cv")
    val eng1 = new ContViewEngine(spark, root)
    eng1.createStream("os", cvSchema)
    eng1.createContView("v_o",
      "SELECT key, count(*) AS n, sum(v) AS sv FROM os GROUP BY key",
      emitChanges = false)
    cvRows.take(300).grouped(100).foreach(c => eng1.insertInto("os", cvBatch(c)))
    // "restart": a fresh engine replays the catalog journal — which on
    // this root is a CONCATENATION of put-if-absent segment objects
    val eng2 = new ContViewEngine(spark, root)
    eng2.insertInto("os", cvBatch(cvRows.drop(300)))
    val got = counts(eng2.overlay("v_o").select("key", "n"))
    val want = cvRows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got === want, "pre-restart state + post-restart batch")
    // no `.prev` asides anywhere: the window they cover does not exist
    // on a conditional-PUT store
    assert(!store.listPrefix(root).exists(_.endsWith(".prev")),
      "no rename-era aside artifacts on the object root")
    eng2.dropContView("v_o"); eng2.dropStream("os")
  }

  test("ALTER VIEW RENAME (copy+delete move), TTL reap, truncate on the " +
      "object root") {
    val root = objRoot("cvr")
    val eng = new ContViewEngine(spark, root)
    eng.createStream("orn", cvSchema)
    eng.createContView("v_old",
      "SELECT key, max(ts) AS latest, count(*) AS n FROM orn GROUP BY key",
      graft.cv.CvPlanner.CvOptions(ttl = Some("1 second"),
        ttlColumn = Some("latest")),
      emitChanges = false)
    eng.insertInto("orn", cvBatch(cvRows.take(200)))
    eng.renameContView("v_old", "v_new")
    eng.insertInto("orn", cvBatch(cvRows.slice(200, 400)))
    val got = counts(eng.overlay("v_new").select("key", "n"))
    val want = cvRows.take(400).groupBy(_._1).view
      .mapValues(_.size.toLong).toMap
    assert(got === want, "state carried across the copy+delete rename")
    eng.expireTtl("v_new", Some(tAt(100000)))
    assert(eng.overlay("v_new").count() === 0, "everything expired")
    eng.truncateContView("v_new")
    eng.insertInto("orn", cvBatch(cvRows.take(100)))
    assert(eng.overlay("v_new").count() > 0, "store usable after truncate")
    eng.dropContView("v_new"); eng.dropStream("orn")
  }

  // ---- distilled gate exactly-once crash battery -------------------------

  private val gSchema = Seq((0L, "x")).toDF("id", "body").schema

  private def buildGate(root: String,
      engSuffix: String): (ContViewEngine, ShardedGate[StreamDedupGate]) = {
    val eng = new ContViewEngine(spark, s"$root/eng$engSuffix")
    eng.createStream("g_in", gSchema)
    eng.createStream("g_out", StructType(
      gSchema.fields :+ StructField("h", StringType)))
    eng.createContView("v_g", "SELECT id, count(*) AS c FROM g_out GROUP BY id",
      emitChanges = false)
    val g = StreamDedupGate.create(eng, "g_gate", "SELECT id, body FROM g_in",
      keySql = "md5(body)", orderCol = "id", sink = "g_out",
      storeRoot = s"$root/gate", delivery = StreamDedupGate.ExactlyOnce)
    (eng, g)
  }

  private def gCounts(eng: ContViewEngine): Map[Long, Long] =
    eng.overlay("v_g").collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def b(rows: (Long, String)*) = rows.toDF("id", "body")

  test("exactly-once clean run on the object root: spool commit, store " +
      "append, marker all through the conditional-PUT seam") {
    val root = objRoot("eo")
    val (eng, _) = buildGate(root, "1")
    eng.insertInto("g_in", b((1L, "aa"), (2L, "bb"), (3L, "aa")))
    eng.insertInto("g_in", b((4L, "bb"), (5L, "cc")))
    assert(gCounts(eng) === Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
    val fs = StoreFs.forRoot(root)
    assert(fs.list(s"$root/gate/g_gate/seen_keys")
      .exists(_.endsWith(".parquet")), "seen-keys store under the object root")
  }

  test("crash after spool-commit, before store append: restart recovery " +
      "on the object root delivers once, re-fed batch adds nothing") {
    val root = objRoot("eo")
    val (eng1, g1) = buildGate(root, "1")
    eng1.insertInto("g_in", b((1L, "aa")))
    g1.epochs.failAt = "after-spool"
    intercept[Exception] {
      eng1.insertInto("g_in", b((2L, "bb"), (3L, "aa"), (4L, "cc")))
    }
    val (eng2, _) = buildGate(root, "2")
    eng2.insertInto("g_in", b((2L, "bb"), (3L, "aa"), (4L, "cc")))
    assert(gCounts(eng2) === Map(2L -> 1L, 4L -> 1L),
      "survivors delivered exactly once across the object-root restart")
  }

  test("crash after store append, before delivery: bootstrap + batch-head " +
      "recovery finish the epoch exactly once") {
    val root = objRoot("eo")
    val (eng1, g1) = buildGate(root, "1")
    eng1.insertInto("g_in", b((1L, "aa")))
    g1.epochs.failAt = "after-store"
    intercept[Exception] { eng1.insertInto("g_in", b((2L, "bb"))) }
    val (eng2, _) = buildGate(root, "2")
    eng2.insertInto("g_in", b((3L, "cc")))
    assert(gCounts(eng2) === Map(2L -> 1L, 3L -> 1L),
      "interrupted epoch delivered once into the fresh CV, new batch once")
  }

  test("a torn spool on the object root is quarantined through the " +
      "range-GET frame check, not a permanent wedge") {
    val root = objRoot("eoq")
    val (eng1, g1) = buildGate(root, "1")
    eng1.insertInto("g_in", b((1L, "aa")))
    g1.epochs.failAt = "after-spool"
    intercept[Exception] { eng1.insertInto("g_in", b((2L, "bb"))) }
    val fs = StoreFs.forRoot(root)
    val f = s"$root/gate/g_gate/spool/fwd_00002.parquet"
    assert(fs.exists(f))
    fs.writeString(f, "not parquet") // the torn write
    val (eng2, _) = buildGate(root, "2")
    eng2.insertInto("g_in", b((3L, "cc")))
    assert(gCounts(eng2) === Map(3L -> 1L),
      "ingest continues past the quarantined epoch")
    assert(fs.exists(f + ".corrupt") && !fs.exists(f),
      "poison spool quarantined in place on the object store")
    eng2.insertInto("g_in", b((2L, "bb")))
    assert(gCounts(eng2) === Map(2L -> 1L, 3L -> 1L))
  }

  test("near-dup (simhash) gate on the object root: suppression, driver-" +
      "direct parquet-mr appends, compaction fold, restart bootstrap") {
    val root = objRoot("nd")
    def mk(suffix: String): (ContViewEngine, ShardedGate[SimHashNearDupGate]) = {
      val eng = new ContViewEngine(spark, s"$root/eng$suffix")
      eng.createStream("n_in", gSchema)
      eng.createStream("n_out", StructType(
        gSchema.fields :+ StructField("fp", LongType)))
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
    g1.drainCommits()
    val admitted1 = eng1.overlay("v_n").collect().map(_.getLong(0)).toSet
    assert(admitted1 === Set(1L, 2L, 3L),
      s"exact copy suppressed cross-batch, got $admitted1")
    val fs = StoreFs.forRoot(root)
    assert(fs.list(s"$root/gate/n_gate/seen_fps").exists(_.contains("_c")),
      "compaction shards present under the object root")
    val (eng2, _) = mk("2")
    eng2.insertInto("n_in", b(doc(2).copy(_1 = 22L), doc(4)))
    val admitted2 = eng2.overlay("v_n").collect().map(_.getLong(0)).toSet
    assert(admitted2 === Set(4L),
      s"post-restart: old copy suppressed, fresh doc admitted, got $admitted2")
  }

  test("geometry stamp refusal and executor-backend owner stamps work " +
      "through the object-store seam") {
    val root = objRoot("geo")
    GateStore.stampGeometry(root, "shards_2")
    GateStore.stampGeometry(root, "shards_2") // idempotent
    val e = intercept[IllegalArgumentException] {
      GateStore.stampGeometry(root, "shards_4")
    }
    assert(e.getMessage.contains("key geometry"))

    val xroot = objRoot("xb")
    val eng = new ContViewEngine(spark, s"$xroot/eng")
    eng.createStream("x_in", gSchema)
    eng.createStream("x_out", StructType(
      gSchema.fields :+ StructField("h", StringType)))
    eng.createContView("v_x", "SELECT id, count(*) AS c FROM x_out GROUP BY id",
      emitChanges = false)
    StreamDedupGate.create(eng, "x_gate", "SELECT id, body FROM x_in",
      keySql = "md5(body)", orderCol = "id", sink = "x_out",
      storeRoot = s"$xroot/gate", backend = StreamDedupGate.ExecutorBackend,
      stateParts = 2)
    eng.insertInto("x_in", b((1L, "aa"), (2L, "bb")))
    eng.insertInto("x_in", b((3L, "aa"), (4L, "cc"))) // cross-batch dup
    val got = eng.overlay("v_x").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 4L -> 1L),
      s"executor shards answer membership from the object-root store, got $got")
    val fs = StoreFs.forRoot(xroot)
    assert(fs.exists(s"$xroot/gate/x_gate/seen_keys/_owner_seen"),
      "owner stamp written through StoreFs on the object root")
  }

  // ---- seam-level round-18 contract additions ---------------------------

  test("segmented journal: each append is one put-if-absent segment " +
      "object (O(line) bytes, never a whole-journal rewrite)") {
    val fs = new ObjectStoreFs(store)
    val j = objRoot("j") + "/_catalog.jsonl"
    val puts0 = store.putCount
    fs.appendLine(j, "one")
    fs.appendLine(j, "two")
    fs.appendLine(j, "three")
    assert(fs.readString(j) === "one\ntwo\nthree\n")
    assert(store.putCount - puts0 === 3L, "exactly one PUT per append")
    val segs = store.listPrefix(j + "/")
    assert(segs.size === 3, s"three segment objects, got $segs")
    assert(segs.map(k => store.stat(k).get.size).sum ===
      fs.fileSize(j), "fileSize sums the segments")
    // overwrite-write resets the journal (writeString semantics)
    fs.writeString(j, "fresh\n")
    assert(fs.readString(j) === "fresh\n")
    assert(store.listPrefix(j + "/").isEmpty, "old segments dropped")
  }

  test("move skips keys that vanish mid-move instead of resurrecting " +
      "empty objects at the destination") {
    val phantom = "graftmem://bucket/mv/src/ghost"
    // a store whose listing advertises a key that no longer exists —
    // the race window a concurrent housekeeping drop opens
    val racy = new BlobStore {
      def stat(k: String) = store.stat(k)
      def openRange(k: String, at: Long, len: Long) = store.openRange(k, at, len)
      def put(k: String, d: () => java.io.InputStream, l: Long, c: PutCond) =
        store.put(k, d, l, c)
      def copy(s: String, d: String) = store.copy(s, d)
      def delete(k: String) = store.delete(k)
      def listPrefix(p: String) = {
        val real = store.listPrefix(p)
        if (p == "graftmem://bucket/mv/src/") (real :+ phantom).sorted else real
      }
    }
    val fs = new ObjectStoreFs(racy)
    fs.writeString("graftmem://bucket/mv/src/real", "data")
    fs.move("graftmem://bucket/mv/src", "graftmem://bucket/mv/dst")
    assert(fs.readString("graftmem://bucket/mv/dst/real") === "data")
    assert(store.stat("graftmem://bucket/mv/dst/ghost").isEmpty,
      "vanished key skipped — no empty object published")
  }

  test("fileSize sums a legacy direct journal PLUS its appended " +
      "segments, matching readString (mixed r17/r18 layout)") {
    val fs = new ObjectStoreFs(store)
    val j = objRoot("mix") + "/_catalog.jsonl"
    fs.writeString(j, "legacy\n")   // r17-era whole-object journal
    fs.appendLine(j, "seg-one")     // r18 segments on top
    fs.appendLine(j, "seg-two")
    val content = fs.readString(j)
    assert(content === "legacy\nseg-one\nseg-two\n")
    assert(fs.fileSize(j) === content.getBytes.length.toLong)
  }

  test("BlobFileSystem rename: self-resolving and existing-file targets " +
      "fail without touching data (the HDFS/S3A commit-race contract)") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("graftmem://bucket/"),
      spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(objRoot("rn"))
    def write(p: org.apache.hadoop.fs.Path, s: String): Unit = {
      val o = fs.create(p, true); o.write(s.getBytes); o.close()
    }
    def read(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes()) finally in.close()
    }
    // rename INTO the directory that already contains the source would
    // resolve back to the source key — must fail, not copy-to-self+delete
    val x = new org.apache.hadoop.fs.Path(base, "a/x")
    write(x, "keep me")
    assert(!fs.rename(x, new org.apache.hadoop.fs.Path(base, "a")),
      "self-resolving rename fails")
    assert(read(x) === "keep me", "source untouched")
    // an existing FILE destination fails (two racing committers must not
    // both believe they won)
    val y = new org.apache.hadoop.fs.Path(base, "a/y")
    write(y, "winner")
    write(x, "loser-content")
    assert(!fs.rename(x, y), "existing-file destination fails")
    assert(read(y) === "winner", "committed file not overwritten")
    // and the normal move still works
    val z = new org.apache.hadoop.fs.Path(base, "b/z")
    assert(fs.rename(y, z))
    assert(read(z) === "winner" && !fs.exists(y))
  }

  test("readAt/fileSize are range reads, and etag CAS publish never " +
      "observes the destination absent") {
    val fs = new ObjectStoreFs(store)
    val root = objRoot("ra")
    val payload = "PAR1" + ("x" * 50000) + "PAR1"
    fs.writeString(s"$root/big.parquet", payload)
    assert(fs.fileSize(s"$root/big.parquet") === payload.length.toLong)
    assert(new String(fs.readAt(s"$root/big.parquet",
      payload.length - 4L, 4)) === "PAR1")
    // etag CAS: a publish that loses its first condition check retries
    // against the NEW etag and lands without the dest ever vanishing
    fs.writeString(s"$root/m.tmp", "v2")
    fs.writeString(s"$root/manifest", "v1")
    store.failPutsOnce(2) // two lost races, then the CAS wins
    fs.publish(s"$root/m.tmp", s"$root/manifest", durable = true,
      replace = true)
    assert(fs.readString(s"$root/manifest") === "v2")
  }
}
