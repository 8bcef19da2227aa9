package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import GateStore.StoreFile
import graft.SharedSpark

/** The gate stores' scale contract lives here: appends land sorted, range-
  * sharded compaction stamps each shard's key interval into its filename,
  * and [[GateStore.pruned]] reads only the shards a batch's keys touch —
  * the mechanism that keeps per-batch store cost proportional to the
  * batch instead of the corpus.
  */
class GateStoreSpec extends AnyFunSuite with SharedSpark {

  test("pushdownOk counts UTF-8 BYTES, not chars — multi-byte keys straddle the bound") {
    // per-key estimate = utf8Length + 16. Ten 8-char keys of 3-byte CJK
    // chars: 10 × (24 + 16) = 400 estimated bytes — a 409-byte bound
    // admits them, a 399-byte bound must refuse (a char-count estimate
    // would read 10 × 24 = 240 and wrongly admit under both)
    val cjk = Array.fill[Any](10)("世界世界世界世界")
    assert(GateStore.utf8Length(cjk(0).asInstanceOf[String]) === 24L)
    assert(GateStore.utf8Length("aé世😀") === 10L,
      "1B ascii + 2B latin + 3B CJK + 4B surrogate pair")
    try {
      GateStore.maxPushdownBytesOverride = Some(409L)
      assert(GateStore.pushdownOk(cjk), "40 est bytes/key × 10 fits 409")
      GateStore.maxPushdownBytesOverride = Some(399L)
      assert(!GateStore.pushdownOk(cjk),
        "multi-byte keys past the byte bound must fall back to broadcast")
      // same-length ASCII keys estimate 24 B/key and still fit
      val ascii = Array.fill[Any](10)("abcdefgh")
      assert(GateStore.pushdownOk(ascii))
    } finally GateStore.maxPushdownBytesOverride = None
  }

  test("pruned keeps un-ranged files and only intersecting ranged shards") {
    def enc(v: Long): String = GateStore.encodeKey(v).get
    val fs = Array(
      StoreFile("append1", None),
      StoreFile("s0", Some((enc(0L), enc(9L)))),
      StoreFile("s1", Some((enc(10L), enc(19L)))),
      StoreFile("s2", Some((enc(20L), enc(29L)))),
      StoreFile("neg", Some((enc(-50L), enc(-40L)))))
    def p(keys: Long*): Set[String] =
      GateStore.pruned(fs, keys.toArray).toSet
    assert(p(5L) === Set("append1", "s0"))
    assert(p(10L, 29L) === Set("append1", "s1", "s2"))
    assert(p(-45L) === Set("append1", "neg"))
    assert(p(100L) === Set("append1"), "no shard intersects → appends only")
    assert(p(9L, 10L) === Set("append1", "s0", "s1"), "boundary keys on both sides")
    assert(p(-39L, 30L) === Set("append1"), "keys in the gaps match nothing")
    assert(GateStore.pruned(Array.empty[StoreFile], Array(1L)).isEmpty)
    // string keys (the exact gate's md5 hex) prune lexicographically
    val sf = Array(
      StoreFile("h0", Some(("0a", "7f"))), StoreFile("h1", Some(("80", "ff"))))
    assert(GateStore.pruned(sf, Array[String]("9c")).toSet === Set("h1"))
    // an unencodable key (not filename-safe) disables pruning, never reads
    assert(GateStore.pruned(sf, Array[String]("9c", "a_b")).toSet === Set("h0", "h1"))
    // encodeKey preserves Long order through the sign flip
    assert(enc(-1L) < enc(0L) && enc(0L) < enc(1L) && enc(Long.MinValue) < enc(Long.MaxValue))
  }

  test("compaction writes range-stamped sorted shards; reads prune to them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gs").toString
    // three per-batch appends with interleaved key ranges
    (1 to 3).foreach { b =>
      val rows = (0 until 100).map(i => (i.toLong * 3 + b, b.toLong, i.toLong))
        .toDF("bucket", "id", "fp")
      GateStore.append(rows, dir, "fps", b.toLong, sortCol = Some("bucket"))
    }
    assert(GateStore.storeFiles(dir).forall(_.range.isEmpty),
      "batch appends carry no range (always read)")
    val n = GateStore.compact(spark, dir, "fps", Seq("bucket", "id", "fp"),
      3L, sortCol = Some("bucket"), shards = 4)
    assert(n === 300L, "compaction reports the exact row count")
    val sf = GateStore.storeFiles(dir)
    assert(sf.nonEmpty && sf.forall(_.range.isDefined),
      "every compacted shard is range-stamped")
    // the stamped ranges tile the key space disjointly and cover all keys
    val ranges = sf.flatMap(_.range).sortBy(_._1)
    assert(ranges.head._1 === GateStore.encodeKey(1L).get &&
      ranges.last._2 === GateStore.encodeKey(300L).get)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi < lo, "shard ranges must not overlap")
      case _ =>
    }
    // a point read prunes to exactly one shard, and its content is intact
    val key = 150L
    val hit = GateStore.pruned(sf, Array(key))
    assert(hit.length === 1)
    val rows = spark.read.parquet(hit: _*)
      .where(org.apache.spark.sql.functions.col("bucket") === key).collect()
    assert(rows.length === 1)
    // full store content unchanged by compaction
    assert(spark.read.parquet(GateStore.files(dir): _*).count() === 300L)
    GateStore.deleteRecursively(new java.io.File(dir))
  }

  test("compaction distincts duplicated rows; re-compaction is TIERED") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gs2").toString
    val rows = (0 until 50).map(i => (i.toLong, "k" + i)).toDF("bucket", "id")
    GateStore.append(rows, dir, "p", 1L, sortCol = Some("bucket"))
    GateStore.append(rows, dir, "p", 2L, sortCol = Some("bucket")) // retry duplicate
    assert(GateStore.compact(spark, dir, "p", Seq("bucket", "id"), 2L,
      sortCol = Some("bucket"), shards = 2) === 50L)
    val gen1 = GateStore.files(dir).toSet
    // a later compaction folds ONLY the new append into a new generation:
    // the first generation's files survive untouched (O(new data) cycles,
    // never an O(corpus) rewrite), and the returned count covers the
    // whole store
    GateStore.append((50 until 60).map(i => (i.toLong, "k" + i)).toDF("bucket", "id"),
      dir, "p", 3L, sortCol = Some("bucket"))
    assert(GateStore.compact(spark, dir, "p", Seq("bucket", "id"), 3L,
      sortCol = Some("bucket"), shards = 2) === 60L)
    assert(gen1.subsetOf(GateStore.files(dir).toSet),
      "minor compaction must not rewrite earlier generations")
    assert(GateStore.maxBatch(dir, "p") === 3L)
    // overlapping generation ranges are pruned per-file: a key present in
    // both generations reads both and nothing else
    val sf = GateStore.storeFiles(dir)
    assert(spark.read.parquet(GateStore.pruned(sf, Array(55L)): _*)
      .where(org.apache.spark.sql.functions.col("bucket") === 55L).count() === 1L)
    GateStore.deleteRecursively(new java.io.File(dir))
  }

  test("inSetCol matches Catalyst-internal forms beyond string/long") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ts = java.sql.Timestamp.valueOf("2026-01-02 03:04:05")
    val d = java.sql.Date.valueOf("2026-01-02")
    val rows = Seq((1L, ts, d, BigDecimal("12.340")))
      .toDF("id", "ts", "d", "dec")
    // a raw java.sql.Timestamp in the set would never match the column's
    // internal micros — the converter must translate every external form
    assert(rows.where(GateStore.inSetCol(col("ts"), Seq(ts))).count() === 1)
    assert(rows.where(GateStore.inSetCol(col("d"), Seq(d))).count() === 1)
    assert(rows.where(GateStore.inSetCol(col("dec"),
      Seq(new java.math.BigDecimal("12.340")))).count() === 1)
    assert(rows.where(GateStore.inSetCol(col("id"), Seq(2L))).count() === 0)
    // binary keys fail loudly instead of silently never matching
    intercept[IllegalArgumentException] {
      GateStore.inSetCol(col("id"), Seq(Array[Byte](1, 2)))
    }
  }

  test("exact gate suppresses correctly with a timestamp orderCol") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_gs4").toString
    val eng = new graft.cv.ContViewEngine(spark, root)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = Seq((t("2026-01-01 00:00:00"), "x")).toDF("ts", "body").schema
    eng.createStream("tg_in", schema)
    eng.createStream("tg_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType)))
    val gate = StreamDedupGate.create(eng, "tg_gate",
      "SELECT ts, body FROM tg_in", keySql = "md5(body)", orderCol = "ts",
      sink = "tg_out", storeRoot = root)
    eng.createContView("v_tg", "SELECT ts FROM tg_out", emitChanges = false)
    eng.insertInto("tg_in", Seq((t("2026-01-01 00:00:01"), "aa")).toDF("ts", "body"))
    // within-batch dup on timestamps AND a cross-batch repeat: both paths
    // route suppression through the in-set filter over a TimestampType
    // order column — the regression this test pins
    eng.insertInto("tg_in", Seq(
      (t("2026-01-01 00:00:03"), "bb"), (t("2026-01-01 00:00:02"), "bb"),
      (t("2026-01-01 00:00:04"), "aa")).toDF("ts", "body"))
    val out = eng.overlay("v_tg").collect().map(_.getTimestamp(0)).toSet
    assert(out === Set(t("2026-01-01 00:00:01"), t("2026-01-01 00:00:02")),
      "earliest-timestamp row wins its key; repeats suppressed")
    assert(gate.stats === ((2L, 2L, 2L)))
    eng.dropContView("v_tg"); ()
  }

  test("major fold collapses generations once they exceed the bound") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gs5").toString
    // one append + one minor fold per cycle (shards=1 → one generation
    // file each); at majorGens=3 the 5th cycle must fold EVERYTHING
    var maxFiles = 0
    (1 to 6).foreach { b =>
      GateStore.append(
        Seq(((b * 10).toLong, b.toLong)).toDF("bucket", "id"),
        dir, "m", b.toLong, sortCol = Some("bucket"))
      val n = GateStore.compact(spark, dir, "m", Seq("bucket", "id"),
        b.toLong, sortCol = Some("bucket"), shards = 1, majorGens = 3)
      assert(n === b.toLong, "count covers the whole store every cycle")
      maxFiles = math.max(maxFiles, GateStore.files(dir).length)
    }
    // bounded: generations never exceed majorGens+1 before collapsing
    assert(maxFiles <= 5)
    assert(GateStore.files(dir).length < 4,
      s"major fold must have collapsed the generations")
    // content survives the collapse, deduplicated and range-stamped
    assert(spark.read.parquet(GateStore.files(dir): _*).count() === 6L)
    assert(GateStore.storeFiles(dir).forall(_.range.isDefined))
    GateStore.deleteRecursively(new java.io.File(dir))
  }

  test("dedup gate bloom regrows once the store outgrows its design size") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_gs3").toString
    val eng = new graft.cv.ContViewEngine(spark, root)
    val schema = Seq((0L, "x")).toDF("id", "body").schema
    eng.createStream("bg_in", schema)
    eng.createStream("bg_out", org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType)))
    // design size 32 keys; 3 batches × 40 distinct keys blow through it
    val gate = StreamDedupGate.create(eng, "bg_gate", "SELECT id, body FROM bg_in",
      keySql = "md5(body)", orderCol = "id", sink = "bg_out",
      storeRoot = root, bloomN = 32, compactEvery = 3)
    eng.createContView("v_bg", "SELECT id FROM bg_out", emitChanges = false)
    (0 until 3).foreach { b =>
      eng.insertInto("bg_in",
        (0 until 40).map(i => ((b * 40 + i).toLong, s"w-$b-$i")).toDF("id", "body"))
    }
    gate.drainCommits() // the regrow rides the deferred compaction cadence
    assert(gate.cores(0).currentBloomN >= 240,
      s"filter must regrow past 2x the 120-key store, got ${gate.cores(0).currentBloomN}")
    // regrown-filter behavior: repeats still suppressed, fresh still admitted
    eng.insertInto("bg_in",
      Seq((500L, "w-0-0"), (501L, "w-2-39"), (502L, "fresh")).toDF("id", "body"))
    val out = eng.overlay("v_bg").collect().map(_.getLong(0)).toSet
    assert(out.contains(502L) && !out.contains(500L) && !out.contains(501L))
    eng.dropContView("v_bg"); ()
  }

  test("appendLocal (RecordConsumer writer) round-trips every supported " +
      "type identically to the Spark write path") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("n", IntegerType),
      StructField("s", StringType),
      StructField("d", DoubleType),
      StructField("f", FloatType),
      StructField("b", BooleanType),
      StructField("ts", TimestampType),
      StructField("dt", DateType),
      StructField("al", ArrayType(LongType)),
      StructField("ad", ArrayType(DoubleType)),
      StructField("af", ArrayType(FloatType))))
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")
    val dt = java.sql.Date.valueOf("2024-03-01")
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(3L, 7, "héllo 世界", 1.5, 2.5f, true, ts, dt,
      Seq(1L, 2L, 3L), Seq(0.25, -0.5), Seq(1.0f)))
    // null column of every type, empty arrays
    rows.add(Row(1L, null, null, null, null, null, null, null,
      Seq.empty[Long], Seq.empty[Double], null))
    // null ELEMENT inside an array + Array host (not Seq)
    rows.add(Row(2L, 0, "", 0.0, 0.0f, false, ts, dt,
      Array(9L), Seq[Any](1.25, null, 3.75), Seq(-2.0f)))
    val dirLocal = java.nio.file.Files
      .createTempDirectory("graft_alrt_l").toString
    val dirSpark = java.nio.file.Files
      .createTempDirectory("graft_alrt_s").toString
    assert(GateStore.appendLocal(rows, schema, dirLocal, "t", 1L,
      sortCol = Some("id")), "all types above are appendLocal-supported")
    GateStore.append(
      spark.createDataFrame(rows, schema), dirSpark, "t", 1L,
      sortCol = Some("id"))
    val got = spark.read.parquet(GateStore.files(dirLocal): _*)
      .orderBy("id").collect()
    val want = spark.read.parquet(GateStore.files(dirSpark): _*)
      .orderBy("id").collect()
    assert(got.toSeq === want.toSeq,
      "RecordConsumer writer must round-trip bit-identically to the " +
        "Spark parquet path")
    // schema must round-trip too (nullability differences aside, Spark
    // reads both back with the same dataTypes)
    assert(spark.read.parquet(GateStore.files(dirLocal): _*).schema
      .map(f => (f.name, f.dataType)) ===
      spark.read.parquet(GateStore.files(dirSpark): _*).schema
        .map(f => (f.name, f.dataType)))
    // unsupported element type still reports false (caller falls back)
    val bad = StructType(Seq(StructField("x", ArrayType(StringType))))
    val badRows = new java.util.ArrayList[Row]()
    badRows.add(Row(Seq("a")))
    assert(!GateStore.appendLocal(badRows, bad, dirLocal, "u", 2L))
  }
}
