package graft.cv

import java.nio.file.Paths
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Golden tests mirroring the reference regression suite shapes
  * (cont_count.sql, cont_avg.sql, user_combine.sql, cont_sw_*.sql,
  * output_streams.sql, stream_table_join.sql, ttl_expiration.sql).
  * Core invariant everywhere: incremental-equals-batch.
  */
class CvSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def newEngine(): ContViewEngine = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cv").toString
    new ContViewEngine(spark, dir)
  }

  private val streamSchema = StructType(Seq(
    StructField("key", StringType), StructField("x", LongType),
    StructField("v", DoubleType), StructField("ts", TimestampType)))

  private def mkBatch(rows: Seq[(String, Long, Double, Timestamp)]): DataFrame =
    rows.toDF("key", "x", "v", "ts")

  private val t0 = Timestamp.valueOf("2024-06-01 00:00:00")
  private def tAt(sec: Long) = new Timestamp(t0.getTime + sec * 1000)

  private val rng = new scala.util.Random(5)
  private val allRows: Seq[(String, Long, Double, Timestamp)] =
    (1 to 3000).map { i =>
      (s"k${rng.nextInt(7)}", rng.nextInt(100).toLong, rng.nextDouble() * 10, tAt(i.toLong))
    }

  private def asMap(df: DataFrame): Map[String, Seq[Any]] =
    df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap

  test("hello-world count CV accumulates across batches (cont_count.sql)") {
    val eng = newEngine()
    eng.createStream("s1", streamSchema)
    eng.createContView("v_count", "SELECT key, count(*) AS n FROM s1 GROUP BY key")
    val chunks = allRows.grouped(1000).toSeq
    chunks.foreach(c => eng.insertInto("s1", mkBatch(c)))
    val got = asMap(eng.overlay("v_count"))
    val expect = asMap(mkBatch(allRows).groupBy("key").agg(count(lit(1)).as("n")))
    assert(got == expect)
  }

  test("re-creating a CV with the same definition is a no-op (no double ingest)") {
    val eng = newEngine()
    eng.createStream("s_idem", streamSchema)
    val sql = "SELECT key, count(*) AS n FROM s_idem GROUP BY key"
    eng.createContView("v_idem", sql)
    // unconditional setup code after a restart replays the catalog and then
    // creates again — must NOT register a second reader on the same store
    eng.createContView("v_idem", sql)
    eng.insertInto("s_idem", mkBatch(allRows.take(500)))
    val got = asMap(eng.overlay("v_idem"))
    val expect = asMap(mkBatch(allRows.take(500)).groupBy("key").agg(count(lit(1)).as("n")))
    assert(got == expect)
    // a conflicting definition under the same name must be rejected
    intercept[IllegalArgumentException] {
      eng.createContView("v_idem", "SELECT key, count(*) AS m FROM s_idem GROUP BY key")
    }
  }

  test("ROLLUP/CUBE continuous view: incremental == single-shot (cont_grouping_sets.sql)") {
    val eng = newEngine()
    eng.createStream("s_gs", streamSchema)
    eng.createContView("v_gs",
      """SELECT key, x % 2 AS xb,
        |       grouping(key)*2 + grouping(x % 2) AS gid,
        |       count(*) AS n, sum(v) AS sv
        |FROM s_gs GROUP BY ROLLUP(key, x % 2)""".stripMargin,
      emitChanges = false)
    allRows.grouped(1000).foreach(c => eng.insertInto("s_gs", mkBatch(c)))
    val got = eng.overlay("v_gs")
      .select(col("key"), col("xb"), col("gid"), col("n"), round(col("sv"), 4).as("sv"))
      .collect().map(_.toSeq).toSet
    val expect = mkBatch(allRows)
      .withColumn("xb0", col("x") % 2)
      .rollup("key", "xb0")
      .agg((grouping(col("key")) * 2 + grouping(col("xb0"))).as("gid"),
        count(lit(1)).as("n"), round(sum("v"), 4).as("sv"))
      .select(col("key"), col("xb0"), col("gid"), col("n"), col("sv"))
      .collect().map(_.toSeq).toSet
    assert(got == expect)
  }

  test("monitoring views, querydefs, version, COPY FROM (stats.c / copy.c)") {
    val eng = newEngine()
    eng.createStream("s_mon", streamSchema)
    eng.createContView("v_mon", "SELECT key, count(*) AS n FROM s_mon GROUP BY key",
      emitChanges = false)
    eng.insertInto("s_mon", mkBatch(allRows.take(400)))
    // COPY FROM: bulk-load a parquet file into the stream
    val dir = java.nio.file.Files.createTempDirectory("graft_copy").toString + "/in"
    mkBatch(allRows.slice(400, 800)).write.parquet(dir)
    eng.copyInto("s_mon", dir)
    val got = asMap(eng.overlay("v_mon"))
    val expect = asMap(mkBatch(allRows.take(800)).groupBy("key").agg(count(lit(1)).as("n")))
    assert(got == expect)

    val qs = eng.stats().collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(qs("v_mon") == 2) // two batches
    // per-proc split (proc_stats parity): worker + combiner rows, both
    // covering every batch — the second batch runs a real merge, so the
    // combiner must have accumulated wall time
    val ps = eng.procStats().collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(ps(("v_mon", "worker"))._1 == 2)
    assert(ps(("v_mon", "combiner"))._1 == 2)
    assert(ps(("v_mon", "combiner"))._2 > 0)
    val ss = eng.streamStats().collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(ss.exists { case (s, b, rd) => s == "s_mon" && b == 2 && rd == 1 })
    assert(eng.streamReaders().collect().map(r => (r.getString(0), r.getString(1)))
      .contains(("s_mon", "v_mon")))
    val db = eng.dbStats().collect()(0)
    assert(db.getLong(0) >= 1 && db.getLong(3) >= 2)
    assert(eng.version.nonEmpty)
    assert(eng.workerQueryDef("v_mon").contains("GROUP BY (key)"))
    assert(eng.combinerQueryDef("v_mon").contains("MERGE state ON (key)"))
  }

  test("crash recovery: streaming restart from checkpoint is exactly-once (test_crash_recovery.py)") {
    val root = java.nio.file.Files.createTempDirectory("graft_rec").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_src").toString + "/in"
    val eng1 = new ContViewEngine(spark, root)
    eng1.createStream("s_rec", streamSchema)
    eng1.createContView("v_rec",
      "SELECT key, count(*) AS n FROM s_rec GROUP BY key", emitChanges = false)
    mkBatch(allRows.take(500)).write.mode("append").parquet(srcDir)
    val srcSchema = mkBatch(allRows.take(1)).schema
    val q1 = eng1.startStreaming("v_rec", spark.readStream.schema(srcSchema).parquet(srcDir))
    q1.processAllAvailable()
    q1.stop()
    // "crash": more data lands while the query is down
    mkBatch(allRows.slice(500, 900)).write.mode("append").parquet(srcDir)
    val eng2 = new ContViewEngine(spark, root) // catalog replay, state preserved
    val q2 = eng2.startStreaming("v_rec", spark.readStream.schema(srcSchema).parquet(srcDir))
    q2.processAllAvailable()
    q2.stop()
    val got = asMap(eng2.overlay("v_rec"))
    val expect = asMap(mkBatch(allRows.take(900)).groupBy("key").agg(count(lit(1)).as("n")))
    assert(got == expect) // files before the crash are not re-applied, later ones are
  }

  test("set_ttl changes reaping at runtime and persists across restart (ttl_expiration.sql)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ttl2").toString
    val eng = new ContViewEngine(spark, root)
    eng.createStream("s_st", streamSchema)
    eng.createContView("v_st",
      "SELECT key, max(ts) AS latest, count(*) AS n FROM s_st GROUP BY key",
      emitChanges = false)
    eng.insertInto("s_st", mkBatch(allRows.take(1000)))
    // no ttl yet: expireTtl is a no-op
    eng.expireTtl("v_st", Some(tAt(5000)))
    assert(eng.overlay("v_st").count() > 0)
    eng.setTtl("v_st", Some("600 seconds"), Some("latest"))
    val eng2 = new ContViewEngine(spark, root) // set_ttl survives restart
    eng2.expireTtl("v_st", Some(tAt(5000)))   // rows older than t+4400 only
    val left = eng2.overlay("v_st")
    assert(left.count() == left.where(col("latest") > lit(tAt(4400))).count())
  }

  test("ingest after TTL reaping empties a small store (smallMerge empty-state regression)") {
    val eng = newEngine()
    eng.createStream("s_mt", streamSchema)
    eng.createContView("v_mt",
      "SELECT key, max(ts) AS latest, count(*) AS n FROM s_mt GROUP BY key",
      emitChanges = false)
    eng.insertInto("s_mt", mkBatch(allRows.take(200))) // ts in (0, 200]
    eng.setTtl("v_mt", Some("60 seconds"), Some("latest"))
    eng.expireTtl("v_mt", Some(tAt(5000))) // everything expired → bucketless manifest
    assert(eng.overlay("v_mt").count() == 0)
    // previously threw NoSuchElementException (smallMerge .get on missing state)
    eng.insertInto("s_mt", mkBatch(allRows.slice(200, 400)))
    val got = asMap(eng.overlay("v_mt").select("key", "n"))
    val expect = asMap(mkBatch(allRows.slice(200, 400))
      .groupBy("key").agg(count(lit(1)).as("n")))
    assert(got == expect)
  }

  test("zero-row micro-batch on a small store does not bump the state version") {
    val root = java.nio.file.Files.createTempDirectory("graft_zb").toString
    val eng = new ContViewEngine(spark, root)
    eng.createStream("s_z", streamSchema)
    // WHERE filters out everything in the second batch
    eng.createContView("v_z",
      "SELECT key, count(*) AS n FROM s_z WHERE x < 1000 GROUP BY key",
      emitChanges = false)
    eng.insertInto("s_z", mkBatch(allRows.take(300)))
    val before = asMap(eng.overlay("v_z"))
    def versions = Option(Paths.get(root, "v_z", "state").toFile.list()).get
      .count(_.startsWith("v"))
    val versionsBefore = versions
    val filtered = allRows.slice(300, 600).map { case (k, _, v, ts) => (k, 5000L, v, ts) }
    eng.insertInto("s_z", mkBatch(filtered)) // all rows fail the predicate
    assert(asMap(eng.overlay("v_z")) == before)
    assert(versions == versionsBefore) // no state rewrite for an empty batch
  }

  test("SQL combine() over bare state columns via metadata (user_combine.sql)") {
    val eng = newEngine()
    eng.createStream("s_cmb", streamSchema)
    eng.createContView("v_cmb",
      """SELECT key, count(*) AS n, avg(v) AS av, count(DISTINCT x) AS nd
        |FROM s_cmb GROUP BY key""".stripMargin, emitChanges = false)
    allRows.take(1500).grouped(500).foreach(c => eng.insertInto("s_cmb", mkBatch(c)))
    // the matrel read back from parquet still carries the combine-kind tags
    eng.stateOf("v_cmb").createOrReplaceTempView("v_cmb_mrel")
    val got = spark.sql(
      """SELECT combine(__state_n) AS n, round(combine(__state_av), 6) AS av,
        |       combine(__state_nd) AS nd
        |FROM v_cmb_mrel""".stripMargin).collect()(0)
    val exp = mkBatch(allRows.take(1500))
      .agg(count(lit(1)).as("n"), round(avg("v"), 6).as("av"),
        countDistinct(col("x")).as("nd")).collect()(0)
    assert(got.getLong(0) == exp.getLong(0))
    assert(math.abs(got.getDouble(1) - exp.getDouble(1)) < 1e-9)
    assert(got.getLong(2) == exp.getLong(2))
    // combine() on a non-state column is rejected
    intercept[Exception] {
      spark.sql("SELECT combine(key) FROM v_cmb_mrel").collect()
    }
    // deserialize(state) (miscutils.c:468-560): identity on stored states —
    // the parquet read already produced the internal representation — and
    // it composes under combine()/finalize() like the reference call chain
    val des = spark.sql(
      """SELECT combine(deserialize(__state_n)) AS n,
        |       round(combine(deserialize(__state_av)), 6) AS av
        |FROM v_cmb_mrel""".stripMargin).collect()(0)
    assert(des.getLong(0) == exp.getLong(0))
    assert(math.abs(des.getDouble(1) - exp.getDouble(1)) < 1e-9)
    intercept[Exception] {
      spark.sql("SELECT deserialize(key) FROM v_cmb_mrel").collect()
    }
  }

  test("combineOutputDeltas: rollup over the delta stream (delta_streams.sql)") {
    val eng = newEngine()
    eng.createStream("s_cd", streamSchema)
    eng.createContView("v_cd",
      "SELECT key, count(*) AS n, avg(v) AS av FROM s_cd GROUP BY key")
    allRows.take(1200).grouped(400).foreach(c => eng.insertInto("s_cd", mkBatch(c)))
    // coarse rollup straight off the delta stream — no raw data re-read
    val got = eng.combineOutputDeltas("v_cd", Seq()).collect()(0)
    val exp = mkBatch(allRows.take(1200))
      .agg(count(lit(1)).as("n"), avg("v").as("av")).collect()(0)
    assert(got.getLong(0) == exp.getLong(0))
    assert(math.abs(got.getDouble(1) - exp.getDouble(1)) < 1e-9)
    // and per-key: deltas re-grouped equal the overlay (round: summation
    // order differs between the delta path and the stored-state path)
    def rounded(df: DataFrame) =
      asMap(df.select(col("key"), col("n"), round(col("av"), 9).as("av")))
    assert(rounded(eng.combineOutputDeltas("v_cd", Seq("key"))) ==
      rounded(eng.overlay("v_cd")))
  }

  test("array percentile_cont in CV + SQL finalize() (cont_os_agg.sql)") {
    val eng = newEngine()
    eng.createStream("s_pc", streamSchema)
    eng.createContView("v_pc",
      "SELECT key, percentile(v, array(0.5, 0.9)) AS ps FROM s_pc GROUP BY key",
      emitChanges = false)
    allRows.take(1200).grouped(400).foreach(c => eng.insertInto("s_pc", mkBatch(c)))
    val got = eng.overlay("v_pc").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val exp = mkBatch(allRows.take(1200)).groupBy("key")
      .agg(expr("percentile(v, array(0.5, 0.9))").as("ps")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    got.foreach { case (k, vs) =>
      vs.zip(exp(k)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, k) }
    }
    // finalize(): the finalize step alone over the stored state column
    eng.stateOf("v_pc").createOrReplaceTempView("v_pc_mrel")
    val fin = spark.sql("SELECT key, finalize(__state_ps) AS ps FROM v_pc_mrel").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    fin.foreach { case (k, vs) =>
      vs.zip(exp(k)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9, k) }
    }
  }

  test("custom combinable aggregates in CVs: bucket_agg + json_object_int_sum (§2.10 registry)") {
    val eng = newEngine()
    eng.createStream("s_cust", streamSchema)
    eng.createContView("v_cust",
      """SELECT key,
        |       bucket_agg(x, CAST(pmod(x, 3) AS INT), ts) AS ba,
        |       json_object_int_sum(concat('{"a":', CAST(pmod(x, 5) AS STRING), '}')) AS js
        |FROM s_cust GROUP BY key""".stripMargin, emitChanges = false)
    allRows.take(1200).grouped(400).foreach(c => eng.insertInto("s_cust", mkBatch(c)))
    val got = eng.overlay("v_cust")
      .select(col("key"), expr("bucket_cardinalities(ba)").as("bc"),
        element_at(col("js"), "a").as("a_sum"))
      .collect().map(r => r.getString(0) -> (r.getMap[Int, Long](1).toMap, r.getLong(2))).toMap
    mkBatch(allRows.take(1200)).createOrReplaceTempView("cust_full")
    val exp = spark.sql(
      """SELECT key, bucket_cardinalities(bucket_agg(x, CAST(pmod(x, 3) AS INT), ts)) AS bc,
        |       element_at(json_object_int_sum(concat('{"a":', CAST(pmod(x, 5) AS STRING), '}')), 'a') AS a_sum
        |FROM cust_full GROUP BY key""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getMap[Int, Long](1).toMap, r.getLong(2))).toMap
    assert(got == exp)
    // SQL combine() over the custom states at a coarser (global) grouping
    eng.stateOf("v_cust").createOrReplaceTempView("v_cust_mrel")
    val g = spark.sql(
      """SELECT bucket_cardinalities(combine(__state_ba)) AS bc,
        |       element_at(combine(__state_js), 'a') AS a_sum FROM v_cust_mrel""".stripMargin)
      .collect()(0)
    val ge = spark.sql(
      """SELECT bucket_cardinalities(bucket_agg(x, CAST(pmod(x, 3) AS INT), ts)) AS bc,
        |       element_at(json_object_int_sum(concat('{"a":', CAST(pmod(x, 5) AS STRING), '}')), 'a') AS a_sum
        |FROM cust_full""".stripMargin).collect()(0)
    assert(g.getMap[Int, Long](0).toMap == ge.getMap[Int, Long](0).toMap)
    assert(g.getLong(1) == ge.getLong(1))
  }

  test("CV over a subselect (cont_subselect.sql)") {
    val eng = newEngine()
    eng.createStream("s_sub", streamSchema)
    eng.createContView("v_sub",
      """SELECT k2, count(*) AS n, sum(x2) AS sx FROM
        |  (SELECT concat(key, '_', CAST(pmod(x, 2) AS STRING)) AS k2, x * 2 AS x2
        |   FROM s_sub WHERE v > 1.0)
        |GROUP BY k2""".stripMargin, emitChanges = false)
    allRows.take(1500).grouped(500).foreach(c => eng.insertInto("s_sub", mkBatch(c)))
    val got = asMap(eng.overlay("v_sub"))
    val expect = asMap(mkBatch(allRows.take(1500)).where(col("v") > 1.0)
      .select(concat(col("key"), lit("_"), pmod(col("x"), lit(2)).cast("string")).as("k2"),
        (col("x") * 2).as("x2"))
      .groupBy("k2").agg(count(lit(1)).as("n"), sum("x2").as("sx")))
    assert(got == expect)
  }

  test("sliding-window ticks emit expiry deltas to the output stream (combiner.c tick_sw_groups)") {
    val eng = newEngine()
    eng.createStream("s_tick", streamSchema)
    eng.createContView("v_tick",
      "SELECT key, count(*) AS n FROM s_tick GROUP BY key",
      CvPlanner.CvOptions(sw = Some("1000 seconds"), swColumn = "ts"))
    // two epochs: old rows (0..500s) and fresh rows (2000..2500s)
    eng.insertInto("s_tick", mkBatch(allRows.take(500))) // ts ≈ t0+1..500s
    eng.insertInto("s_tick",
      mkBatch(allRows.slice(500, 1000).map { case (k, x, v, _) => (k, x, v, tAt(2400)) }))
    // at now = t0+2500s the old epoch's buckets are outside the window
    val ticked = eng.tickSw("v_tick", Some(tAt(2500)))
    assert(ticked > 0, "expired buckets must tick")
    val changes = eng.outputOf("v_tick").get
    val tickRows = changes.where(col("new").isNull && col("old").isNotNull)
    assert(tickRows.count() == ticked)
    // ticked counts equal the expired epoch's contribution
    assert(tickRows.agg(sum(col("old.n"))).collect()(0).getLong(0) == 500L)
    // a second tick at the same now is a no-op (high-water mark advanced)
    assert(eng.tickSw("v_tick", Some(tAt(2500))) == 0L)
    // delta rollup ignores the retraction rows: it reflects everything ever
    // ADDED (1000 rows), not added-plus-re-counted-expired (1500)
    assert(eng.combineOutputDeltas("v_tick", Seq())
      .agg(sum("n")).collect()(0).getLong(0) == 1000L)
    // the tick high-water mark survives a restart: a fresh engine on the
    // same root must not re-emit expiry rows for already-ticked buckets
    val eng2 = new ContViewEngine(spark, eng.root)
    assert(eng2.tickSw("v_tick", Some(tAt(2500))) == 0L)
  }

  test("sw_combine: coarser re-aggregation honors the window filter (user_combine.sql)") {
    val eng = newEngine()
    eng.createStream("s_swc", streamSchema)
    eng.createContView("v_swc",
      "SELECT key, x % 2 AS xb, count(*) AS n, sum(v) AS sv FROM s_swc GROUP BY key, x % 2",
      CvPlanner.CvOptions(sw = Some("1000 seconds"), swColumn = "ts", stepFactor = 5),
      emitChanges = false)
    allRows.grouped(1000).foreach(c => eng.insertInto("s_swc", mkBatch(c)))
    // combine away the xb key at now = t+3000: only live step buckets count
    val bucketCut = new Timestamp((tAt(3000).getTime / 1000 - 1000) / 50 * 50 * 1000)
    val got = asMap(eng.swCombine("v_swc", Seq("key"), Some(tAt(3000)))
      .select(col("key"), col("n"), round(col("sv"), 6).as("sv")))
    val expect = asMap(mkBatch(allRows)
      .where(CvPlanner.dateRound($"ts", 50) > lit(bucketCut))
      .groupBy("key").agg(count(lit(1)).as("n"), round(sum("v"), 6).as("sv")))
    assert(got == expect)
    // plain combine() ignores the window: it merges ALL stored buckets
    val all = asMap(eng.combine("v_swc", Seq("key")))
    val allExpect = asMap(mkBatch(allRows).groupBy("key").agg(count(lit(1)).as("n")))
    assert(all.view.mapValues(_.head).toMap == allExpect.view.mapValues(_.head).toMap)
    // sw_combine on a non-SW view is rejected
    eng.createContView("v_swc_plain",
      "SELECT key, count(*) AS n FROM s_swc GROUP BY key", emitChanges = false)
    intercept[IllegalArgumentException] { eng.swCombine("v_swc_plain", Seq("key")) }
  }

  test("micro-batch fully filtered by the CV's WHERE leaves state untouched") {
    val eng = newEngine()
    eng.createStream("s_nil", streamSchema)
    eng.createContView("v_nil",
      "SELECT key, count(*) AS n FROM s_nil WHERE x < 50 GROUP BY key")
    eng.insertInto("s_nil", mkBatch(allRows.take(400)))
    val before = asMap(eng.overlay("v_nil"))
    // every row of this batch fails the WHERE → zero update groups against a
    // non-empty store; must be a clean no-op (no new version, no crash)
    eng.insertInto("s_nil",
      mkBatch(allRows.slice(400, 600).map { case (k, _, v, ts) => (k, 99L, v, ts) }))
    assert(asMap(eng.overlay("v_nil")) == before)
    // and the store still accepts subsequent real updates
    eng.insertInto("s_nil", mkBatch(allRows.slice(600, 800)))
    val expect = asMap(mkBatch(allRows.take(400) ++ allRows.slice(600, 800))
      .where(col("x") < 50).groupBy("key").agg(count(lit(1)).as("n")))
    assert(asMap(eng.overlay("v_nil")) == expect)
  }

  test("stream_targets: insert routed to a subset of reading CQs (config.c:349)") {
    val eng = newEngine()
    eng.createStream("s_tgt", streamSchema)
    eng.createContView("v_tgt_a", "SELECT key, count(*) AS n FROM s_tgt GROUP BY key",
      emitChanges = false)
    eng.createContView("v_tgt_b", "SELECT key, count(*) AS n FROM s_tgt GROUP BY key",
      emitChanges = false)
    eng.insertInto("s_tgt", mkBatch(allRows.take(300)))
    eng.insertInto("s_tgt", mkBatch(allRows.slice(300, 500)),
      targets = Some(Set("v_tgt_a"))) // only A sees the second batch
    assert(eng.overlay("v_tgt_a").agg(sum("n")).collect()(0).getLong(0) == 500L)
    assert(eng.overlay("v_tgt_b").agg(sum("n")).collect()(0).getLong(0) == 300L)
  }

  test("sliding window composes with ROLLUP (sw + grouping sets)") {
    val eng = newEngine()
    eng.createStream("s_swgs", streamSchema)
    eng.createContView("v_swgs",
      """SELECT key, grouping(key) AS gid, count(*) AS n
        |FROM s_swgs GROUP BY ROLLUP(key)""".stripMargin,
      CvPlanner.CvOptions(sw = Some("1000 seconds"), swColumn = "ts"),
      emitChanges = false)
    eng.insertInto("s_swgs", mkBatch(allRows.take(1500))) // ts spans 1..1500s
    // at now = t0+1500s the cutoff is t0+500s; expiry is bucket-granular
    // (step = 50s = 5% of the window) so the boundary bucket [500,550) is
    // already out — live rows are those in buckets strictly after 500s
    val live = allRows.take(1500).filter(_._4.getTime >= tAt(550).getTime)
    val got = eng.overlay("v_swgs", Some(tAt(1500))).collect()
      .map(r => (r.getString(0), r.getByte(1), r.getLong(2))).toSet
    val expect = mkBatch(live).rollup("key")
      .agg(grouping(col("key")).as("gid"), count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getByte(1), r.getLong(2))).toSet
    // bucket granularity: allow only exact match — step buckets align on
    // 50s (5% of 1000s) and 500s is a bucket boundary, so live sets agree
    assert(got == expect)
  }

  test("dump/restore: the engine root directory is fully portable (test_dump_restore.py)") {
    val root = java.nio.file.Files.createTempDirectory("graft_dump").toString
    val eng1 = new ContViewEngine(spark, root)
    eng1.createStream("s_dr", streamSchema)
    eng1.createContView("v_dr", "SELECT key, count(*) AS n, sum(x) AS sx FROM s_dr GROUP BY key")
    eng1.insertInto("s_dr", mkBatch(allRows.take(700)))
    val before = asMap(eng1.overlay("v_dr"))
    // "dump": copy the whole root; "restore": open an engine over the copy
    val restored = java.nio.file.Files.createTempDirectory("graft_restore").toString
    val src = java.nio.file.Paths.get(root)
    java.nio.file.Files.walk(src).forEach { p =>
      val dst = java.nio.file.Paths.get(restored).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val eng2 = new ContViewEngine(spark, restored)
    assert(asMap(eng2.overlay("v_dr")) == before)
    // and the restored engine keeps ingesting
    eng2.insertInto("s_dr", mkBatch(allRows.slice(700, 900)))
    val after = asMap(eng2.overlay("v_dr"))
    assert(after == asMap(mkBatch(allRows.take(900)).groupBy("key")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"))))
  }

  test("exact aggregate battery: incremental == single-shot (user_combine.sql)") {
    val eng = newEngine()
    eng.createStream("s2", streamSchema)
    eng.createContView("v_battery",
      """SELECT key, count(*) AS n, sum(x) AS sx, min(x) AS mn, max(x) AS mx,
        |       avg(v) AS av, var_samp(v) AS vs, stddev_pop(v) AS sp,
        |       corr(v, x) AS r, min_by(x, v) AS amn, max_by(x, v) AS amx,
        |       collect_set(x) AS st
        |FROM s2 GROUP BY key""".stripMargin)
    allRows.grouped(700).foreach(c => eng.insertInto("s2", mkBatch(c)))
    val got = eng.overlay("v_battery")
    val expect = mkBatch(allRows).groupBy("key").agg(
      count(lit(1)).as("n"), sum("x").as("sx"), min("x").as("mn"), max("x").as("mx"),
      avg("v").as("av"), var_samp($"v").as("vs"), stddev_pop($"v").as("sp"),
      corr($"v", $"x").as("r"), min_by($"x", $"v").as("amn"), max_by($"x", $"v").as("amx"),
      sort_array(collect_set($"x")).as("st"))
    val g = got.withColumn("st", sort_array($"st")).collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val e = expect.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(g.keySet == e.keySet)
    for (k <- g.keySet) {
      g(k).zip(e(k)).zipWithIndex.foreach { case ((a, b), i) =>
        (a, b) match {
          case (x: Double, y: Double) => assert(math.abs(x - y) < 1e-9, s"$k[$i]: $x vs $y")
          case (x, y) => assert(x == y, s"$k[$i]: $x vs $y")
        }
      }
    }
  }

  test("count(DISTINCT) becomes HLL and matches exact on small domain") {
    val eng = newEngine()
    eng.createStream("s3", streamSchema)
    eng.createContView("v_dist", "SELECT key, count(DISTINCT x) AS nd FROM s3 GROUP BY key")
    allRows.grouped(500).foreach(c => eng.insertInto("s3", mkBatch(c)))
    val got = asMap(eng.overlay("v_dist"))
    val expect = asMap(mkBatch(allRows).groupBy("key").agg(countDistinct($"x").as("nd")))
    assert(got == expect) // 100-value domain → linear counting exact
  }

  test("combine() re-groups stored state to a coarser key (user_combine.sql)") {
    val eng = newEngine()
    eng.createStream("s4", streamSchema)
    eng.createContView("v_comb",
      "SELECT key, x % 2 AS par, count(*) AS n, avg(v) AS av, count(DISTINCT x) AS nd " +
        "FROM s4 GROUP BY key, x % 2")
    allRows.grouped(900).foreach(c => eng.insertInto("s4", mkBatch(c)))
    // combine over key only (drop par)
    val got = asMap(eng.combine("v_comb", Seq("key")))
    val expect = asMap(mkBatch(allRows).groupBy("key").agg(
      count(lit(1)).as("n"), avg("v").as("av"), countDistinct($"x").as("nd")))
    assert(got.keySet == expect.keySet)
    for (k <- got.keySet) {
      val Seq(n1, a1: Double, d1) = got(k).toSeq
      val Seq(n2, a2: Double, d2) = expect(k).toSeq
      assert(n1 == n2 && d1 == d2)
      assert(math.abs(a1 - a2) < 1e-9)
    }
  }

  test("stream-table join CV (stream_table_join.sql)") {
    val eng = newEngine()
    eng.createStream("s5", streamSchema)
    val dim = Seq(("k0", "east"), ("k1", "west"), ("k2", "east"), ("k3", "west"),
      ("k4", "north"), ("k5", "north"), ("k6", "south")).toDF("key", "regionx")
    dim.createOrReplaceTempView("dim_t")
    eng.createContView("v_stj",
      """SELECT d.regionx AS region, count(*) AS n, sum(s.x) AS sx
        |FROM s5 s JOIN dim_t d ON s.key = d.key GROUP BY d.regionx""".stripMargin)
    allRows.grouped(1100).foreach(c => eng.insertInto("s5", mkBatch(c)))
    val got = asMap(eng.overlay("v_stj"))
    val expect = asMap(mkBatch(allRows).join(dim, "key")
      .groupBy($"regionx".as("region")).agg(count(lit(1)).as("n"), sum("x").as("sx")))
    assert(got == expect)
  }

  test("sliding window: read-time expiry without new data (cont_sw_*.sql)") {
    val eng = newEngine()
    eng.createStream("s6", streamSchema)
    eng.createContView("v_sw",
      "SELECT key, count(*) AS n FROM s6 GROUP BY key",
      CvPlanner.CvOptions(sw = Some("1000 seconds"), swColumn = "ts", stepFactor = 5))
    // events at t=1..3000s
    allRows.grouped(1000).foreach(c => eng.insertInto("s6", mkBatch(c)))

    // read "now" = t+3000: window covers (2000, 3000]
    val at3000 = eng.overlay("v_sw", Some(tAt(3000)))
    val expect3000 = asMap(mkBatch(allRows)
      .where($"ts" > tAt(2000))
      .groupBy("key").agg(count(lit(1)).as("n")))
    // step buckets are 50s wide: the oldest live bucket may include up to
    // 50s of older rows — reference semantics (bucket granularity), so
    // compare against the bucket-aligned cutoff
    val bucketCut = new Timestamp((tAt(3000).getTime / 1000 - 1000) / 50 * 50 * 1000)
    val expectAligned = asMap(mkBatch(allRows)
      .where(CvPlanner.dateRound($"ts", 50) > lit(bucketCut))
      .groupBy("key").agg(count(lit(1)).as("n")))
    val got = asMap(at3000)
    assert(got == expectAligned)

    // same state, later "now" → smaller counts (results change with no new data)
    val at3600 = asMap(eng.overlay("v_sw", Some(tAt(3600))))
    assert(at3600.values.map(_.head.asInstanceOf[Long]).sum <
      got.values.map(_.head.asInstanceOf[Long]).sum)

    // beyond window+slop → empty
    val at9999 = eng.overlay("v_sw", Some(tAt(99999)))
    assert(at9999.count() == 0)
  }

  test("ttl expiry deletes old state but read-time filter already hid it (sw_expiration.sql)") {
    val eng = newEngine()
    eng.createStream("s7", streamSchema)
    val h = eng.createContView("v_ttl",
      "SELECT key, count(*) AS n FROM s7 GROUP BY key",
      CvPlanner.CvOptions(sw = Some("500 seconds"), swColumn = "ts"))
    allRows.grouped(1500).foreach(c => eng.insertInto("s7", mkBatch(c)))
    val stateRowsBefore = h.store.read().get.count()
    eng.expireTtl("v_ttl", Some(tAt(3100)))
    val stateRowsAfter = h.store.read().get.count()
    assert(stateRowsAfter < stateRowsBefore) // reaper removed expired buckets
    // overlay at t=3100 unaffected by reaping (window (2600,3100])
    val live = asMap(eng.overlay("v_ttl", Some(tAt(3100))))
    assert(live.nonEmpty)
  }

  test("output stream carries old/new/delta per upsert (output_streams.sql)") {
    val eng = newEngine()
    eng.createStream("s8", streamSchema)
    eng.createContView("v_os", "SELECT key, count(*) AS n, sum(x) AS sx FROM s8 GROUP BY key")
    eng.insertInto("s8", mkBatch(Seq(("a", 1L, 1.0, t0), ("a", 2L, 1.0, t0), ("b", 5L, 1.0, t0))))
    eng.insertInto("s8", mkBatch(Seq(("a", 10L, 1.0, t0))))
    val os = eng.outputOf("v_os").get
    // batch 1: a → new (2, 3), old null; batch 2: a → old (2,3) new (3,13)
    val aRows = os.where($"key" === "a")
      .select($"old.n".as("old_n"), $"new.n".as("new_n"), $"new.sx".as("new_sx"))
      .collect().map(_.toSeq).toSet
    assert(aRows == Set(Seq(null, 2L, 3L), Seq(2L, 3L, 13L)))
    // delta of batch 2 for a: partial count 1, sum 10
    val d = os.where($"key" === "a" && $"old.n" === 2L)
      .select($"delta.n", $"delta.sx").collect()(0)
    assert(d.getLong(0) == 1L && d.getLong(1) == 10L)
  }

  test("chained rollup: downstream combine over delta states (delta_streams.sql)") {
    val eng = newEngine()
    eng.createStream("s9", streamSchema)
    eng.createContView("v_lvl1", "SELECT key, count(*) AS n FROM s9 GROUP BY key")
    allRows.grouped(800).foreach(c => eng.insertInto("s9", mkBatch(c)))
    // downstream: total over all keys from the changes stream's delta column
    val os = eng.outputOf("v_lvl1").get
    val total = os.agg(sum($"delta.n")).collect()(0).getLong(0)
    assert(total == allRows.size) // deltas sum to the full event count
  }

  test("reaper pass: SW tick precedes storage expiry (reaper.c + tick_sw_groups)") {
    val eng = newEngine()
    eng.createStream("s_reap", streamSchema)
    eng.createContView("v_reap",
      "SELECT key, count(*) AS n FROM s_reap GROUP BY key",
      CvPlanner.CvOptions(sw = Some("1000 seconds"), swColumn = "ts"))
    eng.insertInto("s_reap", mkBatch(allRows.take(500))) // ts in (0, 500]
    // one reaper pass at now = t+2500: all buckets expired — the pass must
    // FIRST emit tick retractions, THEN delete the state
    eng.reapOnce(Some(tAt(2500)))
    val ticks = eng.outputOf("v_reap").get.where(col("new").isNull && col("old").isNotNull)
    assert(ticks.agg(sum(col("old.n"))).collect()(0).getLong(0) == 500L)
    assert(eng.overlay("v_reap", Some(tAt(2500))).count() == 0)
    assert(eng.stateOf("v_reap").count() == 0) // storage reaped too
    // second pass: nothing left, nothing re-emitted
    eng.reapOnce(Some(tAt(2600)))
    assert(ticks.count() == eng.outputOf("v_reap").get
      .where(col("new").isNull && col("old").isNotNull).count())
    // background scheduler starts/stops cleanly
    eng.startReaper(60000L); eng.startReaper(60000L); eng.stopReaper()
  }

  test("async insert level + flush barrier (stream_insert_level, pipelinedb.flush)") {
    val eng = newEngine()
    eng.createStream("s_async", streamSchema)
    eng.createContView("v_async", "SELECT key, count(*) AS n FROM s_async GROUP BY key",
      emitChanges = false)
    allRows.take(1200).grouped(300).foreach(c => eng.insertIntoAsync("s_async", mkBatch(c)))
    eng.flush() // barrier: all four batches committed
    val got = asMap(eng.overlay("v_async"))
    val expect = asMap(mkBatch(allRows.take(1200)).groupBy("key").agg(count(lit(1)).as("n")))
    assert(got == expect)
    // an async failure (unknown stream) surfaces at flush, not at enqueue
    eng.insertIntoAsync("s_async_nope", mkBatch(allRows.take(10)))
    intercept[Throwable] { eng.flush() }
  }

  test("async queue coalescing: many small enqueued batches equal the batch answer") {
    // 20 rapid-fire enqueues outrun the pipeline, so the drain thread
    // coalesces adjacent runs into fewer micro-batches (the reference
    // worker's drain-into-one-batch loop, microbatch.c:193-259); the merged
    // state must still equal one-shot aggregation, and a deterministic
    // witness that coalescing happened is the stats batch count coming in
    // UNDER the enqueue count (the first drain can start at most one batch
    // ahead of the producer's 20-entry burst admitted by the hwm=10 gate
    // only as earlier entries complete).
    val eng = newEngine()
    eng.createStream("s_co", streamSchema)
    eng.createContView("v_co",
      "SELECT key, count(*) AS n, sum(v) AS sv FROM s_co GROUP BY key",
      emitChanges = false)
    allRows.take(2000).grouped(100).foreach(c => eng.insertIntoAsync("s_co", mkBatch(c)))
    eng.flush()
    val got = asMap(eng.overlay("v_co")
      .select(col("key"), col("n"), round(col("sv"), 6).as("sv")))
    val expect = asMap(mkBatch(allRows.take(2000)).groupBy("key")
      .agg(count(lit(1)).as("n"), round(sum("v"), 6).as("sv")))
    assert(got == expect)
    // coalescing witness: each pipeline pass takes ~100 ms while an enqueue
    // takes microseconds, so the 20-entry burst can only drain in STRICTLY
    // fewer micro-batches than entries (20 batches would require every
    // drain to finish before the next enqueue — the producer would have to
    // be ~10^4× slower than observed); equality with the enqueue count
    // means the drain loop stopped coalescing
    val batches = eng.stats().where(col("name") === "v_co")
      .select("batches").collect()(0).getLong(0)
    assert(batches >= 1 && batches < 20,
      s"batch count $batches: drain loop did not coalesce the async backlog")

    // mixed schemas must NOT coalesce (a failed union would lose every
    // batch in the run): explicit-arrival batches interleaved with plain
    // ones still all commit
    eng.createStream("s_mx", streamSchema)
    eng.createContView("v_mx", "SELECT key, count(*) AS n FROM s_mx GROUP BY key",
      emitChanges = false)
    val ts0 = new java.sql.Timestamp(1700000000000L)
    allRows.take(800).grouped(100).zipWithIndex.foreach { case (c, i) =>
      val b = mkBatch(c)
      eng.insertIntoAsync("s_mx",
        if (i % 2 == 0) b.withColumn("arrival_timestamp", lit(ts0)) else b)
    }
    eng.flush()
    assert(asMap(eng.overlay("v_mx")) ==
      asMap(mkBatch(allRows.take(800)).groupBy("key").agg(count(lit(1)).as("n"))))
  }

  test("continuous delta chaining: CV reads another CV's output stream (delta_streams.sql)") {
    val eng = newEngine()
    eng.createStream("s_ch", streamSchema)
    // level 1: fine grain (key, x%2) with a count, a sum, and an HLL state
    eng.createContView("v_l1",
      """SELECT key, x % 2 AS xb, count(*) AS n, sum(v) AS sv,
        |count(DISTINCT x) AS nd FROM s_ch GROUP BY key, x % 2""".stripMargin)
    // level 2 reads the level-1 OUTPUT STREAM: numeric deltas re-aggregate
    // with plain sum; the HLL delta state merges with hll_union_agg
    eng.createContView("v_l2",
      s"""SELECT key, sum(delta.n) AS n, sum(delta.sv) AS sv,
         |hll_union_agg(delta.nd) AS nd_state
         |FROM ${eng.osrelName("v_l1")} GROUP BY key""".stripMargin,
      emitChanges = false)
    allRows.grouped(1000).foreach(c => eng.insertInto("s_ch", mkBatch(c)))
    val got = asMap(eng.overlay("v_l2")
      .select(col("key"), col("n"), round(col("sv"), 6).as("sv"),
        graft.functions.GraftFunctions.hll_cardinality(col("nd_state")).as("nd")))
    val expect = asMap(mkBatch(allRows).groupBy("key")
      .agg(count(lit(1)).as("n"), round(sum("v"), 6).as("sv"),
        countDistinct(col("x")).as("nd"))) // domain 0..99: HLL is exact-ish
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, vs) =>
      assert(vs.head == expect(k).head, s"count for $k")
      assert(vs(1) == expect(k)(1), s"sum for $k")
      val (gotNd, expNd) = (vs(2).asInstanceOf[Long], expect(k)(2).asInstanceOf[Long])
      assert(math.abs(gotNd - expNd) <= math.max(2L, expNd / 50), s"nd for $k")
    }
  }

  test("restriction wall rejects HAVING / ORDER BY / window / stream-stream join") {
    val eng = newEngine()
    eng.createStream("sa", streamSchema)
    eng.createStream("sb", streamSchema)
    def bad(sql: String): Unit =
      intercept[Exception](eng.createContView(s"v_bad_${sql.hashCode.abs}", sql))
    bad("SELECT key, count(*) AS n FROM sa GROUP BY key HAVING count(*) > 1")
    bad("SELECT key, count(*) AS n FROM sa GROUP BY key ORDER BY key")
    bad("SELECT key, count(*) OVER (PARTITION BY key) AS n FROM sa")
    bad("SELECT a.key, count(*) AS n FROM sa a JOIN sb b ON a.key = b.key GROUP BY a.key")
    bad("SELECT key, sum(DISTINCT x) AS s FROM sa GROUP BY key")
  }

  test("SELECT DISTINCT in a CV is pure grouping (cont_distinct.sql)") {
    val eng = newEngine()
    eng.createStream("s_dn", streamSchema)
    eng.createContView("v_dn", "SELECT DISTINCT key, x % 5 AS xb FROM s_dn")
    allRows.grouped(1000).foreach(c => eng.insertInto("s_dn", mkBatch(c)))
    val got = eng.overlay("v_dn").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val expect = allRows.map(r => (r._1, r._2 % 5)).toSet
    assert(got == expect)
    // overlay exposes ONLY the distinct tuple — no hidden state columns
    assert(eng.overlay("v_dn").columns.toSeq == Seq("key", "xb"))
    // combine() to a coarser key yields the coarser distinct
    val combined = eng.combine("v_dn", Seq("key")).collect().map(_.getString(0)).toSet
    assert(combined == allRows.map(_._1).toSet)
  }

  test("SELECT DISTINCT ON keeps one deterministic row per ON-group (cont_distinct.sql:62)") {
    val eng = newEngine()
    eng.createStream("s_don", streamSchema)
    eng.createContView("v_don",
      "SELECT DISTINCT ON (key, x % 2) key, x, v FROM s_don")
    allRows.grouped(700).foreach(c => eng.insertInto("s_don", mkBatch(c)))
    val got = eng.overlay("v_don").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // engine semantics: the lexicographic-min (key, x, v) row per group
    val expect = allRows.groupBy(r => (r._1, r._2 % 2)).values
      .map(rs => rs.map(r => (r._1, r._2, r._3)).min).toSet
    assert(got == expect)
    assert(got.size == allRows.map(r => (r._1, r._2 % 2)).distinct.size)
  }

  test("bool/bit aggregates are combinable in CVs (cont_bool_agg.sql)") {
    val eng = newEngine()
    eng.createStream("s_bool", streamSchema)
    eng.createContView("v_bool",
      """SELECT key, bool_and(x % 2 = 0) AS ba, bool_or(x > 90) AS bo,
        |every(x >= 0) AS ev, bit_and(x) AS band, bit_or(x) AS bor
        |FROM s_bool GROUP BY key""".stripMargin)
    allRows.grouped(800).foreach(c => eng.insertInto("s_bool", mkBatch(c)))
    val got = asMap(eng.overlay("v_bool"))
    val expect = asMap(mkBatch(allRows).groupBy("key").agg(
      expr("bool_and(x % 2 = 0)").as("ba"), expr("bool_or(x > 90)").as("bo"),
      expr("every(x >= 0)").as("ev"), expr("bit_and(x)").as("band"),
      expr("bit_or(x)").as("bor")))
    assert(got == expect)
  }

  test("bucket-pruned merge path: forced-large store stays correct at every batch") {
    // smallStateBytes=0 disables the small-state fast path, so every merge
    // (first write, pruned merges, changes emission) runs the code that
    // handles production-scale state — the path the bench's large-state
    // probe times.
    val dir = java.nio.file.Files.createTempDirectory("graft_lg").toString
    val eng = new ContViewEngine(spark, dir, smallStateBytes = 0L)
    eng.createStream("s_lg", streamSchema)
    eng.createContView("v_lg",
      "SELECT key, count(*) AS n, sum(v) AS sv FROM s_lg GROUP BY key")
    allRows.grouped(750).foreach(c => eng.insertInto("s_lg", mkBatch(c)))
    val got = asMap(eng.overlay("v_lg")
      .select(col("key"), col("n"), round(col("sv"), 6).as("sv")))
    val expect = asMap(mkBatch(allRows).groupBy("key")
      .agg(count(lit(1)).as("n"), round(sum("v"), 6).as("sv")))
    assert(got == expect)
    // delta stream emitted on the pruned path sums back to the input too
    assert(eng.outputOf("v_lg").get.agg(sum(col("delta.n"))).collect()(0).getLong(0)
      == allRows.size)
    // and the per-proc split saw real combiner work on every batch
    val ps = eng.procStats().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ps(("v_lg", "combiner")) == 4)
  }

  test("step_factor validation: out-of-range and single-bucket windows rejected (analyzer.c:1705)") {
    val eng = newEngine()
    eng.createStream("s_sf", streamSchema)
    def cv(name: String, opts: CvPlanner.CvOptions): Unit =
      eng.createContView(name, s"SELECT key, count(*) AS n FROM s_sf GROUP BY key",
        opts, emitChanges = false)
    // reference clamps sliding_window_step_factor to 0–50 (config.c:333-340)
    intercept[IllegalArgumentException](
      cv("v_sf_hi", CvPlanner.CvOptions(sw = Some("1 hour"), stepFactor = 200)))
    intercept[IllegalArgumentException](
      cv("v_sf_zero", CvPlanner.CvOptions(sw = Some("1 hour"), stepFactor = 0)))
    // a window narrow enough to round to ONE step bucket defeats read-time
    // expiry — rejected like the reference's min-view-factor check
    intercept[IllegalArgumentException](
      cv("v_sf_narrow", CvPlanner.CvOptions(sw = Some("1 second"), stepFactor = 50)))
    // in-range factors plan fine
    cv("v_sf_ok", CvPlanner.CvOptions(sw = Some("1 hour"), stepFactor = 50))
  }

  test("SQL DDL front door: stream / CV / transform / activate (commands.c:219-253)") {
    val eng = newEngine()
    // PG type spellings accepted (typed_streams.sql parity)
    eng.sql("CREATE STREAM s_ddl (key text, x int8, v float8, ts timestamptz)")
    eng.sql("""CREATE CONTINUOUS VIEW v_ddl AS
              |SELECT key, count(*) AS n, sum(x) AS sx FROM s_ddl GROUP BY key""".stripMargin)
    // 1.0 spelling with the action option + storage options
    eng.sql("""CREATE VIEW v_ddl_sw WITH (action = materialize, sw = '1 hour',
              |  sw_column = ts, step_factor = 10, changes = false) AS
              |SELECT key, count(*) AS n FROM s_ddl GROUP BY key""".stripMargin)
    // transform chaining via outputfunc, PG foreign-table stream spelling
    eng.sql("CREATE FOREIGN TABLE s_ddl_hot (key text, x int8) SERVER pipelinedb")
    eng.sql("""CREATE CONTINUOUS TRANSFORM t_ddl
              |WITH (outputfunc = insert_into_stream('s_ddl_hot'), changes = false) AS
              |SELECT key, x FROM s_ddl WHERE x >= 50""".stripMargin)
    eng.sql("""CREATE CONTINUOUS VIEW v_ddl_hot WITH (changes = false) AS
              |SELECT key, count(*) AS n FROM s_ddl_hot GROUP BY key""".stripMargin)

    val rows = allRows.take(1000)
    rows.grouped(500).foreach(c => eng.insertInto("s_ddl", mkBatch(c)))
    assert(asMap(eng.overlay("v_ddl")) ==
      asMap(mkBatch(rows).groupBy("key").agg(count(lit(1)).as("n"), sum("x").as("sx"))))
    assert(asMap(eng.overlay("v_ddl_hot")) ==
      asMap(mkBatch(rows).where($"x" >= 50).groupBy("key").agg(count(lit(1)).as("n"))))
    // SW options flowed through: bucketed state, pinned-now overlay works
    assert(eng.overlay("v_ddl_sw", Some(tAt(2000))).collect().nonEmpty)

    // DEACTIVATE gates ingest; ACTIVATE restores it
    eng.sql("DEACTIVATE v_ddl")
    eng.insertInto("s_ddl", mkBatch(allRows.slice(1000, 1500)))
    assert(eng.overlay("v_ddl").agg(sum("n")).collect()(0).getLong(0) == 1000)
    eng.sql("ACTIVATE v_ddl")

    // malformed / unknown constructs are rejected
    intercept[IllegalArgumentException](eng.sql("CREATE TABLE nope (x int)"))
    intercept[IllegalArgumentException](eng.sql(
      "CREATE CONTINUOUS VIEW v_bad WITH (bogus = 1) AS SELECT key, count(*) AS n FROM s_ddl GROUP BY key"))

    // reference dialect defaults: plain CREATE VIEW over a stream IS a
    // continuous view (GetContQueryAction defaults to MATERIALIZE), and
    // WITH (sw = …) needs no explicit action
    eng.sql("CREATE VIEW v_ddl_plain AS SELECT key, count(*) AS n FROM s_ddl GROUP BY key")
    eng.sql("""CREATE VIEW v_ddl_sw2 WITH (sw = '1 hour', changes = false) AS
              |SELECT key, count(*) AS n FROM s_ddl GROUP BY key""".stripMargin)
    // CVs see only batches arriving after creation (reference semantics)
    eng.sql("INSERT INTO s_ddl (key, x) VALUES ('sw2', 1)")
    assert(eng.overlay("v_ddl_plain").collect().nonEmpty)
    // default sw_column = arrival_timestamp: the fresh insert is live now
    assert(eng.overlay("v_ddl_sw2").collect().nonEmpty)
  }

  test("explicit clock_timestamp() window predicate desugars to sw (analyzer.c:1672)") {
    val eng = newEngine()
    eng.createStream("swp_s", streamSchema)
    // the reference's canonical SW spelling (every cont_sw_* regress test)
    eng.sql("""CREATE VIEW v_swp AS
              |SELECT key, count(*) AS n FROM swp_s
              |WHERE ts > clock_timestamp() - interval '600 seconds'
              |GROUP BY key""".stripMargin)
    val rows = allRows.take(1200)
    eng.insertInto("swp_s", mkBatch(rows))
    val now = tAt(1500)
    // live window = ts in step buckets newer than now - 600s
    val stepSec = math.floor(600 * 0.05).toLong
    val cutoffMs = now.getTime - 600 * 1000L
    val expect = rows.filter { r =>
      val bucket = (r._4.getTime / 1000L) / stepSec * stepSec * 1000L
      bucket > cutoffMs
    }.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = eng.overlay("v_swp", Some(now)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // combining the option AND the predicate is rejected
    intercept[IllegalArgumentException](eng.sql(
      """CREATE VIEW v_swp2 WITH (sw = '1 hour') AS
        |SELECT key, count(*) AS n FROM swp_s
        |WHERE ts > clock_timestamp() - interval '600 seconds'
        |GROUP BY key""".stripMargin))
  }

  test("sliding window + ROLLUP: overlay keeps grouping sets apart") {
    val eng = newEngine()
    eng.createStream("swr_s", streamSchema)
    eng.createContView("v_swr",
      """SELECT key, grouping(key) AS gid, count(*) AS n
        |FROM swr_s GROUP BY ROLLUP(key)""".stripMargin,
      CvPlanner.CvOptions(sw = Some("7 days"), swColumn = "ts"),
      emitChanges = false)
    val rows = allRows.take(1000)
    eng.insertInto("swr_s", mkBatch(rows))
    val got = eng.overlay("v_swr", Some(tAt(2000))).collect()
      .map(r => (Option(r.getString(0)), r.toSeq(1), r.getLong(2))).toSet
    // per-key rows (gid=0) AND the rollup total (key=NULL, gid=1) — merging
    // grouping sets would collapse the total into a phantom NULL key group
    val perKey = rows.groupBy(_._1).map { case (k, rs) =>
      (Some(k): Option[String], 0, rs.size.toLong) }.toSet
    assert(got == perKey + ((None, 1, rows.size.toLong)))
  }

  test("first_values in a CV stores a capped top-n state, not the full collect_list") {
    val eng = newEngine()
    eng.createStream("fv_s", streamSchema)
    eng.createContView("v_fv",
      "SELECT key, first_values(5, x) AS fv FROM fv_s GROUP BY key",
      emitChanges = false)
    allRows.take(2000).grouped(500).foreach(c => eng.insertInto("fv_s", mkBatch(c)))
    // state column holds at most n elements per group (AggSplit.firstValues),
    // not every row ever seen
    val maxLen = eng.stateOf("v_fv").select(max(size(col("__state_fv"))))
      .collect()(0).getInt(0)
    assert(maxLen <= 5, s"unbounded first_values state: $maxLen elements")
    val got = eng.overlay("v_fv").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val expect = allRows.take(2000).groupBy(_._1)
      .map { case (k, rs) => k -> rs.map(_._2).sorted.take(5) }
    assert(got == expect)
  }

  test("SW ticks route to chained CQs reading output_of (combiner.c:992)") {
    val eng = newEngine()
    eng.createStream("tk_s", streamSchema)
    eng.createContView("v_tk",
      "SELECT key, count(*) AS n FROM tk_s GROUP BY key",
      CvPlanner.CvOptions(sw = Some("600 seconds"), swColumn = "ts"))
    // downstream CV over the output stream counts expiry rows it receives
    eng.createContView("v_tk_exp",
      s"""SELECT 1 AS g, count(*) AS n_ticks
         |FROM ${eng.osrelName("v_tk")} WHERE new IS NULL GROUP BY 1""".stripMargin,
      emitChanges = false)
    eng.insertInto("tk_s", mkBatch(allRows.take(800)))
    // all buckets fall out of the window at tAt(5000): ticks must reach the
    // chained CV, not just the archive
    val n = eng.tickSw("v_tk", Some(tAt(5000)))
    assert(n > 0)
    val got = eng.overlay("v_tk_exp").collect()
    assert(got.nonEmpty && got(0).getLong(1) == n)
  }

  test("catalog escape round-trip preserves literal backslashes in definitions") {
    val eng = newEngine()
    eng.createStream("esc_s", streamSchema)
    // a definition containing a literal backslash-n (regex escape, NOT a
    // newline): the old sequential-replace decode turned it into a newline
    eng.createContView("v_esc",
      """SELECT key, count(*) AS n FROM esc_s WHERE key NOT RLIKE 'a\\nb' GROUP BY key""",
      emitChanges = false)
    eng.insertInto("esc_s", mkBatch(allRows.take(300)))
    val before = eng.overlay("v_esc").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val eng2 = new ContViewEngine(spark, eng.root)
    // replayed definition must be byte-identical, and the CV still works
    eng2.insertInto("esc_s", mkBatch(allRows.slice(300, 600)))
    val after = eng2.overlay("v_esc").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = mkBatch(allRows.take(600)).where(!col("key").rlike("a\\nb"))
      .groupBy("key").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(before.values.sum == 300L)
    assert(after == expect)
  }

  test("SQL INSERT INTO ... VALUES and DROP statements (stream_fdw.c inserts, drop cascade)") {
    val eng = newEngine()
    eng.sql("CREATE STREAM s_ins (key text, x int8, v float8, ts timestamptz)")
    eng.sql("""CREATE CONTINUOUS VIEW v_ins WITH (changes = false) AS
              |SELECT key, count(*) AS n, sum(x) AS sx FROM s_ins GROUP BY key""".stripMargin)
    // multi-row VALUES with expressions; missing columns (v, ts) → NULL
    eng.sql("INSERT INTO s_ins (key, x) VALUES ('a', 1), ('a', 2), ('b', 10 + 5)")
    eng.sql("INSERT INTO s_ins (key, x, v) VALUES ('b', 4, 2.5)")
    val got = asMap(eng.overlay("v_ins"))
    assert(got == Map("a" -> Seq(2L, 3L), "b" -> Seq(2L, 19L)))

    // stream with readers cannot be dropped; after dropping the CV it can
    intercept[IllegalArgumentException](eng.sql("DROP STREAM s_ins"))
    eng.sql("DROP CONTINUOUS VIEW v_ins")
    intercept[Exception](eng.overlay("v_ins"))
    eng.sql("DROP STREAM s_ins")
    intercept[Exception](eng.sql("INSERT INTO s_ins (key, x) VALUES ('c', 1)"))

    // a dropped name is reusable with a different definition
    eng.sql("CREATE STREAM s_ins (key text, x int8)")
    eng.sql("""CREATE CONTINUOUS VIEW v_ins WITH (changes = false) AS
              |SELECT key, sum(x) AS sx FROM s_ins GROUP BY key""".stripMargin)
    eng.sql("INSERT INTO s_ins VALUES ('z', 7)")
    assert(asMap(eng.overlay("v_ins")) == Map("z" -> Seq(7L)))

    // drops survive a restart: replaying the catalog must not resurrect
    // the dropped definitions (the first v_ins took a different shape)
    val eng2 = new ContViewEngine(spark, eng.root)
    eng2.insertInto("s_ins", Seq(("z", 3L)).toDF("key", "x"))
    assert(asMap(eng2.overlay("v_ins")) == Map("z" -> Seq(10L)))
  }

  test("SQL SELECT front door: CV overlay, _mrel combine, output_of reads") {
    val eng = newEngine()
    eng.sql("CREATE STREAM s_q (key text, x int8, v float8, ts timestamptz)")
    eng.sql("""CREATE CONTINUOUS VIEW v_q AS
              |SELECT key, count(*) AS n, sum(x) AS sx FROM s_q GROUP BY key""".stripMargin)
    eng.sql("INSERT INTO s_q (key, x) VALUES ('a', 1), ('a', 2), ('b', 3)")
    // overlay by name, like the reference's `SELECT * FROM cv`
    val got = eng.sql("SELECT key, n, sx FROM v_q ORDER BY key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 2L, 3L), ("b", 1L, 3L)))
    // matrel by name + SQL combine() re-grouping over stored state
    val comb = eng.sql("SELECT combine(n) AS n, combine(sx) AS sx FROM v_q_mrel")
      .collect()(0)
    assert((comb.getLong(0), comb.getLong(1)) == (3L, 6L))
    // output stream by the reference spelling (reads the changes table, not
    // the empty osrel stream registration)
    val changes = eng.sql(
      "SELECT count(*) AS c FROM output_of('v_q') WHERE new IS NOT NULL")
      .collect()(0).getLong(0)
    assert(changes == 2L) // first batch upserted two groups
    // a second batch is visible on the next read (overlay re-resolves state)
    eng.sql("INSERT INTO s_q (key, x) VALUES ('c', 9)")
    assert(eng.sql("SELECT count(*) AS c FROM v_q").collect()(0).getLong(0) == 3L)
    // unknown output_of target fails loudly
    intercept[IllegalStateException](eng.sql("SELECT * FROM output_of('nope')"))
  }

  test("output_of('cv') FROM rewriting + INSERT INTO SELECT (analyzer.c:776-830)") {
    val eng = newEngine()
    eng.createStream("s_oo", streamSchema)
    eng.createContView("v_oo", "SELECT key, count(*) AS n FROM s_oo GROUP BY key")
    // downstream CV reads the output stream via the reference spelling
    eng.createContView("v_oo_roll",
      "SELECT 1 AS g, sum(delta.n) AS total FROM output_of('v_oo') GROUP BY 1",
      emitChanges = false)
    eng.insertInto("s_oo", mkBatch(allRows.take(600)))
    eng.insertInto("s_oo", mkBatch(allRows.slice(600, 900)))
    def total(): Long =
      eng.overlay("v_oo_roll").select("total").collect()(0).getLong(0)
    assert(total() == 900L)
    // INSERT INTO stream SELECT ... (stream_insert_subselect.sql): feed a
    // stream from a registered relation with projection + filter
    mkBatch(allRows.take(100)).createOrReplaceTempView("src_rows")
    eng.sql("INSERT INTO s_oo SELECT key, x, v, ts FROM src_rows WHERE x >= 50")
    val expect = 900L + allRows.take(100).count(_._2 >= 50)
    assert(total() == expect)
    // column-list and parenthesized spellings (stream_insert_subselect.sql:
    // INSERT INTO stream (x) (SELECT …)); unnamed columns default to NULL
    eng.sql("INSERT INTO s_oo (key, x) SELECT key, x FROM src_rows WHERE x < 50")
    val expect2 = expect + allRows.take(100).count(_._2 < 50)
    assert(total() == expect2)
    eng.sql("INSERT INTO s_oo (key) (SELECT key FROM src_rows WHERE x = 50)")
    val expect3 = expect2 + allRows.take(100).count(_._2 == 50)
    assert(total() == expect3)
    // arity mismatch is rejected loudly
    intercept[IllegalArgumentException](
      eng.sql("INSERT INTO s_oo (key, x) SELECT key FROM src_rows"))
  }

  test("continuous transform: filter/project to output stream + chained CV (cont_transform.sql)") {
    val eng = newEngine()
    eng.createStream("ct_in", streamSchema)
    eng.createStream("ct_mid", streamSchema)
    var callbackRows = 0L
    eng.createContTransform("t_hot",
      "SELECT key, x, v, ts FROM ct_in WHERE x >= 50",
      sinkStream = Some("ct_mid"),
      outputFunc = Some(df => callbackRows += df.count()))
    eng.createContView("v_hot", "SELECT key, count(*) AS n FROM ct_mid GROUP BY key")
    allRows.grouped(1000).foreach(c => eng.insertInto("ct_in", mkBatch(c)))
    // CT output stream carries exactly the filtered rows
    val os = eng.outputOf("t_hot").get
    val expectN = allRows.count(_._2 >= 50)
    assert(os.count() == expectN)
    assert(callbackRows == expectN)
    // chained CV aggregates the transformed stream
    val got = asMap(eng.overlay("v_hot"))
    val expect = asMap(mkBatch(allRows).where($"x" >= 50)
      .groupBy("key").agg(count(lit(1)).as("n")))
    assert(got == expect)
    // transforms must not aggregate
    intercept[Exception](eng.createContTransform("t_bad",
      "SELECT key, count(*) AS n FROM ct_in GROUP BY key"))
  }

  test("combine_table merges a partials table into CV state (combiner.c:2252)") {
    val eng = newEngine()
    eng.createStream("cb_s", streamSchema)
    val h = eng.createContView("v_cb", "SELECT key, count(*) AS n, sum(x) AS sx FROM cb_s GROUP BY key")
    val (first, second) = allRows.splitAt(1500)
    eng.insertInto("cb_s", mkBatch(first))
    // backfill: partial states computed outside the stream path
    val partials = h.plan.workerPartials(spark,
      mkBatch(second).withColumn("arrival_timestamp", current_timestamp()))
    eng.combineTable("v_cb", partials)
    val got = asMap(eng.overlay("v_cb"))
    val expect = asMap(mkBatch(allRows).groupBy("key")
      .agg(count(lit(1)).as("n"), sum("x").as("sx")))
    assert(got == expect)
  }

  test("structured streaming driver: MemoryStream -> foreachBatch ingest (scheduler parity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val eng = newEngine()
    eng.createStream("st_s", streamSchema)
    eng.createContView("v_st", "SELECT key, count(*) AS n, sum(x) AS sx FROM st_s GROUP BY key")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Double, java.sql.Timestamp)]
    val stream = ms.toDF().toDF("key", "x", "v", "ts")
    val q = eng.startStreaming("v_st", stream)
    val (b1, b2) = allRows.splitAt(1200)
    ms.addData(b1)
    q.processAllAvailable()
    ms.addData(b2)
    q.processAllAvailable()
    q.stop()
    val got = asMap(eng.overlay("v_st"))
    val expect = asMap(mkBatch(allRows).groupBy("key")
      .agg(count(lit(1)).as("n"), sum("x").as("sx")))
    assert(got == expect)
    // each micro-batch is a normal stream insert: it shows in stream_stats
    assert(eng.sql("SELECT batches FROM graft_stream_stats WHERE stream = 'st_s'")
      .collect()(0).getLong(0) == 2L)
  }

  test("viewsCatalog/transformsCatalog list definitions, options, active flags") {
    val eng = newEngine()
    eng.createStream("cat_s", streamSchema)
    eng.createContView("v_cat",
      "SELECT key, count(*) AS n FROM cat_s GROUP BY key",
      CvPlanner.CvOptions(sw = Some("1 hour"), stepFactor = 10),
      emitChanges = false)
    eng.createStream("cat_sink", streamSchema)
    eng.createContTransform("t_cat",
      "SELECT key, x, v, ts FROM cat_s WHERE x > 10",
      sinkStream = Some("cat_sink"), emitChanges = false)
    val v = eng.viewsCatalog().collect().map(r =>
      r.getAs[String]("name") -> r).toMap
    assert(v.keySet == Set("v_cat"))
    assert(v("v_cat").getAs[String]("stream") == "cat_s")
    assert(v("v_cat").getAs[String]("sw") == "1 hour")
    assert(v("v_cat").getAs[Double]("stepFactor") == 10.0)
    assert(v("v_cat").getAs[Boolean]("active"))
    assert(v("v_cat").getAs[String]("query").contains("count(*)"))
    val t = eng.transformsCatalog().collect()
    assert(t.length == 1 && t(0).getAs[String]("sink") == "cat_sink")
    // deactivate shows up; drop removes the row
    eng.deactivate("v_cat")
    assert(!eng.viewsCatalog().collect()(0).getAs[Boolean]("active"))
    eng.dropContTransform("t_cat")
    assert(eng.transformsCatalog().count() == 0)
    // definitions survive a catalog replay (restart)
    val eng2 = new ContViewEngine(spark, eng.root)
    assert(eng2.viewsCatalog().collect()(0).getAs[String]("query").contains("count(*)"))
  }

  test("concurrent insertInto on one stream serializes merges (no lost updates)") {
    val eng = newEngine()
    eng.createStream("cc_s", streamSchema)
    eng.createContView("v_cc",
      "SELECT key, count(*) AS n, sum(x) AS sx FROM cc_s GROUP BY key",
      emitChanges = false)
    // six threads race the same CV's state store: the manifest commit is a
    // read-modify-write, so without the per-store mutation lock two merges
    // base version N+1 on N and one batch silently vanishes
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val work = allRows.grouped(500).toSeq.map { c =>
      Future(eng.insertInto("cc_s", mkBatch(c)))
    }
    work.foreach(f => Await.result(f, Duration.Inf))
    val expect = asMap(mkBatch(allRows).groupBy("key")
      .agg(count(lit(1)).as("n"), sum("x").as("sx")))
    assert(asMap(eng.overlay("v_cc")) == expect)

    // with changes ENABLED the emit reads the pre-commit files, whose GC is
    // deferred only one mutation — racing ingests must not delete them
    // mid-emit (the ingest holds the store monitor across upsert + emit)
    eng.createContView("v_cc_ch",
      "SELECT key, count(*) AS n FROM cc_s GROUP BY key")
    val work2 = allRows.grouped(500).toSeq.map { c =>
      Future(eng.insertInto("cc_s", mkBatch(c), targets = Some(Set("v_cc_ch"))))
    }
    work2.foreach(f => Await.result(f, Duration.Inf))
    assert(asMap(eng.overlay("v_cc_ch")) ==
      asMap(mkBatch(allRows).groupBy("key").agg(count(lit(1)).as("n"))))
    // the changes archive saw every upsert: per-key delta counts sum to the
    // full row count
    val deltaTotal = eng.outputOf("v_cc_ch").get
      .agg(sum(col("delta.n"))).collect()(0).getLong(0)
    assert(deltaTotal == allRows.size.toLong)
  }

  test("catalog replay skips an unreplayable definition instead of bricking the engine") {
    val eng = newEngine()
    eng.createStream("rs_s", streamSchema)
    eng.createContView("v_rs_good",
      "SELECT key, count(*) AS n FROM rs_s GROUP BY key", emitChanges = false)
    eng.insertInto("rs_s", mkBatch(allRows.take(500)))
    // a definition that no longer validates (e.g. created before a
    // validation rule tightened): sw window narrower than one step bucket
    val bad = """{"kind":"view","name":"v_rs_bad","payload":"SELECT key, count(*) AS n FROM rs_s GROUP BY key","sw":"1 second","swColumn":"ts","stepFactor":50,"ttl":"","ttlColumn":"","sink":"","changes":false}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(eng.root, "_catalog.jsonl"), bad + "\n",
      java.nio.file.StandardOpenOption.APPEND)
    val eng2 = new ContViewEngine(spark, eng.root)
    // the good CV replayed (state intact), the bad one was skipped
    assert(eng2.overlay("v_rs_good").agg(sum("n")).collect()(0).getLong(0) == 500L)
    intercept[Exception](eng2.overlay("v_rs_bad"))
  }

  test("structured streaming into a STREAM fans out to all reader CQs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val eng = newEngine()
    eng.createStream("sti_s", streamSchema)
    eng.createContView("v_sti_a", "SELECT key, count(*) AS n FROM sti_s GROUP BY key",
      emitChanges = false)
    eng.createContView("v_sti_b", "SELECT key, sum(x) AS sx FROM sti_s GROUP BY key",
      emitChanges = false)
    // a transform chained off the same stream consumes the same batches
    eng.createStream("sti_hot", streamSchema)
    eng.createContTransform("t_sti",
      "SELECT key, x, v, ts FROM sti_s WHERE x >= 50",
      sinkStream = Some("sti_hot"), emitChanges = false)
    eng.createContView("v_sti_hot", "SELECT key, count(*) AS n FROM sti_hot GROUP BY key",
      emitChanges = false)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Double, java.sql.Timestamp)]
    val q = eng.startStreamingInto("sti_s", ms.toDF().toDF("key", "x", "v", "ts"))
    val (b1, b2) = allRows.splitAt(900)
    ms.addData(b1)
    q.processAllAvailable()
    ms.addData(b2)
    q.processAllAvailable()
    q.stop()
    val all = mkBatch(allRows)
    assert(asMap(eng.overlay("v_sti_a")) ==
      asMap(all.groupBy("key").agg(count(lit(1)).as("n"))))
    assert(asMap(eng.overlay("v_sti_b")) ==
      asMap(all.groupBy("key").agg(sum("x").as("sx"))))
    assert(asMap(eng.overlay("v_sti_hot")) ==
      asMap(all.where($"x" >= 50).groupBy("key").agg(count(lit(1)).as("n"))))
  }

  test("regr_* family and string_agg split in CVs (cont_regr.sql)") {
    val eng = newEngine()
    eng.createStream("rg_s", streamSchema)
    eng.createContView("v_regr",
      """SELECT key, regr_count(v, x) AS n, regr_slope(v, x) AS sl,
        |       regr_intercept(v, x) AS ic, regr_r2(v, x) AS r2,
        |       regr_avgx(v, x) AS ax, regr_avgy(v, x) AS ay,
        |       regr_sxx(v, x) AS sxx, regr_syy(v, x) AS syy, regr_sxy(v, x) AS sxy,
        |       listagg(x, ',') AS la
        |FROM rg_s GROUP BY key""".stripMargin)
    allRows.grouped(1000).foreach(c => eng.insertInto("rg_s", mkBatch(c)))
    val got = eng.overlay("v_regr").collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val expect = mkBatch(allRows).groupBy("key").agg(
      expr("regr_count(v, x)").as("n"), expr("regr_slope(v, x)").as("sl"),
      expr("regr_intercept(v, x)").as("ic"), expr("regr_r2(v, x)").as("r2"),
      expr("regr_avgx(v, x)").as("ax"), expr("regr_avgy(v, x)").as("ay"),
      expr("regr_sxx(v, x)").as("sxx"), expr("regr_syy(v, x)").as("syy"),
      expr("regr_sxy(v, x)").as("sxy"),
      array_join(sort_array(collect_list($"x".cast("string"))), ",").as("la"))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(got.keySet == expect.keySet)
    for (k <- got.keySet; (a, b) <- got(k).zip(expect(k))) (a, b) match {
      case (x: Double, y: Double) => assert(math.abs(x - y) < 1e-6, s"$k: $x vs $y")
      case (x, y) => assert(x == y, s"$k: $x vs $y")
    }
  }

  test("catalog persistence: definitions and state survive an engine restart") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat").toString
    val eng1 = new ContViewEngine(spark, root)
    eng1.createStream("cat_s", streamSchema)
    eng1.createContView("v_cat", "SELECT key, count(*) AS n, avg(v) AS av FROM cat_s GROUP BY key")
    eng1.createContView("v_cat_sw", "SELECT key, count(*) AS n FROM cat_s GROUP BY key",
      CvPlanner.CvOptions(sw = Some("1000 seconds"), swColumn = "ts"))
    val (first, second) = allRows.splitAt(1500)
    eng1.insertInto("cat_s", mkBatch(first))

    // a brand-new engine over the same root must see the defs AND the state
    val eng2 = new ContViewEngine(spark, root)
    eng2.insertInto("cat_s", mkBatch(second))
    val got = asMap(eng2.overlay("v_cat"))
    val expect = asMap(mkBatch(allRows).groupBy("key")
      .agg(count(lit(1)).as("n"), avg("v").as("av")))
    assert(got.keySet == expect.keySet)
    for (k <- got.keySet) {
      assert(got(k).head == expect(k).head)
      assert(math.abs(got(k)(1).asInstanceOf[Double] - expect(k)(1).asInstanceOf[Double]) < 1e-9)
    }
    // SW options survived too (overlay at a pinned now still filters buckets)
    assert(eng2.overlay("v_cat_sw", Some(tAt(99999))).count() == 0)
    assert(eng2.overlay("v_cat_sw", Some(tAt(3000))).count() > 0)
  }

  test("monitoring catalogs are SQL relations (pipelinedb.views/query_stats parity)") {
    val eng = newEngine()
    eng.createStream("mv_s", streamSchema)
    eng.createContView("v_mv", "SELECT key, count(*) AS n FROM mv_s GROUP BY key",
      emitChanges = false)
    eng.insertInto("mv_s", mkBatch(allRows.take(100)))
    // engine-native spelling
    assert(eng.sql("SELECT name FROM graft_views")
      .collect().map(_.getString(0)).contains("v_mv"))
    assert(eng.sql("SELECT batches FROM graft_stream_stats WHERE stream = 'mv_s'")
      .collect()(0).getLong(0) == 1L)
    // reference spelling accepted as a drop-in alias (pipelinedb.views /
    // pipelinedb.query_stats, sql:77-108, 2681-2800)
    assert(eng.sql(
      "SELECT count(*) AS c FROM pipelinedb.query_stats WHERE name = 'v_mv'")
      .collect()(0).getLong(0) == 1L)
    assert(eng.sql("SELECT views FROM pipelinedb.db_stats")
      .collect()(0).getLong(0) >= 1L)
    // joins against monitoring views work like any relation
    val joined = eng.sql(
      """SELECT s.stream, r.cq FROM graft_stream_stats s
        |JOIN graft_stream_readers r ON s.stream = r.stream
        |WHERE s.stream = 'mv_s'""".stripMargin).collect()
    assert(joined.length == 1 && joined(0).getString(1) == "v_mv")
    // per-statement snapshot: a second batch is visible on the next SELECT
    eng.insertInto("mv_s", mkBatch(allRows.slice(100, 200)))
    assert(eng.sql("SELECT batches FROM graft_stream_stats WHERE stream = 'mv_s'")
      .collect()(0).getLong(0) == 2L)
    // the alias rewrite is literal-blind: 'pipelinedb.views' as DATA survives
    val lit0 = eng.sql("SELECT 'pipelinedb.views' AS s FROM graft_db_stats")
      .collect()(0).getString(0)
    assert(lit0 == "pipelinedb.views", s"literal was rewritten to $lit0")
    // a user CV carrying a monitoring name wins over the stats snapshot
    eng.createContView("graft_query_stats",
      "SELECT key, count(*) AS n FROM mv_s GROUP BY key", emitChanges = false)
    eng.insertInto("mv_s", mkBatch(allRows.take(50)))
    assert(eng.sql("SELECT * FROM graft_query_stats").columns.toSeq == Seq("key", "n"),
      "user CV named graft_query_stats was shadowed by the monitoring snapshot")
  }

  test("crashed-write orphan version dir is invisible to reads and GC'd by the next commit") {
    // A writer that dies between the parquet write and the manifest swap
    // leaves an orphan v<N+1> dir; the atomic manifest is the only source of
    // truth, so reads must ignore the orphan and the next successful commit's
    // deferred GC must delete it (deferGcOldVersions keeps manifest dirs only).
    val root = java.nio.file.Files.createTempDirectory("graft_orph").toString
    val eng = new ContViewEngine(spark, root)
    eng.createStream("or_s", streamSchema)
    eng.createContView("v_or", "SELECT key, count(*) AS n FROM or_s GROUP BY key",
      emitChanges = false)
    val (first, second) = allRows.splitAt(1500)
    eng.insertInto("or_s", mkBatch(first))
    val before = asMap(eng.overlay("v_or"))
    // simulate the crash artifact: an orphan version dir with plausible but
    // WRONG content, never referenced by the manifest
    val stateDir = java.nio.file.Paths.get(root, "v_or", "state")
    val orphan = stateDir.resolve("v99")
    mkBatch(allRows.take(10)).groupBy("key").agg(count(lit(1)).as("n"))
      .write.parquet(orphan.toString)
    assert(asMap(eng.overlay("v_or")) == before, "orphan dir leaked into reads")
    // next two commits: the first lists the orphan into pendingGc, the
    // second flushes the deletion to the background GC thread
    eng.insertInto("or_s", mkBatch(second))
    eng.insertInto("or_s", mkBatch(allRows.take(500)))
    val got = asMap(eng.overlay("v_or"))
    val expect = asMap(mkBatch(allRows ++ allRows.take(500)).groupBy("key")
      .agg(count(lit(1)).as("n")))
    assert(got == expect)
    // deletion is asynchronous — poll briefly for the orphan to disappear
    val deadline = System.nanoTime() + 10e9.toLong
    while (java.nio.file.Files.exists(orphan) && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(!java.nio.file.Files.exists(orphan), "orphan version dir survived GC")
  }

  test("LIMIT caps total materialized groups; updates to admitted groups continue (cont_limit.sql)") {
    val eng = newEngine()
    eng.createStream("lim_s", streamSchema)
    eng.createContView("v_lim",
      "SELECT key, count(*) AS n FROM lim_s GROUP BY key LIMIT 3")
    allRows.grouped(1000).foreach(c => eng.insertInto("lim_s", mkBatch(c)))
    val got = asMap(eng.overlay("v_lim"))
    assert(got.size == 3)
    // admitted groups are the 3 smallest keys (deterministic admission) and
    // keep accumulating across batches
    val admitted = allRows.map(_._1).distinct.sorted.take(3).toSet
    assert(got.keySet == admitted)
    val expect = asMap(mkBatch(allRows).where($"key".isin(admitted.toSeq: _*))
      .groupBy("key").agg(count(lit(1)).as("n")))
    assert(got == expect)
  }

  test("registerOverlay makes the CV queryable by name in SQL") {
    val eng = newEngine()
    eng.createStream("ro_s", streamSchema)
    eng.createContView("v_ro", "SELECT key, count(*) AS n FROM ro_s GROUP BY key")
    eng.insertInto("ro_s", mkBatch(allRows))
    eng.registerOverlay("v_ro")
    val total = spark.sql("SELECT sum(n) AS t FROM v_ro").collect()(0).getLong(0)
    assert(total == allRows.size)
  }

  test("activate/deactivate gates ingestion; truncate clears state (cont_activate.sql)") {
    val eng = newEngine()
    eng.createStream("act_s", streamSchema)
    eng.createContView("v_act", "SELECT key, count(*) AS n FROM act_s GROUP BY key")
    val chunks = allRows.grouped(1000).toSeq
    eng.insertInto("act_s", mkBatch(chunks(0)))
    eng.deactivate("v_act")
    eng.insertInto("act_s", mkBatch(chunks(1))) // dropped while inactive
    eng.activate("v_act")
    eng.insertInto("act_s", mkBatch(chunks(2)))
    val got = asMap(eng.overlay("v_act"))
    val expect = asMap(mkBatch(chunks(0) ++ chunks(2)).groupBy("key")
      .agg(count(lit(1)).as("n")))
    assert(got == expect) // middle batch never materialized
    // truncate drops all state; the view reads empty, then re-accumulates
    eng.truncateContView("v_act")
    assert(eng.overlay("v_act").count() == 0)
    eng.insertInto("act_s", mkBatch(chunks(0)))
    assert(asMap(eng.overlay("v_act")) ==
      asMap(mkBatch(chunks(0)).groupBy("key").agg(count(lit(1)).as("n"))))
  }

  test("scalar expressions over aggregates in CVs (ratio, count+1, hypothetical rank)") {
    val eng = newEngine()
    eng.createStream("sx_s", streamSchema)
    eng.createContView("v_sx",
      """SELECT key, sum(v) / count(*) AS mean_v, count(*) + 1 AS np1,
        |       1 + count(CASE WHEN x < 50 THEN 1 END) AS hypo_rank,
        |       round(avg(v) * 2, 6) AS twice_avg
        |FROM sx_s GROUP BY key""".stripMargin)
    allRows.grouped(1000).foreach(c => eng.insertInto("sx_s", mkBatch(c)))
    val got = eng.overlay("v_sx").collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val expect = mkBatch(allRows).groupBy("key").agg(
      (sum($"v") / count(lit(1))).as("mean_v"),
      (count(lit(1)) + 1).as("np1"),
      (lit(1) + count(when($"x" < 50, 1))).as("hypo_rank"),
      round(avg($"v") * 2, 6).as("twice_avg"))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(got.keySet == expect.keySet)
    for (k <- got.keySet; (a, b) <- got(k).zip(expect(k))) (a, b) match {
      case (x: Double, y: Double) => assert(math.abs(x - y) < 1e-9, s"$k: $x vs $y")
      case (x, y) => assert(x == y, s"$k: $x vs $y")
    }
    // combine() to the global grain also works through rebuilt finalizers
    val all = eng.combine("v_sx", Seq()).collect()(0)
    val n = allRows.size
    assert(all.getLong(1) == n + 1)
  }

  test("sw_combine as a SQL aggregate over _mrel (pipelinedb--1.0.0.sql:122-140)") {
    val eng = newEngine()
    eng.createStream("swq_s", streamSchema)
    // window far wider than the data's age: every step bucket is live, so
    // SQL sw_combine must equal the full total
    eng.createContView("v_swq_live",
      "SELECT key, count(*) AS n FROM swq_s GROUP BY key",
      CvPlanner.CvOptions(sw = Some("520 weeks"), swColumn = "ts"),
      emitChanges = false)
    // 1-hour window over 2024 timestamps: every bucket expired at read time
    eng.createContView("v_swq_dead",
      "SELECT key, count(*) AS n FROM swq_s GROUP BY key",
      CvPlanner.CvOptions(sw = Some("1 hour"), swColumn = "ts"),
      emitChanges = false)
    // plain CV: sw_combine on its state must be a domain error
    eng.createContView("v_swq_plain",
      "SELECT key, count(*) AS n FROM swq_s GROUP BY key", emitChanges = false)
    eng.insertInto("swq_s", mkBatch(allRows.take(1000)))
    val live = eng.sql("SELECT sw_combine(n) AS n FROM v_swq_live_mrel").collect()(0)
    assert(live.getLong(0) == 1000L)
    val dead = eng.sql("SELECT sw_combine(n) AS n FROM v_swq_dead_mrel").collect()(0)
    assert(dead.isNullAt(0) || dead.getLong(0) == 0L)
    val e = intercept[Exception] {
      eng.sql("SELECT sw_combine(n) AS n FROM v_swq_plain_mrel").collect()
    }
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(messages(e).contains("sw_combine"))
  }

  test("percentile state cap trips loudly on unbounded growth (AggSplit.percentileMaxSample)") {
    val old = AggSplit.percentileMaxSample
    AggSplit.percentileMaxSample = 100
    try {
      val eng = newEngine()
      eng.createStream("cap_s", streamSchema)
      eng.createContView("v_cap",
        "SELECT key, percentile(v, 0.5) AS p50 FROM cap_s GROUP BY key",
        emitChanges = false)
      // one hot group with 101 values: the partial already exceeds the cap
      val hot = (1 to 101).map(i => ("hot", i.toLong, i.toDouble, tAt(i.toLong)))
      val e = intercept[Exception] { eng.insertInto("cap_s", mkBatch(hot)) }
      def messages(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(messages(e).contains("group sample exceeds"))
    } finally AggSplit.percentileMaxSample = old
  }

  test("TTL reaper scans only footer-stat candidate buckets (reaper.c at 100x state)") {
    // smallStateBytes = 0 forces the bucket-pruned large-store path
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val eng = new ContViewEngine(spark, dir, smallStateBytes = 0L)
    eng.createStream("pr_s", streamSchema)
    eng.createContView("v_pr",
      """SELECT date_round(ts, '1 day') AS d, count(*) AS n
        |FROM pr_s GROUP BY date_round(ts, '1 day')""".stripMargin,
      CvPlanner.CvOptions(ttl = Some("7 days"), ttlColumn = Some("d")),
      emitChanges = false)
    // 1500 rows spread hourly over ~62 days → ~62 day-buckets, most expired
    val spread = (1 to 1500).map(i => (s"k${i % 5}", i.toLong, 1.0, tAt(i.toLong * 3600)))
    eng.insertInto("pr_s", mkBatch(spread))
    val maxTs = tAt(1500L * 3600)
    val pass1 = eng.expireTtl("v_pr", Some(maxTs))
    assert(pass1.totalBuckets > 0)
    assert(pass1.rewrittenBuckets > 0, "first pass must delete expired days")
    // surviving state: only day buckets within the 7-day ttl
    val survivors = eng.overlay("v_pr").collect().map(_.getTimestamp(0)).toSet
    val cutoff = new Timestamp(maxTs.getTime - 7L * 86400 * 1000)
    assert(survivors.nonEmpty && survivors.forall(!_.before(cutoff)))
    // an immediately repeated pass has nothing to expire: footer min stats
    // exclude every bucket, so the pass must SCAN ZERO bucket files — this
    // is the property that keeps a 1 s reaper cadence O(metadata), not
    // O(state), at 100x scale
    val pass2 = eng.expireTtl("v_pr", Some(maxTs))
    assert(pass2.totalBuckets > 0)
    assert(pass2.scannedBuckets == 0,
      s"no-op reaper pass scanned ${pass2.scannedBuckets} of ${pass2.totalBuckets} buckets")
    assert(pass2.rewrittenBuckets == 0)
  }

  test("bounded ingest await surfaces the wedged CQ by name (ingestAwaitMs)") {
    val eng = newEngine()
    eng.createStream("to_s", streamSchema)
    eng.createContTransform("t_slow", "SELECT key, x, v, ts FROM to_s",
      outputFunc = Some(_ => Thread.sleep(5000)), emitChanges = false)
    eng.ingestAwaitMs = 300
    val e = intercept[java.util.concurrent.TimeoutException] {
      eng.insertInto("to_s", mkBatch(allRows.take(10)))
    }
    assert(e.getMessage.contains("t_slow"))
  }

  test("query() refuses to clobber user temp views and drops its transient bindings") {
    val eng = newEngine()
    eng.createStream("tv_s", streamSchema)
    eng.createContView("v_tv", "SELECT key, count(*) AS n FROM tv_s GROUP BY key",
      emitChanges = false)
    eng.insertInto("tv_s", mkBatch(allRows.take(100)))
    // a user temp view squatting on the matrel read name must not be
    // silently replaced
    spark.range(1).toDF("z").createOrReplaceTempView("v_tv_mrel")
    val e = intercept[IllegalStateException] { eng.sql("SELECT * FROM v_tv_mrel") }
    assert(e.getMessage.contains("user temp view"))
    spark.catalog.dropTempView("v_tv_mrel")
    // transient bindings are dropped once the statement is analyzed
    assert(eng.sql("SELECT sum(n) AS t FROM v_tv").collect()(0).getLong(0) == 100L)
    assert(!spark.catalog.tableExists("v_tv"))
    assert(!spark.catalog.tableExists("v_tv_mrel"))
  }

  test("clock_timestamp() predicate on a continuous transform is a domain error") {
    val eng = newEngine()
    eng.createStream("ctx_s", streamSchema)
    val e = intercept[IllegalArgumentException] {
      eng.createContTransform("t_sw",
        "SELECT key FROM ctx_s WHERE ts > clock_timestamp() - interval '1 hour'")
    }
    assert(e.getMessage.contains("continuous transforms"))
    // a failed create must not poison the name for a valid retry
    eng.createContTransform("t_sw", "SELECT key FROM ctx_s")
  }

  test("ALTER VIEW RENAME carries state, SQL surface, chaining, and restarts (cont_alter.sql)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ren").toString
    val eng = new ContViewEngine(spark, dir)
    eng.createStream("rn_s", streamSchema)
    eng.createContView("v_rn", "SELECT key, count(*) AS n FROM rn_s GROUP BY key")
    // downstream CV chained on the output stream BEFORE the rename
    eng.createContView("v_rn_roll",
      s"SELECT 1 AS g, sum(delta.n) AS n FROM ${eng.osrelName("v_rn")} GROUP BY 1",
      emitChanges = false)
    eng.insertInto("rn_s", mkBatch(allRows.take(100)))
    eng.sql("ALTER VIEW v_rn RENAME TO v_lol")
    // state answers to the new name; old name is gone
    assert(eng.overlay("v_lol").collect().map(_.getLong(1)).sum == 100L)
    intercept[Exception] { eng.overlay("v_rn") }
    // SQL surface follows: overlay, matrel spelling, combine over state
    assert(eng.sql("SELECT sum(n) AS t FROM v_lol").collect()(0).getLong(0) == 100L)
    assert(eng.sql("SELECT combine(n) AS n FROM v_lol_mrel").collect()(0).getLong(0) == 100L)
    // chaining keeps flowing through the renamed output stream
    eng.insertInto("rn_s", mkBatch(allRows.slice(100, 200)))
    assert(eng.overlay("v_lol").collect().map(_.getLong(1)).sum == 200L)
    assert(eng.overlay("v_rn_roll").collect()(0).getLong(1) == 200L)
    // matrel rename is refused like the reference
    val e = intercept[IllegalArgumentException] {
      eng.sql("ALTER TABLE v_lol_mrel RENAME TO zzz")
    }
    assert(e.getMessage.contains("materialization table"))
    // restart: catalog replay reproduces the renamed layout
    val eng2 = new ContViewEngine(spark, dir)
    assert(eng2.overlay("v_lol").collect().map(_.getLong(1)).sum == 200L)
    eng2.insertInto("rn_s", mkBatch(allRows.slice(200, 250)))
    assert(eng2.overlay("v_lol").collect().map(_.getLong(1)).sum == 250L)
    // cont_alter.sql:7 (commands.c:382-389): AlterTableStmt-encoded view
    // changes are refused on a live CV with the reference's domain message…
    val m = intercept[IllegalArgumentException] {
      eng2.sql("ALTER VIEW v_lol ALTER COLUMN n SET DEFAULT 10")
    }
    assert(m.getMessage.contains("continuous views cannot be modified"))
    // …and with PG's missing-relation error when the target is gone (the
    // regress script aims at the pre-rename name)
    val m2 = intercept[IllegalArgumentException] {
      eng2.sql("ALTER VIEW v_rn ALTER COLUMN n SET DEFAULT 10")
    }
    assert(m2.getMessage.contains("does not exist"))
  }

  test("streams cannot be SELECTed directly (typed_streams.sql:6-7)") {
    val eng = newEngine()
    eng.createStream("ds_s", streamSchema)
    eng.createContView("v_ds", "SELECT key, count(*) AS n FROM ds_s GROUP BY key")
    eng.insertInto("ds_s", mkBatch(allRows.take(50)))
    val e1 = intercept[IllegalArgumentException] { eng.sql("SELECT * FROM ds_s") }
    assert(e1.getMessage.contains("continuous queries"))
    // the output stream is a stream too: direct reads point at output_of
    val e2 = intercept[IllegalArgumentException] { eng.sql("SELECT * FROM v_ds_osrel") }
    assert(e2.getMessage.contains("output_of"))
    // the sanctioned spellings still work
    assert(eng.sql("SELECT sum(n) AS t FROM v_ds").collect()(0).getLong(0) == 50L)
    assert(eng.sql("SELECT count(*) FROM output_of('v_ds')").collect()(0).getLong(0) > 0L)
  }

  test("pk option: output columns accepted, unknown rejected (cont_pk.sql)") {
    val eng = newEngine()
    eng.createStream("pk_s", streamSchema)
    // group key and aggregate output are both valid pk targets
    eng.createContView("v_pk0", "SELECT key, count(*) AS n FROM pk_s GROUP BY key",
      CvPlanner.CvOptions(pk = Some("key")), emitChanges = false)
    eng.sql("""CREATE CONTINUOUS VIEW v_pk1 WITH (pk = 'n') AS
              |SELECT key, count(*) AS n FROM pk_s GROUP BY key""".stripMargin)
    eng.insertInto("pk_s", mkBatch(allRows.take(100)))
    assert(eng.overlay("v_pk0").collect().map(_.getLong(1)).sum == 100L)
    assert(eng.overlay("v_pk1").collect().map(_.getLong(1)).sum == 100L)
    val e = intercept[IllegalArgumentException] {
      eng.createContView("v_pk2", "SELECT key, count(*) AS n FROM pk_s GROUP BY key",
        CvPlanner.CvOptions(pk = Some("not_here")))
    }
    assert(e.getMessage.contains("not_here"))
  }

  test("qualified (dotted) names are rejected up front") {
    val eng = newEngine()
    intercept[IllegalArgumentException] { eng.createStream("a.b", streamSchema) }
    eng.createStream("dn_s", streamSchema)
    intercept[IllegalArgumentException] {
      eng.createContView("sch.v", "SELECT key, count(*) AS n FROM dn_s GROUP BY key")
    }
    intercept[IllegalArgumentException] {
      eng.createContTransform("sch.t", "SELECT key FROM dn_s")
    }
  }

  test("aggregates in subselects are rejected (cont_subselect.sql:40-58)") {
    val eng = newEngine()
    eng.createStream("ns_s", streamSchema)
    val e1 = intercept[IllegalArgumentException] {
      eng.createContView("v_ns1",
        """SELECT c, count(*) AS n FROM (
          |  SELECT key, count(*) AS c FROM ns_s GROUP BY key) t GROUP BY c""".stripMargin)
    }
    assert(e1.getMessage.contains("subselect"))
    val e2 = intercept[IllegalArgumentException] {
      eng.createContView("v_ns2",
        "SELECT ub, count(*) AS n FROM (SELECT DISTINCT key AS ub FROM ns_s) t GROUP BY ub")
    }
    assert(e2.getMessage.contains("subselect"))
  }

  test("interval avg and decimal sum keep exact typed state (sql:142-225 type breadth)") {
    val eng = newEngine()
    eng.createStream("ty_s", streamSchema)
    eng.createContView("v_ty",
      """SELECT key,
        |       avg(ts - TIMESTAMP '2024-06-01 00:00:00') AS gap,
        |       sum(CAST(x AS DECIMAL(20,0)) * 0.0000000001) AS ds
        |FROM ty_s GROUP BY key""".stripMargin,
      emitChanges = false)
    allRows.take(1200).grouped(400).foreach(c => eng.insertInto("ty_s", mkBatch(c)))
    val got = eng.overlay("v_ty").collect()
      .map(r => r.getString(0) -> (r.get(1), r.getDecimal(2))).toMap
    val exp = mkBatch(allRows.take(1200)).groupBy("key").agg(
      avg($"ts" - lit(Timestamp.valueOf("2024-06-01 00:00:00"))).as("gap"),
      sum(expr("CAST(x AS DECIMAL(20,0)) * 0.0000000001")).as("ds")).collect()
      .map(r => r.getString(0) -> (r.get(1), r.getDecimal(2))).toMap
    assert(got == exp) // exact equality: typed states, no double round-trip
  }

  test("sliding window composes across aggregate families (cont_sw_bool/stats/os/hs_agg.sql)") {
    // The SW overlay re-combines live step buckets through each aggregate's
    // generic reAgg — one test pins that the machinery is family-agnostic:
    // bool, stats (variance/corr), ordered-set (exact percentile),
    // hypothetical-set (combinable_rank shape), and sketch (HLL) aggregates
    // under one window, with expiry semantics identical to count's.
    val eng = newEngine()
    eng.createStream("swf_s", streamSchema)
    eng.createContView("v_swf",
      """SELECT key, count(*) AS n,
        |       bool_and(x % 2 = 0) AS all_even, bool_or(x % 2 = 0) AS any_even,
        |       var_samp(v) AS vs, corr(x, v) AS cr,
        |       percentile(v, 0.5) AS p50,
        |       1 + count(*) FILTER (WHERE v < 5.0) AS hypo_rank,
        |       hll_count_distinct(x) AS nd
        |FROM swf_s GROUP BY key""".stripMargin,
      CvPlanner.CvOptions(sw = Some("1000 seconds"), swColumn = "ts", stepFactor = 5),
      emitChanges = false)
    allRows.grouped(700).foreach(c => eng.insertInto("swf_s", mkBatch(c)))

    // live rows at now=t+3000, bucket-aligned like the count SW test
    val bucketCut = new Timestamp((tAt(3000).getTime / 1000 - 1000) / 50 * 50 * 1000)
    val live = mkBatch(allRows).where(CvPlanner.dateRound($"ts", 50) > lit(bucketCut))
    val exp = live.groupBy("key").agg(
      count(lit(1)).as("n"),
      min(($"x" % 2 === 0).cast("int")).as("all_even"),
      max(($"x" % 2 === 0).cast("int")).as("any_even"),
      var_samp($"v").as("vs"), corr($"x", $"v").as("cr"),
      expr("percentile(v, 0.5)").as("p50"),
      (lit(1) + count_if($"v" < 5.0)).as("hypo_rank"),
      expr("hll_count_distinct(x)").as("nd"))
      .collect().map(r => r.getString(0) -> r).toMap
    val got = eng.overlay("v_swf", Some(tAt(3000)))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == exp.keySet)
    got.keySet.foreach { k =>
      val (g, e) = (got(k), exp(k))
      assert(g.getLong(1) == e.getLong(1), s"$k n")
      assert(g.getBoolean(2) == (e.getInt(2) == 1), s"$k all_even")
      assert(g.getBoolean(3) == (e.getInt(3) == 1), s"$k any_even")
      assert(math.abs(g.getDouble(4) - e.getDouble(4)) < 1e-6, s"$k var_samp")
      assert(math.abs(g.getDouble(5) - e.getDouble(5)) < 1e-6, s"$k corr")
      assert(math.abs(g.getDouble(6) - e.getDouble(6)) < 1e-9, s"$k p50")
      assert(g.getLong(7) == e.getLong(7), s"$k hypo_rank")
      assert(g.getLong(8) == e.getLong(8), s"$k hll")
    }
    // beyond window + slop → empty, same as the count-only SW test
    assert(eng.overlay("v_swf", Some(tAt(99999))).count() == 0)
  }

  test("complex stream columns round-trip through CV state (cont_complex_types.sql)") {
    val eng = newEngine()
    // array / struct / map columns on the stream; grouping by a struct
    // FIELD and an array ELEMENT, aggregating into set_agg over elements
    // and min/max over a nested field — state columns themselves carry
    // complex types through the parquet matrel and back
    val schema = StructType(Seq(
      StructField("tags", ArrayType(StringType)),
      StructField("pos", StructType(Seq(
        StructField("region", StringType), StructField("rank", LongType)))),
      StructField("attrs", MapType(StringType, LongType))))
    eng.createStream("cx_s", schema)
    eng.createContView("v_cx",
      """SELECT pos.region AS region, tags[0] AS lead_tag,
        |       count(*) AS n, min(pos.rank) AS lo, max(pos.rank) AS hi,
        |       set_agg(attrs['w']) AS ws
        |FROM cx_s GROUP BY pos.region, tags[0]""".stripMargin,
      emitChanges = false)
    val rows = (1 to 600).map { i =>
      (Seq(s"t${i % 3}", "x"), (s"r${i % 2}", i.toLong), Map("w" -> (i % 5).toLong))
    }
    val df = rows.toDF("tags", "pos", "attrs")
      .select(col("tags"), col("pos").cast(schema("pos").dataType).as("pos"), col("attrs"))
    // two chunks: the second MERGES complex-typed partial states into stored ones
    eng.insertInto("cx_s", df.where(expr("pos.rank % 2 = 0")))
    eng.insertInto("cx_s", df.where(expr("pos.rank % 2 = 1")))
    val got = eng.overlay("v_cx")
      .select(col("region"), col("lead_tag"), col("n"), col("lo"), col("hi"),
        sort_array(col("ws")).as("ws"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getSeq[Long](5))))
      .toMap
    val exp = df.groupBy(expr("pos.region").as("region"), expr("tags[0]").as("lead_tag"))
      .agg(count(lit(1)).as("n"), min("pos.rank").as("lo"), max("pos.rank").as("hi"),
        sort_array(collect_set(expr("attrs['w']"))).as("ws"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getSeq[Long](5))))
      .toMap
    assert(got == exp)
  }

  // ---- append-only (non-aggregating) CVs: cont_view_namespace.sql:61,
  // stream_exprs.sql:2, cont_limit.sql ----

  test("append-only CV stores one row per event, duplicates preserved (stream_exprs.sql)") {
    val eng = newEngine()
    eng.createStream("ap_s", streamSchema)
    eng.createContView("v_ap",
      "SELECT key, x FROM ap_s WHERE x > 50", emitChanges = false)
    val chunks = allRows.grouped(1000).toSeq
    chunks.foreach(c => eng.insertInto("ap_s", mkBatch(c)))
    val got = eng.overlay("v_ap").groupBy("key", "x").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val exp = mkBatch(allRows).where(col("x") > 50).groupBy("key", "x").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == exp)
    assert(got.values.max > 1, "expected repeated (key,x) rows to be preserved")
  }

  test("append CV LIMIT/OFFSET is read-time in arrival order; mrel keeps all (cont_limit.sql)") {
    val eng = newEngine()
    eng.createStream("apl_s", streamSchema)
    eng.createContView("v_apl",
      "SELECT key, x FROM apl_s LIMIT 100 OFFSET 100", emitChanges = false)
    val batches = allRows.take(300).grouped(100).toSeq
    batches.foreach(b => eng.insertInto("apl_s", mkBatch(b)))
    // offset and limit cut exactly at batch boundaries: the slice is batch 2
    val got = eng.overlay("v_apl").groupBy("key", "x").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val exp = mkBatch(batches(1)).groupBy("key", "x").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == exp)
    // the matrel stores ALL rows (LIMIT is not an admission cap for appends)
    assert(eng.stateOf("v_apl").count() == 300L)
  }

  test("append CV sliding window filters the raw timestamp exactly (cont_sw shapes)") {
    val eng = newEngine()
    eng.createStream("apw_s", streamSchema)
    eng.createContView("v_apw",
      "SELECT key, x FROM apw_s WHERE ts > clock_timestamp() - interval '100 seconds'",
      CvPlanner.CvOptions(swColumn = "ts"), emitChanges = false)
    val rows = (1 to 200).map(i => (s"k${i % 3}", i.toLong, 0.0, tAt(i.toLong)))
    eng.insertInto("apw_s", mkBatch(rows))
    val now = Some(tAt(200))
    val got = eng.overlay("v_apw", now).count()
    // rows with ts > t200 - 100s, i.e. seconds 101..200 — exact, not bucketed
    assert(got == 100L)
    // storage expiry reuses the TTL path on the hidden raw-ts column
    val stats = eng.expireTtl("v_apw", now)
    assert(stats.rewrittenBuckets > 0)
    // reap drops ts < cutoff strictly; the row AT the cutoff stays stored
    // (invisible to the overlay's strict > filter) — same decoupling as
    // bucketed SW CVs
    assert(eng.stateOf("v_apw").count() == 101L)
    assert(eng.overlay("v_apw", now).count() == 100L)
  }

  test("append CV TTL reap prunes by footer stats and drops only expired rows") {
    val eng = newEngine()
    eng.createStream("apt_s", streamSchema)
    eng.createContView("v_apt",
      "SELECT key, x, ts FROM apt_s",
      CvPlanner.CvOptions(ttl = Some("100 seconds"), ttlColumn = Some("ts")),
      emitChanges = false)
    eng.insertInto("apt_s", mkBatch((1 to 50).map(i => (s"a$i", i.toLong, 0.0, tAt(i.toLong)))))
    eng.insertInto("apt_s", mkBatch((1 to 50).map(i => (s"b$i", i.toLong, 0.0, tAt(500 + i.toLong)))))
    val stats = eng.expireTtl("v_apt", Some(tAt(550)))
    // the second segment's footer min (t501) is inside the window — pruned
    assert(stats.scannedBuckets < stats.totalBuckets,
      s"expected footer pruning to skip the live segment: $stats")
    val left = eng.overlay("v_apt").select("key").collect().map(_.getString(0)).toSet
    assert(left == (1 to 50).map(i => s"b$i").toSet)
    // a second pass with nothing to expire scans no segment at all
    val noop = eng.expireTtl("v_apt", Some(tAt(550)))
    assert(noop.scannedBuckets == 0)
  }

  test("append CV emits insert changes (old IS NULL) and chains downstream") {
    val eng = newEngine()
    eng.createStream("apc_s", streamSchema)
    eng.createContView("v_apc", "SELECT key, x FROM apc_s WHERE x >= 10")
    // downstream CV aggregates the append CV's output stream
    eng.createContView("v_apc_agg",
      "SELECT count(*) AS n FROM output_of('v_apc')")
    eng.insertInto("apc_s", mkBatch(allRows.take(200)))
    val changes = eng.outputOf("v_apc").get
    val expected = mkBatch(allRows.take(200)).where(col("x") >= 10).count()
    assert(changes.count() == expected)
    assert(changes.where(col("old").isNotNull).count() == 0L)
    assert(changes.where(col("new.x") < 10).count() == 0L)
    val n = eng.overlay("v_apc_agg").collect().head.getLong(0)
    assert(n == expected)
  }

  test("append CV survives an engine restart: replay + version continuity") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cv").toString
    val eng = new ContViewEngine(spark, dir)
    eng.createStream("apr_s", streamSchema)
    eng.createContView("v_apr", "SELECT key, x FROM apr_s", emitChanges = false)
    eng.insertInto("apr_s", mkBatch(allRows.take(100)))
    val eng2 = new ContViewEngine(spark, dir)
    assert(eng2.overlay("v_apr").count() == 100L)
    eng2.insertInto("apr_s", mkBatch(allRows.slice(100, 150)))
    assert(eng2.overlay("v_apr").count() == 150L)
  }

  test("combine()/combine_table are rejected on append CVs") {
    val eng = newEngine()
    eng.createStream("apx_s", streamSchema)
    eng.createContView("v_apx", "SELECT key FROM apx_s", emitChanges = false)
    eng.insertInto("apx_s", mkBatch(allRows.take(10)))
    intercept[IllegalArgumentException] { eng.combine("v_apx", Seq("key")) }
    intercept[IllegalArgumentException] {
      eng.combineTable("v_apx", mkBatch(allRows.take(1)))
    }
    // the restriction wall still applies to append shapes
    intercept[IllegalArgumentException] {
      eng.createContView("v_apx2", "SELECT key FROM apx_s ORDER BY key")
    }
  }

  test("global-aggregate CV (no GROUP BY) emits changes and accumulates (cont_count.sql)") {
    val eng = newEngine()
    eng.createStream("gg_s", streamSchema)
    eng.createContView("v_gg", "SELECT count(*) AS n, sum(x) AS sx FROM gg_s")
    eng.insertInto("gg_s", mkBatch(allRows.take(100)))
    eng.insertInto("gg_s", mkBatch(allRows.slice(100, 250)))
    val row = eng.overlay("v_gg").collect().head
    assert(row.getLong(0) == 250L)
    assert(row.getLong(1) == allRows.take(250).map(_._2).sum)
    val changes = eng.outputOf("v_gg").get
    assert(changes.count() == 2L)
    // the second upsert carries the first's post-image as old
    assert(changes.where(col("old").isNotNull && col("old.n") === 100L).count() == 1L)
  }

  test("variance/stddev legacy spellings split like var_samp/stddev_samp (cont_stats_agg.sql)") {
    val eng = newEngine()
    eng.createStream("va_s", streamSchema)
    eng.createContView("v_va",
      """SELECT key, variance(v) AS vr, var_samp(v) AS vs,
        |stddev(v) AS sd, stddev_samp(v) AS ss FROM va_s GROUP BY key""".stripMargin,
      emitChanges = false)
    allRows.grouped(1000).foreach(c => eng.insertInto("va_s", mkBatch(c)))
    val got = eng.overlay("v_va").collect()
    val exp = mkBatch(allRows).groupBy("key")
      .agg(var_samp(col("v")).as("vr"), stddev_samp(col("v")).as("ss"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    got.foreach { r =>
      val (vr, ss) = exp(r.getString(0))
      Seq(r.getDouble(1), r.getDouble(2)).foreach(x => assert(math.abs(x - vr) < 1e-9))
      Seq(r.getDouble(3), r.getDouble(4)).foreach(x => assert(math.abs(x - ss) < 1e-9))
    }
  }

  test("creation-time validation: subselect target, reserved arrival_timestamp, sw_column alone (create_cont_view.sql)") {
    val eng = newEngine()
    eng.createStream("val_s", streamSchema)
    spark.range(3).toDF("z").createOrReplaceTempView("val_t")
    // scalar subselect in the target list
    val e1 = intercept[IllegalArgumentException] {
      eng.createContView("v_val1",
        "SELECT key, (SELECT max(z) FROM val_t) AS m, count(*) AS n FROM val_s GROUP BY key",
        emitChanges = false)
    }
    assert(e1.getMessage.contains("subselect"))
    // aliasing another column to arrival_timestamp is rejected; the
    // identity alias is allowed (reference arrts shapes)
    val e2 = intercept[IllegalArgumentException] {
      eng.createContView("v_val2",
        "SELECT ts AS arrival_timestamp FROM val_s", emitChanges = false)
    }
    assert(e2.getMessage.contains("arrival_timestamp"))
    eng.createContView("v_val3",
      "SELECT arrival_timestamp AS arrival_timestamp, key FROM val_s",
      emitChanges = false)
    // sw_column without sw is a DDL-time error
    val e3 = intercept[IllegalArgumentException] {
      eng.sql("""CREATE CONTINUOUS VIEW v_val4 WITH (sw_column = ts) AS
                |SELECT count(*) AS n FROM val_s""".stripMargin)
    }
    assert(e3.getMessage.contains("sw_column"))
  }

  // ---- CREATE INDEX analogue: within-file clustering (cont_index.sql) ----

  test("SW/TTL views cluster bucket files by their time column; CREATE INDEX persists") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cv").toString
    val eng = new ContViewEngine(spark, dir)
    eng.createStream("ix_s", streamSchema)
    // a TTL view on a key column clusters by it automatically
    eng.createContView("v_ix",
      "SELECT key, x, count(*) AS n FROM ix_s GROUP BY key, x",
      CvPlanner.CvOptions(ttl = Some("365000 days"), ttlColumn = Some("x")),
      emitChanges = false)
    allRows.grouped(1000).foreach(c => eng.insertInto("ix_s", mkBatch(c)))
    // physical check: inside each LIVE state parquet file (per the
    // manifest — superseded version dirs linger until the next mutation's
    // deferred GC), x is non-decreasing. A manifest entry names a bucket
    // dir (v<N>/__bucket=<b>) or a small store's flat dir (v<N>).
    val stateDir = java.nio.file.Paths.get(dir, "v_ix", "state")
    def liveFiles(): Seq[java.nio.file.Path] = {
      val txt = java.nio.file.Files.readString(stateDir.resolve("_manifest.json"))
      """"(v\d+(?:/[^"]+)?)"""".r.findAllMatchIn(txt).map(_.group(1)).toSeq.distinct
        .flatMap(rel => java.nio.file.Files.walk(stateDir.resolve(rel))
          .iterator().asScala.filter(_.toString.endsWith(".parquet")))
    }
    val files = liveFiles()
    assert(files.nonEmpty)
    files.foreach { f =>
      val xs = spark.read.parquet(f.toString).select("x")
        .collect().map(_.getLong(0)).toSeq
      assert(xs == xs.sorted, s"rows in $f are not clustered by x")
    }
    // aggregate outputs are not indexable — finalized at read time
    intercept[IllegalArgumentException] { eng.createIndex("v_ix", "n") }
    // DDL spelling + restart persistence: re-cluster by key instead
    eng.sql("CREATE INDEX ix0 ON v_ix (key)")
    val eng2 = new ContViewEngine(spark, dir)
    eng2.insertInto("ix_s", mkBatch(allRows.take(500)))
    val after = liveFiles()
    after.foreach { f =>
      val ks = spark.read.parquet(f.toString).select("key")
        .collect().map(_.getString(0)).toSeq
      assert(ks == ks.sorted, s"rows in $f are not clustered by key after CREATE INDEX")
    }
    // correctness is untouched by clustering
    val got = asMap(eng2.overlay("v_ix").groupBy("key").agg(sum("n").as("n")))
    val exp = asMap(mkBatch(allRows ++ allRows.take(500))
      .groupBy("key").agg(count(lit(1)).as("n")))
    assert(got == exp)
  }

  // ---- direct matrel DML: cont_matrel.sql + matrels_writable GUC ----

  test("matrel DML is rejected while matrels_writable is off (cont_matrel.sql:7-9)") {
    val eng = newEngine()
    eng.createStream("mw_s", streamSchema)
    eng.createContView("v_mw", "SELECT count(*) AS n FROM mw_s", emitChanges = false)
    eng.insertInto("mw_s", mkBatch(allRows.take(10)))
    intercept[IllegalArgumentException] {
      eng.sql("UPDATE v_mw_mrel SET n = 2")
    }
    intercept[IllegalArgumentException] {
      eng.sql("DELETE FROM v_mw_mrel")
    }
    intercept[IllegalArgumentException] {
      eng.sql("INSERT INTO v_mw_mrel (n) VALUES (1)")
    }
    // and the gate names the mrel like the reference's error does
    val e = intercept[IllegalArgumentException](eng.updateMatrel("v_mw", Seq("n" -> "2")))
    assert(e.getMessage.contains("v_mw_mrel"))
    assert(eng.overlay("v_mw").collect().head.getLong(0) == 10L)
  }

  test("matrels_writable UPDATE/DELETE/INSERT + continued ingest (cont_matrel.sql:11-39)") {
    val eng = newEngine()
    eng.createStream("mx_s", streamSchema)
    eng.createContView("v_mx", "SELECT count(*) AS n FROM mx_s", emitChanges = false)
    eng.insertInto("mx_s", mkBatch(allRows.take(1)))
    eng.matrelsWritable = true
    // UPDATE the raw count state; the overlay reflects it and the next
    // stream insert combines on top
    assert(eng.updateMatrel("v_mx", Seq("n" -> "2")) == 1L)
    assert(eng.overlay("v_mx").collect().head.getLong(0) == 2L)
    eng.insertInto("mx_s", mkBatch(allRows.slice(1, 2)))
    assert(eng.overlay("v_mx").collect().head.getLong(0) == 3L)
    // DELETE empties the state; ingest reseeds from zero
    eng.sql("DELETE FROM v_mx_mrel")
    assert(eng.overlay("v_mx").count() == 0L)
    eng.insertInto("mx_s", mkBatch(allRows.slice(2, 3)))
    assert(eng.overlay("v_mx").collect().head.getLong(0) == 1L)
    // after truncate, a direct INSERT seeds state; a second insert of the
    // same (keyless) group is the reference's $pk conflict
    eng.truncateContView("v_mx")
    eng.sql("INSERT INTO v_mx_mrel (n) VALUES (5)")
    intercept[IllegalArgumentException] {
      eng.sql("INSERT INTO v_mx_mrel (n) VALUES (10)")
    }
    assert(eng.overlay("v_mx").collect().head.getLong(0) == 5L)
    eng.insertInto("mx_s", mkBatch(allRows.take(1)))
    assert(eng.overlay("v_mx").collect().head.getLong(0) == 6L)
  }

  test("keyed matrel DML: plain-name WHERE, key updates rejected, avg state intact") {
    val eng = newEngine()
    eng.createStream("my_s", streamSchema)
    eng.createContView("v_my",
      "SELECT key, count(*) AS n, avg(v) AS av FROM my_s GROUP BY key",
      emitChanges = false)
    eng.insertInto("my_s", mkBatch(allRows.take(500)))
    eng.matrelsWritable = true
    val before = eng.overlay("v_my").where(col("key") === "k3")
      .collect().head
    // predicate over a key, assignment over the plain state name
    assert(eng.updateMatrel("v_my", Seq("n" -> "n + 100"), Some("key = 'k3'")) == 1L)
    val after = eng.overlay("v_my").where(col("key") === "k3").collect().head
    assert(after.getLong(1) == before.getLong(1) + 100)
    assert(math.abs(after.getDouble(2) - before.getDouble(2)) < 1e-12,
      "avg state must survive an unrelated assignment")
    // group keys are immutable under DML (bucket placement hashes them)
    intercept[IllegalArgumentException] {
      eng.updateMatrel("v_my", Seq("key" -> "'zzz'"))
    }
    // DELETE with a plain-name predicate drops exactly the matching groups
    eng.sql("DELETE FROM v_my_mrel WHERE key = 'k3'")
    assert(eng.overlay("v_my").where(col("key") === "k3").count() == 0L)
    assert(eng.overlay("v_my").count() == 6L)
    // a duplicate-group direct INSERT is rejected
    intercept[IllegalArgumentException] {
      eng.insertMatrel("v_my", Seq(("k0", 1L, 1.0)).toDF("key", "n", "av"))
    }
  }

  test("matrel DML preserves combine-kind metadata: SQL combine() works after a state-seeding INSERT and across restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cv").toString
    val eng = new ContViewEngine(spark, dir)
    eng.createStream("mm_s", streamSchema)
    eng.createContView("v_mm",
      "SELECT key, count(*) AS n, avg(v) AS av FROM mm_s GROUP BY key",
      emitChanges = false)
    eng.matrelsWritable = true
    // direct INSERT into an EMPTY matrel: the user frame carries no state
    // metadata — the stamped write must still let SQL combine()/finalize
    // resolve the bare stored columns. avg's RAW state is its transition
    // struct (s, n), like the reference's bigint[2] matrel column.
    eng.insertMatrel("v_mm",
      Seq(("kA", 2L, 4.0, 2L), ("kB", 3L, 18.0, 3L)).toDF("key", "n", "s", "cnt")
        .select(col("key"), col("n"),
          struct(col("s").as("s"), col("cnt").as("n")).as("av")))
    val combined = eng.query(
      "SELECT combine(n) AS n FROM v_mm_mrel").collect().head.getLong(0)
    assert(combined == 5L)
    // an UPDATE rewrite must not strip metadata from the assigned column
    eng.updateMatrel("v_mm", Seq("n" -> "n + 1"), Some("key = 'kA'"))
    assert(eng.query("SELECT combine(n) AS n FROM v_mm_mrel")
      .collect().head.getLong(0) == 6L)
    // restart: the parquet footers (not this JVM's schema memo) are now the
    // only metadata source — combine() must still resolve
    val eng2 = new ContViewEngine(spark, dir)
    assert(eng2.query("SELECT combine(n) AS n FROM v_mm_mrel")
      .collect().head.getLong(0) == 6L)
    assert(math.abs(eng2.overlay("v_mm").where(col("key") === "kA")
      .collect().head.getDouble(2) - 2.0) < 1e-12)
  }

  test("UPDATE parsing: string literal containing ' WHERE ' does not mis-split (quote-aware scan)") {
    val eng = newEngine()
    eng.createStream("uq_s", streamSchema)
    eng.createContView("v_uq", "SELECT key, x FROM uq_s") // append CV, raw cols
    eng.insertInto("uq_s", mkBatch(allRows.take(3)))
    eng.matrelsWritable = true
    // SET expression contains a literal ' WHERE ' — a regex split would
    // produce predicate "b' = 'x" and a bogus SET tail
    eng.sql("UPDATE v_uq_mrel SET key = 'a WHERE b'")
    assert(eng.overlay("v_uq").where(col("key") === "a WHERE b").count() == 3L)
    // and a real WHERE after such a literal still applies
    eng.sql("UPDATE v_uq_mrel SET key = 'p WHERE q' WHERE x >= 0")
    assert(eng.overlay("v_uq").where(col("key") === "p WHERE q").count() == 3L)
  }

  test("rename mid-ingest: async batches in flight land in the renamed store (single relocated instance)") {
    val eng = newEngine()
    eng.createStream("rn_s", streamSchema)
    eng.createContView("v_rn0",
      "SELECT key, count(*) AS n FROM rn_s GROUP BY key", emitChanges = false)
    // queue async batches, rename while they drain, then barrier
    (0 until 4).foreach { i =>
      eng.insertIntoAsync("rn_s", mkBatch(allRows.slice(i * 100, (i + 1) * 100)))
    }
    eng.renameContView("v_rn0", "v_rn1")
    eng.flush()
    assert(eng.overlay("v_rn1").agg(sum("n")).collect().head.getLong(0) == 400L)
    // further sync ingest keeps combining into the moved store
    eng.insertInto("rn_s", mkBatch(allRows.slice(400, 500)))
    assert(eng.overlay("v_rn1").agg(sum("n")).collect().head.getLong(0) == 500L)
  }

  test("append CV with changes survives compaction batches (newRows reads the physical segment)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cv").toString
    val eng = new ContViewEngine(spark, dir, maxAppendSegments = 3)
    eng.createStream("apcc_s", streamSchema)
    eng.createContView("v_apcc", "SELECT key, x FROM apcc_s") // changes on
    // enough batches that several commits compact the fresh segment away
    // in the same cycle that emits its changes
    (0 until 8).foreach { i =>
      eng.insertInto("apcc_s", mkBatch(allRows.slice(i * 50, (i + 1) * 50)))
    }
    assert(eng.overlay("v_apcc").count() == 400L)
    val changes = eng.outputOf("v_apcc").get
    assert(changes.count() == 400L, "every appended row must emit one insert change")
    assert(changes.where(col("old").isNotNull).count() == 0L)
  }

  test("append CV rows added after a reap pass stay visible (no stale cache)") {
    val eng = newEngine()
    eng.createStream("aprv_s", streamSchema)
    eng.createContView("v_aprv",
      "SELECT key, x, ts FROM aprv_s",
      CvPlanner.CvOptions(ttl = Some("100 seconds"), ttlColumn = Some("ts")),
      emitChanges = false)
    eng.insertInto("aprv_s", mkBatch((1 to 50).map(i => (s"a$i", i.toLong, 0.0, tAt(i.toLong)))))
    eng.insertInto("aprv_s", mkBatch((1 to 50).map(i => (s"b$i", i.toLong, 0.0, tAt(500 + i.toLong)))))
    val stats = eng.expireTtl("v_aprv", Some(tAt(550)))
    assert(stats.rewrittenBuckets > 0)
    assert(eng.overlay("v_aprv").count() == 50L)
    // the regression: a post-reap append must be served by the next read
    eng.insertInto("aprv_s", mkBatch((1 to 20).map(i => (s"c$i", i.toLong, 0.0, tAt(600 + i.toLong)))))
    assert(eng.overlay("v_aprv").count() == 70L)
  }

  test("matrel UPDATE cannot touch hidden infrastructure columns") {
    val eng = newEngine()
    eng.createStream("aph_s", streamSchema)
    eng.createContView("v_aph", "SELECT key, x FROM aph_s", emitChanges = false)
    eng.insertInto("aph_s", mkBatch(allRows.take(10)))
    eng.matrelsWritable = true
    intercept[IllegalArgumentException] {
      eng.updateMatrel("v_aph", Seq(StateStore.PkBatchCol -> "0"))
    }
    // visible output columns of an append CV remain updatable
    assert(eng.updateMatrel("v_aph", Seq("x" -> "x + 1000"), Some("x < 50")) > 0L)
  }

  test("append store compaction bounds segment count without losing rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    val st = new StateStore(spark, dir, keyCols = Nil, appendOnly = true,
      maxAppendSegments = 4)
    (1 to 10).foreach { i =>
      st.upsert(Seq((s"k$i", i.toLong)).toDF("key", "x"), Nil, needOldRows = false)
    }
    val state = st.read().get
    assert(state.count() == 10L)
    // segment count stays bounded (compaction merged the small segments)
    assert(st.deleteWhere(lit(false)).totalBuckets <= 5)
    assert(state.select("key").collect().map(_.getString(0)).toSet ==
      (1 to 10).map(i => s"k$i").toSet)
    // arrival order is preserved through compaction
    val ordered = state.orderBy(col(StateStore.PkBatchCol), col(StateStore.PkRowCol))
      .select("x").collect().map(_.getLong(0)).toSeq
    assert(ordered == (1L to 10L))
  }
}