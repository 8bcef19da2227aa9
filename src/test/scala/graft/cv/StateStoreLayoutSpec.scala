package graft.cv

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** The on-disk layout of aggregating state: a small store is rewritten as
  * ONE flat parquet file per merge (every manifest entry names the same
  * `v<N>` dir), a large store keeps one dir per bucket, and reads stay
  * equal to a plain `groupBy` across every mix of the two — small stores
  * written in the older bucket-dir layout, DML that rewrites some buckets
  * of a flat store, and a store crossing the small-state threshold.
  */
class StateStoreLayoutSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-06-01 00:00:00")
  private def tAt(sec: Long) = new Timestamp(t0.getTime + sec * 1000)

  // state rows: key k, count-like n (summed), latest ts (max-merged)
  private val reAgg: Seq[(String, Column => Column)] =
    Seq("n" -> ((c: Column) => sum(c)), "ts" -> ((c: Column) => max(c)))

  private def batch(rows: Seq[(String, Long, Long)]): DataFrame =
    rows.map { case (k, n, s) => (k, n, tAt(s)) }.toDF("k", "n", "ts")

  /** The oracle: a plain groupBy over every batch applied so far. */
  private def oracle(rows: Seq[(String, Long, Long)]): Map[String, (Long, Timestamp)] =
    batch(rows).groupBy("k").agg(sum("n").as("n"), max("ts").as("ts"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getTimestamp(2))).toMap

  private def contents(df: DataFrame): Map[String, (Long, Timestamp)] = {
    val rows = df.select("k", "n", "ts").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getTimestamp(2)))
    assert(rows.map(_._1).distinct.length == rows.length, "a group read twice")
    rows.toMap
  }

  private def manifestOf(root: String): (Long, Boolean, Map[Int, String]) = {
    val txt = new String(Files.readAllBytes(Paths.get(root, "_manifest.json")), "UTF-8")
    val version = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
    val small = """"small"\s*:\s*(true|false)""".r.findFirstMatchIn(txt).get.group(1).toBoolean
    val buckets = """"(\d+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn(txt)
      .map(m => m.group(1).toInt -> m.group(2)).toMap
    (version, small, buckets)
  }

  private def dataFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq

  private def keys(lo: Int, hi: Int, n: Long, s: Long) =
    (lo until hi).map(i => (f"k$i%04d", n, s))

  private def newStore(): (StateStore, String) = {
    val root = Files.createTempDirectory("graft_layout").toString
    (new StateStore(spark, root, Seq("k"), numBuckets = 8), root)
  }

  test("each small merge writes exactly one data file, named by every manifest entry") {
    val (st, root) = newStore()
    var applied = Seq.empty[(String, Long, Long)]
    (0 until 4).foreach { i =>
      val rows = keys(0, 40 + 20 * i, i + 1L, i * 10L)
      st.upsert(batch(rows), reAgg, needOldRows = false)
      applied ++= rows
      val (version, small, buckets) = manifestOf(root)
      assert(small)
      assert(contents(st.read().get) == oracle(applied))
      if (version > 0) { // the first write of an empty store keeps bucket dirs
        assert(buckets.values.toSet == Set(s"v$version"), s"manifest $buckets")
        assert(buckets.keySet.size == 8)
        val files = dataFiles(Paths.get(root, s"v$version"))
        assert(files.size == 1, s"v$version holds ${files.size} data files")
      }
    }
  }

  test("a small store in the older bucket-dir layout (small=true) reopens and turns flat") {
    val root = Files.createTempDirectory("graft_layout_old").toString
    val rows = keys(0, 60, 2L, 5L)
    // the older layout: one partitionBy dir per bucket, small flag set
    batch(rows).withColumn(StateStore.BucketCol, pmod(xxhash64(col("k")), lit(8)))
      .write.partitionBy(StateStore.BucketCol).parquet(s"$root/v3")
    val dirs = Files.list(Paths.get(root, "v3")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(StateStore.BucketCol + "=")).toSeq
    val entries = dirs.map(d => s""""${d.stripPrefix(StateStore.BucketCol + "=")}": "v3/$d"""")
    Files.write(Paths.get(root, "_manifest.json"),
      s"""{"version": 3, "small": true, "buckets": {${entries.mkString(",")}}}""".getBytes("UTF-8"))

    val st = new StateStore(spark, root, Seq("k"), numBuckets = 8)
    assert(contents(st.read().get) == oracle(rows))
    val more = keys(30, 90, 1L, 9L)
    st.upsert(batch(more), reAgg, needOldRows = false)
    assert(contents(st.read().get) == oracle(rows ++ more))
    val (version, small, buckets) = manifestOf(root)
    assert(version == 4 && small)
    assert(buckets.values.toSet == Set("v4"))
    assert(dataFiles(Paths.get(root, "v4")).size == 1)
  }

  test("deleteWhere, TTL reap and updateWhere on flat and on flat-plus-bucket-dir stores") {
    val (st, root) = newStore()
    st.clusterBy = Seq("ts")
    // k0000..k0002 are last seen at t=0, every other group at t>=100
    val batches = Seq(keys(0, 3, 1L, 0L) ++ keys(3, 120, 1L, 100L),
      keys(40, 120, 3L, 100L), keys(3, 60, 1L, 150L))
    batches.foreach(b => st.upsert(batch(b), reAgg, needOldRows = false))
    var expect = oracle(batches.flatten)
    assert(manifestOf(root)._3.values.toSet == Set("v2")) // flat
    val bucketOfKey = batch(batches.flatten).select(col("k"),
      pmod(xxhash64(col("k")), lit(8)).as("b")).distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap

    // a delete that empties a whole bucket leaves every other bucket in the
    // flat dir: the emptied bucket's rows must not come back from it
    val dropBucket = bucketOfKey("k0050")
    val dropped = bucketOfKey.collect { case (k, b) if b == dropBucket => k }.toSet
    st.deleteWhere(col("k").isin(dropped.toSeq: _*))
    expect = expect.filter { case (k, _) => !dropped(k) }
    assert(contents(st.read().get) == expect)
    val (v3, _, afterDrop) = manifestOf(root)
    assert(v3 == 3 && !afterDrop.contains(dropBucket) && afterDrop.values.toSet == Set("v2"))

    // a TTL-style reap (footer-pruned on ts) rewrites only the buckets of
    // k0000..k0002: the store is now flat plus bucket dirs
    val cut = tAt(60)
    val reap = st.deleteWhere(col("ts") < lit(cut),
      pruneLtMicros = Some(("ts", cut.getTime * 1000L)))
    val reaped = Set("k0000", "k0001", "k0002").filterNot(dropped)
    assert(reap.rewrittenBuckets == reaped.map(bucketOfKey).size)
    expect = expect.filter { case (k, _) => !reaped(k) }
    assert(contents(st.read().get) == expect)
    val (_, _, mixed) = manifestOf(root)
    assert(mixed.values.exists(_ == "v2") && mixed.values.exists(_.contains("/")),
      s"expected a mixed manifest: $mixed")

    // updateWhere on the mixed store
    val hit = Set("k0041", "k0107").filterNot(dropped)
    assert(st.updateWhere(Seq("n" -> lit(0L)), col("k").isin(hit.toSeq: _*)) == hit.size)
    expect = expect.map { case (k, (n, ts)) => k -> ((if (hit(k)) 0L else n, ts)) }
    assert(contents(st.read().get) == expect)

    // and an ingest into the mixed store merges every group once, flat again
    val more = keys(100, 130, 5L, 200L)
    st.upsert(batch(more), reAgg, needOldRows = false)
    expect = (expect.toSeq ++ oracle(more).toSeq).groupBy(_._1).map { case (k, vs) =>
      k -> ((vs.map(_._2._1).sum, vs.map(_._2._2).maxBy(_.getTime)))
    }
    assert(contents(st.read().get) == expect)
    val (v, _, flat) = manifestOf(root)
    assert(flat.values.toSet == Set(s"v$v"))
  }

  test("a store crossing SmallStateBytes turns fully bucketed after one merge") {
    val root = Files.createTempDirectory("graft_layout_cross").toString
    val eng = new ContViewEngine(spark, root, smallStateBytes = 12L * 1024)
    eng.createStream("lc_s", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType))))
    eng.createContView("v_lc",
      "SELECT key, count(*) AS n, sum(x) AS s FROM lc_s GROUP BY key", emitChanges = false)
    val stateRoot = s"$root/v_lc/state"
    val rng = new scala.util.Random(11)
    var all = Seq.empty[(String, Long)]
    val seen = Seq.newBuilder[(Boolean, Map[Int, String])]
    // 5 keys, then each batch adds 150 new (random, so barely compressible)
    // keys and revisits old ones: the state grows by a few KB per batch
    val names = (0 until 5 + 150 * 7).map(_ => f"${rng.nextLong()}%016x${rng.nextLong()}%016x")
    (0 until 8).foreach { i =>
      val fresh = if (i == 0) (0 until 5) else (5 + 150 * (i - 1)) until (5 + 150 * i)
      val rows = fresh.map(k => (names(k), rng.nextInt(100).toLong)) ++
        (0 until 50).map(_ => (names(rng.nextInt(fresh.max + 1)), 1L))
      eng.insertInto("lc_s", rows.toDF("key", "x"))
      all ++= rows
      val got = eng.overlay("v_lc").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = all.toDF("key", "x").groupBy("key").agg(count(lit(1)), sum("x")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want, s"overlay != groupBy after batch $i")
      val (_, small, buckets) = manifestOf(stateRoot)
      seen += small -> buckets
    }
    val steps = seen.result()
    def shared(b: Map[Int, String]) = b.values.exists(!_.contains("/"))
    assert(steps.exists { case (s, b) => s && shared(b) }, "the store was never flat")
    val crossed = steps.indexWhere(!_._1)
    assert(crossed > 0 && crossed < steps.size - 1, s"never crossed mid-test: ${steps.map(_._1)}")
    assert(shared(steps(crossed)._2), "the crossing merge writes the flat file it measured")
    steps.drop(crossed + 1).foreach { case (s, b) =>
      assert(!s && !shared(b), s"a large store still names a shared dir: $b")
    }
  }
}
