package graft.cv

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** The CV tier on a Hadoop-FileSystem root: every engine constructed here
  * gets a `file:`-SCHEME root URI, so all store metadata ops (catalog
  * journal, manifest publish, version-dir GC, bucket listings, footer
  * pruning, renames, drops) run through `graft.io.HadoopStoreFs` — the
  * Hadoop FileSystem API — instead of java.nio, while Spark's own bulk
  * parquet IO rides the same URI. This is the deploy shape of a shared-
  * storage cluster (swap `file:` for `hdfs:`/`s3a:`); a java.nio call
  * surviving on the CV store path fails here with an unparseable-path
  * error. The gate tier's equivalent battery is GateHadoopRootSpec
  * (round 17); the BM25 index's is KeywordIndexSpec's file-uri rows.
  */
class HadoopRootSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def uriRoot(): String =
    "file:" + java.nio.file.Files.createTempDirectory("graft_huri").toString

  private val schema = StructType(Seq(
    StructField("key", StringType), StructField("v", DoubleType),
    StructField("ts", TimestampType)))

  private val t0 = Timestamp.valueOf("2024-06-01 00:00:00")
  private def tAt(sec: Long) = new Timestamp(t0.getTime + sec * 1000)

  private def batch(rows: Seq[(String, Double, Timestamp)]): DataFrame =
    rows.toDF("key", "v", "ts")

  private val rows: Seq[(String, Double, Timestamp)] =
    (1 to 600).map(i => (s"k${i % 5}", i.toDouble, tAt(i.toLong)))

  private def counts(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("CV ingest + overlay reads on a file:-scheme root (manifest " +
      "publish, bucket listing, version GC all through Hadoop FS)") {
    val root = uriRoot()
    val eng = new ContViewEngine(spark, root)
    eng.createStream("hs", schema)
    eng.createContView("v_h",
      "SELECT key, count(*) AS n, sum(v) AS sv FROM hs GROUP BY key",
      emitChanges = false)
    rows.grouped(200).foreach(c => eng.insertInto("hs", batch(c)))
    val got = eng.overlay("v_h").select("key", "n").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got === want, "three merged micro-batches on the URI root")
    eng.dropContView("v_h")
    eng.dropStream("hs")
  }

  test("restart replay: the catalog journal and matrel state survive on " +
      "the URI root") {
    val root = uriRoot()
    val eng1 = new ContViewEngine(spark, root)
    eng1.createStream("hr", schema)
    eng1.createContView("v_hr",
      "SELECT key, count(*) AS n FROM hr GROUP BY key", emitChanges = false)
    eng1.insertInto("hr", batch(rows.take(300)))
    // "restart": a fresh engine on the same root replays _catalog.jsonl
    // (read through Hadoop FS) and re-binds the persisted state
    val eng2 = new ContViewEngine(spark, root)
    eng2.insertInto("hr", batch(rows.drop(300)))
    val got = counts(eng2.overlay("v_hr").select("key", "n"))
    val want = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got === want, "pre-restart state + post-restart batch")
    eng2.dropContView("v_hr"); eng2.dropStream("hr")
  }

  test("ALTER VIEW RENAME moves the store dir with FileSystem.rename and " +
      "re-points the live store") {
    val root = uriRoot()
    val eng = new ContViewEngine(spark, root)
    eng.createStream("hn", schema)
    eng.createContView("v_old",
      "SELECT key, count(*) AS n FROM hn GROUP BY key", emitChanges = false)
    eng.insertInto("hn", batch(rows.take(200)))
    eng.renameContView("v_old", "v_new")
    eng.insertInto("hn", batch(rows.slice(200, 400)))
    val got = counts(eng.overlay("v_new").select("key", "n"))
    val want = rows.take(400).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got === want, "state carried across the rename, new writes land")
    eng.dropContView("v_new"); eng.dropStream("hn")
  }

  test("TTL reap (footer-stat pruned listings) and truncate on the URI root") {
    val root = uriRoot()
    val eng = new ContViewEngine(spark, root)
    eng.createStream("ht", schema)
    eng.createContView("v_ht",
      "SELECT key, max(ts) AS latest, count(*) AS n FROM ht GROUP BY key",
      CvPlanner.CvOptions(ttl = Some("1 second"), ttlColumn = Some("latest")),
      emitChanges = false)
    eng.insertInto("ht", batch(rows.take(400)))
    assert(eng.overlay("v_ht").count() > 0)
    // every group's latest is far in the past relative to this bound:
    // the reap both LISTS bucket dirs and reads footers through the seam
    eng.expireTtl("v_ht", Some(tAt(100000)))
    assert(eng.overlay("v_ht").count() === 0, "everything expired")
    eng.truncateContView("v_ht")
    eng.insertInto("ht", batch(rows.take(100)))
    assert(eng.overlay("v_ht").count() > 0, "store usable after truncate")
    eng.dropContView("v_ht"); eng.dropStream("ht")
  }

  test("a crash between the replace-publish renames leaves the PREVIOUS " +
      "manifest readable — no empty-store amnesia, retry converges") {
    val root = uriRoot()
    val eng = new ContViewEngine(spark, root)
    eng.createStream("hc", schema)
    eng.createContView("v_hc",
      "SELECT key, count(*) AS n FROM hc GROUP BY key", emitChanges = false)
    eng.insertInto("hc", batch(rows.take(200))) // commits manifest v0
    val want0 = counts(eng.overlay("v_hc").select("key", "n"))
    val hfs = graft.io.StoreFs.forRoot(root)
      .asInstanceOf[graft.io.HadoopStoreFs]
    hfs.failBetweenRenames = true
    intercept[Exception] { eng.insertInto("hc", batch(rows.slice(200, 400))) }
    // the crashed publish must NOT have destroyed the committed pointer:
    // readers fall back to the aside copy and see the pre-crash state
    assert(counts(eng.overlay("v_hc").select("key", "n")) === want0,
      "pre-crash state visible through the .prev fallback")
    // the caller's retry lands on top of the previous version cleanly
    eng.insertInto("hc", batch(rows.slice(200, 400)))
    val want = rows.take(400).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(counts(eng.overlay("v_hc").select("key", "n")) === want,
      "retried batch merges onto the surviving previous version")
    eng.dropContView("v_hc"); eng.dropStream("hc")
  }

  test("a crash inside the catalog journal's rewrite-append loses no " +
      "definitions: replay falls back to .prev, the next append repairs") {
    val root = uriRoot()
    val eng1 = new ContViewEngine(spark, root)
    eng1.createStream("hxs", schema) // first append: plain create
    eng1.createContView("v_hx",
      "SELECT key, count(*) AS n FROM hxs GROUP BY key", emitChanges = false)
    eng1.insertInto("hxs", batch(rows.take(200)))
    val hfs = graft.io.StoreFs.forRoot(root)
      .asInstanceOf[graft.io.HadoopStoreFs]
    // force the rewrite-publish append path (file:// supports native
    // append; object stores and checksummed-local configs do not) and
    // crash it between the publish's two renames: only
    // _catalog.jsonl.prev survives
    hfs.forceAppendFallback = true
    try {
      hfs.failBetweenRenames = true
      intercept[Exception] { eng1.createStream("hx2", schema) }
      assert(!hfs.exists(s"$root/_catalog.jsonl") &&
        hfs.exists(s"$root/_catalog.jsonl.prev"),
        "crash window: live journal gone, aside present")
    // restart: definitions replay from the aside — nothing forgotten
    val eng2 = new ContViewEngine(spark, root)
    eng2.insertInto("hxs", batch(rows.slice(200, 400)))
    val got = counts(eng2.overlay("v_hx").select("key", "n"))
    val want = rows.take(400).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got === want, "stream+CV replayed from .prev, state intact")
    // the next append SELF-REPAIRS the journal from the aside: the live
    // file reappears carrying the old definitions AND the new one
    eng2.createStream("hx2", schema)
    val journal = hfs.readString(s"$root/_catalog.jsonl")
    for (n <- Seq("hxs", "v_hx", "hx2"))
      assert(journal.contains("\"name\":\"" + n + "\""),
        s"repaired journal must carry $n:\n$journal")
    // and a fresh engine replays all three (ingest through the repaired
    // definitions works end to end)
    val eng3 = new ContViewEngine(spark, root)
    eng3.insertInto("hxs", batch(rows.slice(400, 500)))
    assert(counts(eng3.overlay("v_hx").select("key", "n")).values.sum === 500L,
      "post-repair restart: all definitions live, state intact")
    eng3.dropStream("hx2"); eng3.dropContView("v_hx"); eng3.dropStream("hxs")
    } finally hfs.forceAppendFallback = false
  }

  test("exactly-once streaming restart on the URI root: checkpoint, " +
      "catalog replay, and matrel state all ride the Hadoop FS") {
    val root = uriRoot()
    val srcDir =
      java.nio.file.Files.createTempDirectory("graft_husrc").toString + "/in"
    val eng1 = new ContViewEngine(spark, root)
    eng1.createStream("hq", schema)
    eng1.createContView("v_hq",
      "SELECT key, count(*) AS n FROM hq GROUP BY key", emitChanges = false)
    batch(rows.take(300)).write.mode("append").parquet(srcDir)
    val srcSchema = batch(rows.take(1)).schema
    val q1 = eng1.startStreaming("v_hq",
      spark.readStream.schema(srcSchema).parquet(srcDir))
    q1.processAllAvailable()
    q1.stop()
    // "crash": more data lands while the query is down; a fresh engine
    // on the same URI root replays the catalog and resumes from the
    // checkpoint — files before the crash are NOT re-applied
    batch(rows.drop(300)).write.mode("append").parquet(srcDir)
    val eng2 = new ContViewEngine(spark, root)
    val q2 = eng2.startStreaming("v_hq",
      spark.readStream.schema(srcSchema).parquet(srcDir))
    q2.processAllAvailable()
    q2.stop()
    val got = counts(eng2.overlay("v_hq").select("key", "n"))
    val want = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got === want, "exactly-once across the restart on the URI root")
    eng2.dropContView("v_hq"); eng2.dropStream("hq")
  }

  test("append-only CV (segment manifest, no merge) on the URI root") {
    val root = uriRoot()
    val eng = new ContViewEngine(spark, root)
    eng.createStream("ha", schema)
    eng.createContView("v_ha", "SELECT key, v FROM ha", emitChanges = false)
    rows.take(300).grouped(100).foreach(c => eng.insertInto("ha", batch(c)))
    assert(eng.overlay("v_ha").count() === 300,
      "three blind-append segments readable through the manifest")
    eng.dropContView("v_ha"); eng.dropStream("ha")
  }
}
