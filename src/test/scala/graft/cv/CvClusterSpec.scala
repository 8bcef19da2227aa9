package graft.cv

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The CV store tier across REAL JVM boundaries (round 18 — the gate
  * tier has had this since r16; the CV merge/overlay/streaming-restart
  * path ran only under local[n] until now): `local-cluster[2,2,2048]`
  * forks two genuine executor processes, so the bucket-pruned upsert's
  * task serialization, the cross-JVM shuffle on the merge path, overlay
  * reads of the persisted matrel, the exactly-once streaming restart,
  * and the TTL reap all execute with state actually crossing process
  * boundaries. Runs in the forked "cluster" test group (build.sbt
  * testGrouping keys on the *ClusterSpec name; a SparkContext is a JVM
  * singleton and this master differs from the other suites' local[4]).
  */
class CvClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

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
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", jdk17Opens)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (s.sparkContext.statusTracker.getExecutorInfos.length < 3 &&
        System.nanoTime() < deadline) Thread.sleep(500)
    assert(s.sparkContext.statusTracker.getExecutorInfos.length >= 3,
      "local-cluster executors failed to register")
    s
  }

  // Stop the local-cluster context when the suite ends: left running, its
  // Worker relaunches executors into a JVM that is already shutting down.
  override def afterAll(): Unit =
    try spark.stop() finally super.afterAll()

  import spark.implicits._

  private def root(): String =
    java.nio.file.Files.createTempDirectory("graft_cvclu").toString

  private val schema = Seq(("k", 0.0, new Timestamp(0L)))
    .toDF("key", "v", "ts").schema

  private val t0 = Timestamp.valueOf("2024-06-01 00:00:00")
  private def tAt(sec: Long) = new Timestamp(t0.getTime + sec * 1000)

  private val rows: Seq[(String, Double, Timestamp)] =
    (1 to 600).map(i => (s"k${i % 7}", i.toDouble, tAt(i.toLong)))

  private def batch(rs: Seq[(String, Double, Timestamp)]): DataFrame =
    rs.toDF("key", "v", "ts")

  private def counts(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("ingest + overlay with forced-large state: the bucket-pruned " +
      "upsert's merge shuffle crosses real executor JVMs") {
    // smallStateBytes = 0 forces every merge onto the bucket-pruned
    // store path — the 100-TB shape, here with tasks on forked executors
    val eng = new ContViewEngine(spark, root(), smallStateBytes = 0L)
    eng.createStream("cs", schema)
    eng.createContView("v_c",
      "SELECT key, count(*) AS n, sum(v) AS sv, avg(v) AS av " +
        "FROM cs GROUP BY key", emitChanges = false)
    rows.grouped(150).foreach(c => eng.insertInto("cs", batch(c)))
    val got = counts(eng.overlay("v_c").select("key", "n"))
    val want = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got === want, "four cross-JVM merged micro-batches")
    val sv = eng.overlay("v_c").select("key", "sv").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val wantSv = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    sv.foreach { case (k, v) =>
      assert(math.abs(v - wantSv(k)) < 1e-6, s"sum($k)") }
    eng.dropContView("v_c"); eng.dropStream("cs")
  }

  test("engine restart replay: persisted matrel state + catalog journal " +
      "rebind, merges continue across JVMs") {
    val r = root()
    val eng1 = new ContViewEngine(spark, r, smallStateBytes = 0L)
    eng1.createStream("cr", schema)
    eng1.createContView("v_r",
      "SELECT key, count(*) AS n FROM cr GROUP BY key", emitChanges = false)
    eng1.insertInto("cr", batch(rows.take(300)))
    val eng2 = new ContViewEngine(spark, r, smallStateBytes = 0L)
    eng2.insertInto("cr", batch(rows.drop(300)))
    val got = counts(eng2.overlay("v_r").select("key", "n"))
    val want = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got === want, "pre-restart state + post-restart batch")
    eng2.dropContView("v_r"); eng2.dropStream("cr")
  }

  test("exactly-once streaming restart: checkpointed progress survives, " +
      "files ingested before the crash are not re-applied") {
    val r = root()
    val srcDir = root() + "/in"
    val eng1 = new ContViewEngine(spark, r)
    eng1.createStream("cq", schema)
    eng1.createContView("v_q",
      "SELECT key, count(*) AS n FROM cq GROUP BY key", emitChanges = false)
    batch(rows.take(300)).write.mode("append").parquet(srcDir)
    val q1 = eng1.startStreaming("v_q",
      spark.readStream.schema(schema).parquet(srcDir))
    q1.processAllAvailable()
    q1.stop()
    batch(rows.drop(300)).write.mode("append").parquet(srcDir)
    val eng2 = new ContViewEngine(spark, r)
    val q2 = eng2.startStreaming("v_q",
      spark.readStream.schema(schema).parquet(srcDir))
    q2.processAllAvailable()
    q2.stop()
    val got = counts(eng2.overlay("v_q").select("key", "n"))
    val want = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got === want, "exactly-once across the restart on the cluster")
    eng2.dropContView("v_q"); eng2.dropStream("cq")
  }

  test("TTL reap under forced-large state: footer-pruned expiry runs " +
      "against executor-written buckets") {
    val eng = new ContViewEngine(spark, root(), smallStateBytes = 0L)
    eng.createStream("ct", schema)
    eng.createContView("v_t",
      "SELECT key, max(ts) AS latest, count(*) AS n FROM ct GROUP BY key",
      CvPlanner.CvOptions(ttl = Some("1 second"), ttlColumn = Some("latest")),
      emitChanges = false)
    eng.insertInto("ct", batch(rows.take(400)))
    assert(eng.overlay("v_t").count() > 0)
    eng.expireTtl("v_t", Some(tAt(100000)))
    assert(eng.overlay("v_t").count() === 0, "everything expired")
    eng.insertInto("ct", batch(rows.take(100)))
    assert(eng.overlay("v_t").count() > 0, "store usable after the reap")
    eng.dropContView("v_t"); eng.dropStream("ct")
  }
}
