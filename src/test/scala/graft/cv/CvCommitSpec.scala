package graft.cv

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** What one CV commit costs in Spark work, and what a reader running
  * beside the commits sees: a small batch into a small aggregating state
  * runs one task per job with no shuffle, a batch above one file split
  * keeps its partitioning, and overlay reads planned before a commit still
  * run after it.
  */
class CvCommitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  import spark.implicits._

  private val streamSchema = StructType(Seq(
    StructField("key", StringType), StructField("x", LongType),
    StructField("ts", TimestampType)))

  private val t0 = Timestamp.valueOf("2024-06-01 00:00:00").getTime

  private def mkBatch(n: Int, seed: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (s"k${rng.nextInt(500)}", rng.nextInt(100).toLong,
      new Timestamp(t0 + i * 1000L))).toDF("key", "x", "ts")
  }

  private def newEngine(): ContViewEngine =
    new ContViewEngine(spark,
      java.nio.file.Files.createTempDirectory("graft_commit").toString)

  /** Per job: the stages that ran, with (tasks, shuffle read + write bytes). */
  private final class JobShapes extends SparkListener {
    val stageOfJob = new ConcurrentHashMap[Int, Seq[Int]]()
    val tasks = new ConcurrentHashMap[Int, AtomicInteger]()
    val shuffle = new ConcurrentHashMap[Int, java.lang.Long]()
    val ended = new AtomicInteger()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      stageOfJob.put(e.jobId, e.stageIds)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      tasks.computeIfAbsent(e.stageId, _ => new AtomicInteger()).incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      shuffle.put(e.stageInfo.stageId, m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

    /** Stages that ran (had tasks) per job, once every started job ended. */
    def settle(): Seq[Seq[(Int, Long)]] = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (ended.get() < stageOfJob.size && System.nanoTime() < deadline)
        Thread.sleep(20)
      Thread.sleep(200) // trailing task/stage events of the last job
      stageOfJob.asScala.toSeq.sortBy(_._1).map { case (_, stages) =>
        stages.filter(tasks.containsKey).map(s =>
          (tasks.get(s).get(), Option(shuffle.get(s)).map(_.longValue).getOrElse(0L)))
      }
    }
  }

  private def shapesOf(f: => Unit): Seq[Seq[(Int, Long)]] = {
    val l = new JobShapes
    spark.sparkContext.addSparkListener(l)
    try { f; l.settle() }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def createCv(eng: ContViewEngine, stream: String, cv: String): Unit = {
    eng.createStream(stream, streamSchema)
    eng.createContView(cv,
      s"SELECT key, count(*) AS n, sum(x) AS s FROM $stream GROUP BY key",
      emitChanges = false)
  }

  test("a small batch into a small aggregating CV commits in one task per job, no shuffle") {
    val eng = newEngine()
    createCv(eng, "cs_s", "v_cs")
    eng.insertInto("cs_s", mkBatch(2000, 1)) // first write: the store exists
    val batch = mkBatch(2000, 2)
    assert(batch.rdd.getNumPartitions > 1)
    val jobs = shapesOf(eng.insertInto("cs_s", batch))
    // the worker (partial aggregate + count) and the merge-write
    assert(jobs.size == 2, s"jobs: $jobs")
    jobs.foreach { stages =>
      assert(stages.map(_._1) == Seq(1), s"a job ran more than one task: $jobs")
      assert(stages.forall(_._2 == 0L), s"a job shuffled: $jobs")
    }
    val want = mkBatch(2000, 1).unionByName(mkBatch(2000, 2))
      .groupBy("key").agg(count(lit(1)), sum("x")).collect().toSet
    assert(eng.overlay("v_cs").collect().toSet == want)
  }

  test("a batch above spark.sql.files.maxPartitionBytes keeps its partitioning") {
    val eng = newEngine()
    createCv(eng, "cb_s", "v_cb")
    eng.insertInto("cb_s", mkBatch(2000, 1))
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1k") // the batch's size estimate is far above
    try {
      val batch = mkBatch(2000, 2)
      val parts = batch.rdd.getNumPartitions
      assert(parts > 1)
      val jobs = shapesOf(eng.insertInto("cb_s", batch))
      assert(jobs.head.map(_._1).contains(parts),
        s"the worker did not scan the batch in its $parts partitions: $jobs")
      assert(jobs.head.exists(_._2 > 0L), s"the worker ran without a shuffle: $jobs")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val want = mkBatch(2000, 1).unionByName(mkBatch(2000, 2))
      .groupBy("key").agg(count(lit(1)), sum("x")).collect().toSet
    assert(eng.overlay("v_cb").collect().toSet == want)
  }

  test("overlay reads racing back-to-back ingests never hit a deleted version") {
    val eng = newEngine()
    createCv(eng, "gr_s", "v_gr")
    eng.insertInto("gr_s", mkBatch(500, 0))
    val ingests = 12
    val committed = new AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var done = false
    // The reader plans each overlay, then runs it only after the writer has
    // committed twice more: the version it planned against is superseded
    // and its successor's commit is the one that garbage-collects it.
    val reader = new Thread(() => {
      while (!done) {
        try {
          val df = eng.overlay("v_gr")
          val target = committed.get() + 2
          while (!done && committed.get() < target) Thread.sleep(5)
          Thread.sleep(100) // background deletion of the superseded dir
          df.collect()
        } catch { case e: Throwable => failures.add(e) }
      }
    })
    reader.start()
    try {
      (1 to ingests).foreach { i =>
        eng.insertInto("gr_s", mkBatch(500, i))
        committed.incrementAndGet()
      }
    } finally {
      done = true
      reader.join(60000)
    }
    assert(failures.isEmpty,
      s"${failures.size} overlay reads failed; first: ${failures.asScala.headOption}")
    val want = (0 to ingests).map(mkBatch(500, _)).reduce(_ unionByName _)
      .groupBy("key").agg(count(lit(1)), sum("x")).collect().toSet
    assert(eng.overlay("v_gr").collect().toSet == want)
  }
}
