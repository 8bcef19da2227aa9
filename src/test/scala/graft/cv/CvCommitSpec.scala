package graft.cv

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cv.CvPlanner.CvOptions
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** What one CV commit costs in Spark work, and what a reader running
  * beside the commits sees: a small batch into a small aggregating state
  * runs one task per job with no shuffle and compiles no generated class,
  * a batch above one file split keeps its partitioning, a large store's
  * merge keeps whole-stage codegen, and overlay reads planned before a
  * commit still run after it.
  */
class CvCommitSpec extends AnyFunSuite with SharedSpark {

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

  /** Physical plans of the SQL executions `f` starts, as plan-info trees. */
  private def executedPlansOf(f: => Unit): Seq[SparkPlanInfo] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      // the bus delivers asynchronously: wait until it has gone quiet
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var seen = -1
      while (seen != plans.size && System.nanoTime() < deadline) {
        seen = plans.size
        Thread.sleep(300)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    plans.asScala.toSeq
  }

  private def hasWholeStageCodegen(p: SparkPlanInfo): Boolean =
    p.nodeName.startsWith("WholeStageCodegen") || p.children.exists(hasWholeStageCodegen)

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

  test("steady-state small commits, overlays, ticks and reaps compile no class") {
    val eng = newEngine()
    eng.createStream("cc_s", streamSchema)
    eng.createContView("v_cc_agg",
      "SELECT key, count(*) AS n, sum(x) AS s, avg(x) AS a FROM cc_s GROUP BY key",
      emitChanges = false)
    eng.createContView("v_cc_sw", "SELECT key, count(*) AS n FROM cc_s GROUP BY key",
      CvOptions(sw = Some("10 seconds"), swColumn = "ts"))
    eng.createContView("v_cc_ttl",
      "SELECT date_round(ts, '1 second') AS t, count(*) AS n FROM cc_s " +
        "GROUP BY date_round(ts, '1 second')",
      CvOptions(ttl = Some("10 seconds"), ttlColumn = Some("t")), emitChanges = false)
    // built up front: encoding a local Seq compiles on the test's session
    val batches = (0 until 8).map { i =>
      val rng = new scala.util.Random(100 + i)
      val now = System.currentTimeMillis()
      (0 until 300).map(_ => (s"k${rng.nextInt(200)}", rng.nextInt(100).toLong,
        new Timestamp(now - rng.nextInt(20000)))).toDF("key", "x", "ts")
    }
    def cycle(b: DataFrame): Unit = {
      eng.insertInto("cc_s", b)
      Seq("v_cc_agg", "v_cc_sw", "v_cc_ttl").foreach(eng.overlay(_).collect())
      eng.tickSw("v_cc_sw")
      eng.expireTtl("v_cc_ttl")
    }
    // first write, first merge, first tick and reap: class loading and the
    // one-off plans of an empty store settle
    batches.take(3).foreach(cycle)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val plans = executedPlansOf(batches.drop(3).foreach(cycle))
    assert(compiles.getCount - before == 0L,
      s"${compiles.getCount - before} classes compiled over 5 small commit cycles")
    assert(plans.nonEmpty && !plans.exists(hasWholeStageCodegen),
      "a small commit or read ran a whole-stage codegen plan")
  }

  test("a large store's merge keeps whole-stage codegen") {
    val eng = new ContViewEngine(spark,
      java.nio.file.Files.createTempDirectory("graft_commit").toString, smallStateBytes = 0L)
    createCv(eng, "cl_s", "v_cl")
    eng.insertInto("cl_s", mkBatch(2000, 1))
    val plans = executedPlansOf(eng.insertInto("cl_s", mkBatch(2000, 2)))
    val merge = plans.filter(_.nodeName.contains("InsertIntoHadoopFsRelationCommand"))
    assert(merge.nonEmpty && merge.forall(hasWholeStageCodegen),
      s"merge plans: ${merge.map(_.simpleString)}")
  }

  test("a small store at or above InterpretedStateBytes merges on codegen") {
    val eng = newEngine()
    eng.createStream("ci_s", streamSchema)
    val h = eng.createContView("v_ci",
      "SELECT key, count(*) AS n, sum(x) AS s FROM ci_s GROUP BY key", emitChanges = false)
    val rng = new scala.util.Random(5)
    eng.insertInto("ci_s", (0 until 150000).map(i =>
      (s"key-$i-${rng.nextLong()}", rng.nextLong(), new Timestamp(t0))).toDF("key", "x", "ts"))
    assert(!h.store.onSmallSession)
    val plans = executedPlansOf(eng.insertInto("ci_s", mkBatch(200, 1)))
    val merge = plans.filter(_.nodeName.contains("InsertIntoHadoopFsRelationCommand"))
    assert(merge.nonEmpty && merge.forall(hasWholeStageCodegen),
      s"merge plans: ${merge.map(_.simpleString)}")
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
