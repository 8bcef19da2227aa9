package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.cv.ContViewEngine
import graft.cv.CvPlanner.CvOptions

/** cv_mixed — open loop: a generator thread sends a fixed-size batch through
  * `insertIntoAsync` on a fixed schedule (it never waits for the engine)
  * into one stream read by five CVs over a small (10k-key) state: per-user
  * aggregates, a sketch CV (HLL `count(DISTINCT)` + t-digest `dist_agg`), a
  * sliding-window CV, a TTL CV and a `max(seq)` CV. One reader thread polls
  * the overlays and calls `tickSw`/`expireTtl` between reads. Latency is
  * freshness: a batch's scheduled send time to the first read of `max(seq)`
  * that shows it.
  */
object CvMixed {
  val Keys = 10000
  // one batch per 1.5 s: a commit of the coalesced batches takes 5-6 s with
  // the reader running, and every batch holds one of the async queue's 10
  // slots until its commit ends; at one batch per second the queue fills
  // and the generator falls behind within 20 s
  val BatchEvents = 500
  val PeriodMs = 1500L
  // the reader calls tickSw or expireTtl (alternately) on a fixed schedule,
  // one every this many ms from the generator's start, so that every run
  // interleaves them with the same batches: both hold the CV's store lock,
  // and ingest waits while they run
  val MaintenanceMs = 4000L
  val Setups = 3
  val Stream = "mx"
  val Users = "mx_users"
  val Sketch = "mx_sketch"
  val Sw = "mx_sw"
  val Ttl = "mx_ttl"
  val Seq_ = "mx_seq"
  val Views: Seq[String] = Seq(Users, Sketch, Sw, Ttl, Seq_)
  // the first batches' freshness is not sampled: the ingest and read paths
  // are still warming up (JIT) while they commit
  val WarmupBatches = 3
  // a batch must become visible within this long after the generator stops
  val DrainTimeoutMs = 30000L
  // a batch sent later than this behind its schedule counts as failed: its
  // freshness no longer measures the engine alone
  val MaxLateMs = 1000.0

  val schema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("item", LongType),
    StructField("value", DoubleType), StructField("seq", LongType),
    StructField("ts", TimestampType)))

  def batch(seed: Long, i: Int, ts: Timestamp): Seq[Row] = {
    val r = new scala.util.Random(seed * 7919L + i)
    (0 until BatchEvents).map { j =>
      Row(r.nextInt(Keys).toLong, r.nextInt(200000).toLong, r.nextInt(1000).toDouble,
        i.toLong * BatchEvents + j, ts)
    }
  }

  def seedRows(seed: Long, ts: Timestamp): Seq[Row] =
    (0 until Keys).map(k => Row(k.toLong, k.toLong, ((k * 31L + seed) % 1000).toDouble, -1L, ts))

  def setup(ctx: Ctx, i: Int, ts: Timestamp): (ContViewEngine, String) = {
    val root = ctx.freshDir(s"cv_mixed_$i")
    val eng = new ContViewEngine(ctx.spark, root)
    eng.createStream(Stream, schema)
    eng.createContView(Users,
      s"SELECT user_id, count(*) AS n, sum(value) AS sv, avg(value) AS av FROM $Stream GROUP BY user_id",
      emitChanges = false)
    eng.createContView(Sketch,
      s"""SELECT CAST(user_id % 16 AS BIGINT) AS grp, count(DISTINCT item) AS nd,
         |dist_agg(value) AS dv FROM $Stream GROUP BY CAST(user_id % 16 AS BIGINT)""".stripMargin,
      emitChanges = false)
    eng.createContView(Sw,
      s"SELECT CAST(user_id % 64 AS BIGINT) AS k, count(*) AS n FROM $Stream GROUP BY CAST(user_id % 64 AS BIGINT)",
      CvOptions(sw = Some("10 seconds")))
    eng.createContView(Ttl,
      s"SELECT date_round(ts, '1 second') AS t, count(*) AS n FROM $Stream GROUP BY date_round(ts, '1 second')",
      CvOptions(ttl = Some("10 seconds"), ttlColumn = Some("t")), emitChanges = false)
    eng.createContView(Seq_, s"SELECT max(seq) AS max_seq FROM $Stream", emitChanges = false)
    eng.insertInto(Stream, ctx.spark.createDataFrame(
      java.util.Arrays.asList(seedRows(ctx.seed, ts): _*), schema))
    (eng, root)
  }

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    val seedTs = new Timestamp(System.currentTimeMillis())
    val setups = (0 until Setups).map { i =>
      val t0 = System.nanoTime()
      val r = setup(ctx, i, seedTs)
      ((System.nanoTime() - t0) / 1e9, r)
    }
    // earlier set-ups release their state; their files go with the work dir
    setups.init.foreach { case (_, (e, _)) => Views.foreach(e.dropContView) }
    o.put("setup_s", Stats.median(setups.map(_._1)), "s", Setups)
    val (eng, root) = setups.last._2

    val p0 = if (ctx.traced) EngineView.procMs(eng) else Map.empty[(String, String), Long]
    val e0 = EngineView.streamBatches(eng).getOrElse(Stream, 0L)

    // ---- generator: batch i is due at start + i·period, whatever the engine does
    val nBatches = WarmupBatches + math.max(1, (ctx.seconds * 1000 / PeriodMs).toInt)
    val due = new Array[Long](nBatches) // epoch ms
    val late = new Array[Double](nBatches)
    val sentCount = new AtomicInteger(0)
    val visible = new ConcurrentHashMap[Int, Double]() // batch → freshness ms
    val genDone = new AtomicBoolean(false)
    val genError = new AtomicReference[Throwable]()
    val start = System.currentTimeMillis() + 200L
    val gen = new Thread(() => {
      try {
        var i = 0
        while (i < nBatches) {
          due(i) = start + i * PeriodMs
          val df = spark.createDataFrame(
            java.util.Arrays.asList(batch(ctx.seed, i, new Timestamp(due(i))): _*), schema)
          val wait = due(i) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          late(i) = math.max(0.0, System.currentTimeMillis() - due(i).toDouble)
          eng.insertIntoAsync(Stream, df)
          sentCount.incrementAndGet()
          i += 1
        }
      } catch { case e: Throwable => genError.set(e) }
      finally genDone.set(true)
    }, "perfbench-loadgen")

    // ---- reader: max(seq) between every other call, so freshness is seen promptly
    val readMs = mutable.ArrayBuffer.empty[Double]
    val readOn = mutable.ArrayBuffer.empty[Double]
    val readOff = mutable.ArrayBuffer.empty[Double]
    val overlayMs = mutable.LinkedHashMap(Views.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val tickMs = mutable.ArrayBuffer.empty[Double]
    val reapMs = mutable.ArrayBuffer.empty[Double]
    var backlogMax = 0
    var maxSeqSeen = -1L
    var nOps = 0
    def op(what: String, kind: String)(body: => Unit): Option[Double] = {
      nOps += 1
      val on = ctx.traced && nOps % 2 == 0
      o.attempted += 1
      val t0 = System.nanoTime()
      try {
        ctx.trace.around(ctx.sc, what, kind, on)(body)
        val ms = (System.nanoTime() - t0) / 1e6
        if (kind == "read") {
          readMs += ms
          if (ctx.traced) (if (on) readOn else readOff) += ms
        }
        Some(ms)
      } catch { case e: Throwable => o.fail(what, e); None }
    }
    def readOverlay(cv: String): Unit = op(s"overlay $cv", "read") {
      cv match {
        case Seq_ =>
          val rows = eng.overlay(Seq_).collect()
          val now = System.currentTimeMillis().toDouble
          if (rows.nonEmpty && !rows(0).isNullAt(0)) maxSeqSeen = math.max(maxSeqSeen, rows(0).getLong(0))
          val vis = ((maxSeqSeen + 1) / BatchEvents).toInt
          (0 until math.min(vis, sentCount.get)).foreach(b => visible.putIfAbsent(b, now - due(b)))
          backlogMax = math.max(backlogMax, sentCount.get - visible.size)
        case Sketch =>
          eng.overlay(Sketch).selectExpr("grp", "nd", "dist_quantile(dv, 0.5) AS p50").collect()
        case other => eng.overlay(other).collect()
      }
    }.foreach(ms => overlayMs(cv) += ms)

    val others = Seq(Users, Sketch, Sw, Ttl)
    gen.start()
    var ticks = 0
    def nextMaintenance = start + MaintenanceMs / 2 + ticks * MaintenanceMs
    var k = 0
    while (!genDone.get || (visible.size < sentCount.get &&
        System.currentTimeMillis() < due(nBatches - 1) + DrainTimeoutMs)) {
      readOverlay(Seq_)
      if (System.currentTimeMillis() >= nextMaintenance) {
        if (ticks % 2 == 0) op("tickSw", "tick")(eng.tickSw(Sw)).foreach(tickMs += _)
        else op("expireTtl", "reap")(eng.expireTtl(Ttl)).foreach(reapMs += _)
        ticks += 1
      } else {
        readOverlay(others(k % others.size))
        k += 1
      }
    }
    gen.join()
    Option(genError.get).foreach(e => o.fail(s"generator, batch ${sentCount.get}", e))
    val sent = sentCount.get
    val onTime = (WarmupBatches until sent).filter(b => late(b) <= MaxLateMs)
    val fresh = onTime.flatMap(b => Option(visible.get(b)))
    (0 until sent).foreach { b =>
      if (!visible.containsKey(b))
        o.fail(s"batch $b", new IllegalStateException(s"not visible within $DrainTimeoutMs ms"))
      else if (late(b) > MaxLateMs)
        o.fail(s"batch $b", new IllegalStateException(
          f"sent ${late(b)}%.0f ms behind schedule (limit $MaxLateMs%.0f ms)"))
    }
    o.attempted += sent
    o.inputHash = Io.sha256((s"seed=${ctx.seed} keys=$Keys" +: (0 until 5).map(b =>
      Io.sha256(batch(ctx.seed, b, new Timestamp(0L)).iterator.map(_.mkString(","))))).iterator)
    val lastVisible = onTime.flatMap(b => Option(visible.get(b)).map(due(b) + _)).maxOption
      .getOrElse(Double.NaN)
    o.put("items_per_s", fresh.size * BatchEvents * 1000.0 / (lastVisible - due(WarmupBatches)), "1/s", fresh.size)
    o.putTimes("latency_ms", fresh)

    val flushOk = try { eng.flush(); true } catch { case e: Throwable => o.fail("flush", e); false }
    o.put("jvm.heap_mb_live", ctx.liveHeapMb(), "MB")
    val lateMax = late.take(sent).max

    if (ctx.traced) {
      val dp = EngineView.delta(p0, EngineView.procMs(eng))
      val commits = EngineView.streamBatches(eng).getOrElse(Stream, 0L) - e0
      Views.foreach { v =>
        o.put(s"cv.worker_ms.$v", dp.getOrElse((v, "worker"), 0L).toDouble / math.max(1L, commits), "ms", commits)
        o.put(s"cv.combiner_ms.$v", dp.getOrElse((v, "combiner"), 0L).toDouble / math.max(1L, commits), "ms", commits)
        o.put(s"cv.overlay_ms.$v", Stats.median(overlayMs(v).toSeq), "ms", overlayMs(v).size)
      }
      o.put("cv.coalesce_factor", sent.toDouble / math.max(1L, commits), "ratio", commits)
      o.put("cv.tick_ms", Stats.median(tickMs.toSeq), "ms", tickMs.size)
      o.put("cv.reap_ms", Stats.median(reapMs.toSeq), "ms", reapMs.size)
      o.putTimes("cv.read_ms", readMs.toSeq)
      o.put("loadgen.late_ms_max", lateMax, "ms", sent)
      o.put("loadgen.backlog_max", backlogMax.toDouble, "count", readMs.size)
      o.put("trace.overhead_pct",
        100.0 * (Stats.median(readOn.toSeq) / Stats.median(readOff.toSeq) - 1.0), "%", readOn.size)
      Common.spanMetrics(ctx, o, Set("read", "tick", "reap"), byWindow = false)
    }
    o.put("io.disk_mb", Io.bytesUnder(root) / 1e6, "MB")
    if (ctx.traced) o.put("io.state_bytes", Views.map(v => EngineView.stateBytes(root, v)).sum.toDouble, "B")

    // ---- correctness after flush: exact aggregates, then the sketches within
    // their error, against the inputs aggregated here in memory
    if (flushOk) {
      val n = new Array[Long](Keys)
      val sv = new Array[Double](Keys)
      val items = Array.fill(16)(mutable.HashSet.empty[Long])
      val values = Array.fill(16)(mutable.ArrayBuffer.empty[Double])
      (seedRows(ctx.seed, seedTs) ++ (0 until sent).flatMap(b => batch(ctx.seed, b, seedTs))).foreach { r =>
        val u = r.getLong(0).toInt
        n(u) += 1
        sv(u) += r.getDouble(2) // integral values: sums are exact in any order
        items(u % 16) += r.getLong(1)
        values(u % 16) += r.getDouble(2)
      }
      val users = eng.overlay(Users).collect()
      val bad = users.count { r =>
        val u = r.getAs[Long]("user_id").toInt
        r.getAs[Long]("n") != n(u) || r.getAs[Double]("sv") != sv(u) ||
          math.abs(r.getAs[Double]("av") - sv(u) / n(u)) > 1e-9 * math.abs(sv(u) / n(u))
      } + math.abs(Keys - users.length)
      o.check("cv_mixed.users_exact", bad == 0, s"$bad mismatched users of $Keys")
      val maxSeq = eng.overlay(Seq_).collect()(0).getLong(0)
      val wantSeq = sent.toLong * BatchEvents - 1
      o.check("cv_mixed.max_seq_exact", maxSeq == wantSeq, s"max(seq) $maxSeq, expected $wantSeq")
      // HLL p=14: relative standard error 1.04/sqrt(2^14) = 0.81%; allow 3σ.
      // t-digest (compression 200): the median estimate must lie between the
      // exact 0.49 and 0.51 quantiles (a 1% rank error).
      def quantile(sorted: IndexedSeq[Double], q: Double): Double = {
        val pos = (sorted.size - 1) * q
        val lo = math.floor(pos).toInt
        sorted(lo) + (sorted(math.ceil(pos).toInt) - sorted(lo)) * (pos - lo)
      }
      val groups = eng.overlay(Sketch).selectExpr("grp", "nd", "dist_quantile(dv, 0.5) AS p50").collect()
      val hllBad = groups.count { r =>
        val x = items(r.getAs[Long]("grp").toInt).size.toDouble
        math.abs(r.getAs[Long]("nd") - x) > 3 * 0.0081 * x
      }
      val tdBad = groups.count { r =>
        val sorted = values(r.getAs[Long]("grp").toInt).sorted.toIndexedSeq
        val p = r.getAs[Double]("p50")
        p < quantile(sorted, 0.49) || p > quantile(sorted, 0.51)
      }
      o.check("cv_mixed.hll_within_error", groups.length == 16 && hllBad == 0,
        s"${groups.length} groups; $hllBad outside 3 sigma (2.43%) of the exact distinct count")
      o.check("cv_mixed.tdigest_within_error", groups.length == 16 && tdBad == 0,
        s"${groups.length} groups; $tdBad medians outside the exact [p49, p51] band")
    }
    o
  }
}
