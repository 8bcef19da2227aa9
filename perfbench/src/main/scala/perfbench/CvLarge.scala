package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cv.ContViewEngine

/** cv_large — closed loop, one client: synchronous `insertInto` of
  * 10,000-event batches into one aggregating CV whose state is forced onto
  * the bucket-pruned merge path (`smallStateBytes = 0`), as state above the
  * engine's in-memory threshold is in production. Keys are log-uniform over
  * the seeded groups, so every batch touches every state bucket: merge-write
  * dominates.
  */
object CvLarge {
  val Groups = 50000
  val BatchEvents = 10000
  val Setups = 3
  // batches per run second: a commit takes about 1.2 s on 4 cores
  val BatchSeconds = 1.2
  val WarmupBatches = 3
  val Stream = "s_large"
  val View = "v_large"

  val schema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("value", DoubleType),
    StructField("seq", LongType)))

  /** Batch `i` of the run: log-uniform keys in [0, Groups), integral values
    * (so sums are exact and comparable bit for bit).
    */
  def batch(seed: Long, i: Int): Seq[Row] = {
    val r = new scala.util.Random(seed * 1000003L + i)
    val lnG = math.log(Groups.toDouble)
    (0 until BatchEvents).map { j =>
      val k = math.min(Groups - 1L, math.floor(math.exp(r.nextDouble() * lnG)).toLong - 1L)
      Row(math.max(0L, k), r.nextInt(1000).toDouble, i.toLong * BatchEvents + j)
    }
  }

  def seedFrame(ctx: Ctx): DataFrame =
    ctx.spark.range(Groups).select(col("id").as("user_id"),
      pmod(col("id") * 7919L + ctx.seed, lit(1000L)).cast("double").as("value"),
      lit(-1L).as("seq"))

  def setup(ctx: Ctx, i: Int): (ContViewEngine, String) = {
    val root = ctx.freshDir(s"cv_large_$i")
    val eng = new ContViewEngine(ctx.spark, root, smallStateBytes = 0L)
    eng.createStream(Stream, schema)
    eng.createContView(View,
      s"SELECT user_id, count(*) AS n, sum(value) AS sv, avg(value) AS av FROM $Stream GROUP BY user_id",
      emitChanges = false)
    eng.insertInto(Stream, seedFrame(ctx))
    (eng, root)
  }

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    // set-up: engine + CV + a 1-write seed of every group, several times
    val setups = (0 until Setups).map { i =>
      val t0 = System.nanoTime()
      val r = setup(ctx, i)
      ((System.nanoTime() - t0) / 1e9, r)
    }
    // earlier set-ups release their state; their files go with the work dir
    setups.init.foreach { case (_, (e, _)) => e.dropContView(View) }
    o.put("setup_s", Stats.median(setups.map(_._1)), "s", Setups)
    val (eng, root) = setups.last._2

    val lat = mutable.ArrayBuffer.empty[Double]
    val latOn = mutable.ArrayBuffer.empty[Double]
    val latOff = mutable.ArrayBuffer.empty[Double]
    val worker = mutable.ArrayBuffer.empty[Double]
    val combiner = mutable.ArrayBuffer.empty[Double]
    val other = mutable.ArrayBuffer.empty[Double]
    val filesW = mutable.ArrayBuffer.empty[Double]
    val bytesW = mutable.ArrayBuffer.empty[Double]
    val hash = mutable.ArrayBuffer.empty[String]
    val sent = mutable.ArrayBuffer.empty[Int]
    // untimed batches warm the ingest path's code (as a running engine's is)
    (0 until WarmupBatches).foreach { w =>
      eng.insertInto(Stream, spark.createDataFrame(java.util.Arrays.asList(batch(ctx.seed, w): _*), schema))
      sent += w
    }
    val batches = math.max(2, math.round(ctx.seconds / BatchSeconds).toInt)
    var i = WarmupBatches
    val runStart = System.nanoTime()
    while (i < WarmupBatches + batches) {
      val rows = batch(ctx.seed, i)
      if (i < WarmupBatches + 4) hash += Io.sha256(rows.iterator.map(_.mkString(",")))
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      // in the traced run every other batch is traced, so the untraced
      // ones in between give the tracing overhead
      val on = ctx.traced && i % 2 == 1
      val (p0, e0, f0) =
        if (on) (EngineView.procMs(eng), EngineView.execMs(eng), Io.snapshot(root))
        else (Map.empty[(String, String), Long], Map.empty[String, Long], Map.empty[String, (Long, Long)])
      o.attempted += 1
      val t0 = System.nanoTime()
      try {
        ctx.trace.around(ctx.sc, "insertInto", "op", on)(eng.insertInto(Stream, df))
        sent += i
      } catch { case e: Throwable => o.fail(s"insertInto batch $i", e) }
      val ms = (System.nanoTime() - t0) / 1e6
      lat += ms
      if (ctx.traced) (if (on) latOn else latOff) += ms
      if (on) {
        val dp = EngineView.delta(p0, EngineView.procMs(eng))
        val de = EngineView.delta(e0, EngineView.execMs(eng))
        worker += dp.getOrElse((View, "worker"), 0L).toDouble
        combiner += dp.getOrElse((View, "combiner"), 0L).toDouble
        other += ms - de.values.max
        val (nf, nb) = Io.written(f0, Io.snapshot(root))
        filesW += nf.toDouble
        bytesW += nb.toDouble
      }
      i += 1
    }
    val runS = (System.nanoTime() - runStart) / 1e9
    o.inputHash = Io.sha256((s"seed=${ctx.seed} groups=$Groups" +: hash).iterator)
    o.put("items_per_s", sent.size * BatchEvents / runS, "1/s", sent.size)
    o.putTimes("latency_ms", lat.toSeq)

    o.put("jvm.heap_mb_live", ctx.liveHeapMb(), "MB")
    if (ctx.traced) {
      o.put("cv.worker_ms", Stats.median(worker.toSeq), "ms", worker.size)
      o.put("cv.combiner_ms", Stats.median(combiner.toSeq), "ms", combiner.size)
      o.put("cv.insert_other_ms", Stats.median(other.toSeq), "ms", other.size)
      o.put("io.files_written_per_batch", Stats.median(filesW.toSeq), "count", filesW.size)
      o.put("io.bytes_written_per_batch", Stats.median(bytesW.toSeq), "B", bytesW.size)
      val sb = EngineView.stateBytes(root, View).toDouble
      o.put("io.state_bytes", sb, "B")
      o.put("io.write_amplification", if (sb > 0) Stats.median(bytesW.toSeq) / sb else 0.0, "ratio")
      o.put("trace.overhead_pct",
        100.0 * (Stats.median(latOn.toSeq) / Stats.median(latOff.toSeq) - 1.0), "%", latOn.size)
      Common.spanMetrics(ctx, o, Set("op"))
    }
    o.put("io.disk_mb", Io.bytesUnder(root) / 1e6, "MB")

    // correctness: the overlay equals a plain groupBy over seed + batches
    val all = sent.toSeq.map(b => spark.createDataFrame(
      java.util.Arrays.asList(batch(ctx.seed, b): _*), schema))
      .foldLeft(seedFrame(ctx))(_ unionByName _)
    val expect = all.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("sv"), avg("value").as("av"))
    val got = eng.overlay(View)
    val bad = got.as("g").join(expect.as("e"), col("g.user_id") === col("e.user_id"), "full_outer")
      .where(col("g.user_id").isNull || col("e.user_id").isNull ||
        col("g.n") =!= col("e.n") || col("g.sv") =!= col("e.sv") ||
        abs(col("g.av") - col("e.av")) > lit(1e-9) * abs(col("e.av")))
      .count()
    o.check("cv_large.overlay_equals_groupby", bad == 0,
      s"$bad mismatched groups of $Groups after ${sent.size} batches")
    o
  }
}
