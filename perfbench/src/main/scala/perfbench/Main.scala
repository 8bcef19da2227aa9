package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One measured value: what the result JSON calls a metric. */
final case class Metric(value: Double, unit: String, samples: Long)

/** What one workload run produced. */
final class Outcome {
  val metrics: mutable.LinkedHashMap[String, Metric] = mutable.LinkedHashMap.empty
  val checks: mutable.ArrayBuffer[(String, Boolean, String)] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var inputHash = ""
  /** The raw samples behind each timing, kept in the run's result file. */
  val raw: mutable.LinkedHashMap[String, Seq[Double]] = mutable.LinkedHashMap.empty

  def put(name: String, value: Double, unit: String, samples: Long = 1L): Unit =
    metrics(name) = Metric(value, unit, samples)

  /** Median and p90 of `xs`, with the sample count. */
  def putTimes(prefix: String, xs: Seq[Double], unit: String = "ms"): Unit = {
    raw(prefix) = xs
    put(s"${prefix}_p50", Stats.pct(xs, 0.5), unit, xs.size)
    put(s"${prefix}_p90", Stats.pct(xs, 0.9), unit, xs.size)
  }

  def check(name: String, ok: Boolean, detail: String): Unit = checks += ((name, ok, detail))

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$what: ${e.getClass.getSimpleName}: ${
      Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
  }
}

object Stats {
  /** Linear-interpolated percentile (q in [0,1]); NaN for no samples. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val idx = (s.size - 1) * q
    val lo = math.floor(idx).toInt
    val hi = math.ceil(idx).toInt
    s(lo) + (s(hi) - s(lo)) * (idx - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val trace: Trace, val listener: Option[SparkSpans],
    val seed: Long, val seconds: Double, val work: Path, val dataDir: Path) {
  def traced: Boolean = trace.enabled
  def sc = spark.sparkContext

  /** A fresh, empty directory under the run's work dir. */
  def freshDir(name: String): String = {
    val p = work.resolve(name)
    Io.deleteTree(p)
    Files.createDirectories(p)
    p.toString
  }

  /** Heap still in use after a full collection: what the engine retains.
    * Called at the end of the measured phase, while the engine is live. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    System.gc()
    (rt.totalMemory - rt.freeMemory) / 1e6
  }

  /** Blocks until the listener bus has delivered every event posted so far. */
  def drainListener(): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --data DIR --out FILE`. Writes the run's outcome as JSON to
  * FILE and the trace spans next to it; `run.py` turns that into the
  * benchmark's result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val out = Paths.get(opt("out"))
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the engine's function registrations shadow a few builtins and warn
    // each time an engine is constructed
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
      org.apache.logging.log4j.Level.ERROR)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val trace = new Trace(traced)
    val listener = if (traced) Some(new SparkSpans(trace)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, trace, listener, seed, seconds, work,
      Paths.get(opt.getOrElse("data", work.resolve("data").toString)))

    // Spark leaves non-daemon threads behind: stop it and exit explicitly,
    // also when the workload throws
    try run(workload, ctx, seed, out, sessionS)
    catch { case e: Throwable => e.printStackTrace(); spark.stop(); sys.exit(1) }
    spark.stop()
    sys.exit(0)
  }

  private def run(workload: String, ctx: Ctx, seed: Long, out: Path, sessionS: Double): Unit = {
    val (spark, trace, traced) = (ctx.spark, ctx.trace, ctx.traced)
    val o = workload match {
      case "cv_large" => CvLarge.run(ctx)
      case "cv_mixed" => CvMixed.run(ctx)
      case "gate_dedup" => GateDedup.run(ctx)
      case "batch_ops" => BatchOps.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    o.put("spark.session_start_s", sessionS, "s")
    o.put("jvm.rss_mb_peak", Io.vmHwmMb(), "MB")
    if (traced) {
      ctx.drainListener()
      ctx.listener.foreach { l =>
        o.put("spark.jobs", l.jobs.toDouble, "count")
        o.put("spark.tasks", l.tasks.toDouble, "count")
        o.put("spark.gc_ms", l.gcMs.toDouble, "ms")
        o.put("spark.result_bytes", l.resultBytes.toDouble, "B")
        o.put("spark.shuffle_bytes", l.shuffleWriteBytes.toDouble, "B")
      }
      o.put("trace.spans", trace.all.size.toDouble, "count")
      Io.writeSpans(out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".spans.jsonl"),
        trace.all)
    }
    Files.writeString(out, Io.outcomeJson(o, Map(
      "workload" -> workload, "seed" -> seed.toString,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "engine_version" -> graft.cv.ContViewEngine.Version,
      "cpus" -> Runtime.getRuntime.availableProcessors().toString)))
  }
}
