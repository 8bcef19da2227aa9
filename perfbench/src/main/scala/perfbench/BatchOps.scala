package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.queries._

/** batch_ops — one client runs registry queries over the seeded
  * sf0.01-sized tables, in a fixed order, whole passes back to back. The
  * first (warm) pass is set-up and is not timed; its results are dumped for
  * the DuckDB oracle compare. The only workload where `ops` does the work.
  *
  * The queries are one per `ops` operator family, the heaviest of each: a
  * warm pass over all 49 queries of the Dedup, Text, Similarity, Pipeline,
  * Curation and Sketch families takes 30 s at sf0.01 on 4 cores (68 s cold),
  * more than one benchmark run can spend.
  */
object BatchOps {
  val Queries: Seq[String] = Seq("q_dedup_clusters", "q_minhash_neardup", "q_ann_ivfpq",
    "q_bm25_topk_pruned", "q_dist_quantiles")
  // run seconds per measured pass (a pass takes about 5 s on 4 cores)
  val PassSeconds = 5.0

  def registry: Seq[QDef] = {
    val all = (DedupQueries.all ++ TextQueries.all ++ SimilarityQueries.all ++
      PipelineQueries.all ++ CurationQueries.all ++ SketchQueries.all).map(q => q.name -> q).toMap
    Queries.map(all)
  }

  /** Order-insensitive digest of a result. */
  private def digest(rows: Array[Row]): String = Io.sha256(rows.map(_.toString).sorted.iterator)

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    val dir = ctx.dataDir.toString
    val qs = registry
    val results = ctx.work.resolve("results")
    Files.createDirectories(results)

    // set-up: the warm pass, whose results are the ones the oracle checks
    val warm = mutable.LinkedHashMap.empty[String, String]
    val meta = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    qs.foreach { q =>
      o.attempted += 1
      try {
        val df = q.fn(spark, dir)
        val rows = df.collect()
        warm(q.name) = digest(rows)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.parquet(results.resolve(q.name).toString)
        meta += s"""{"name": ${Io.q(q.name)}, "rows": ${rows.length}, "oracle": ${
          q.oracle.map(Io.q).getOrElse("null")}}"""
      } catch { case e: Throwable => o.fail(s"${q.name} (warm pass)", e) }
    }
    o.put("setup_s", (System.nanoTime() - t0) / 1e9, "s", 1)
    Files.writeString(results.resolve("queries.json"), meta.mkString("{\"queries\": [", ", ", "]}"))

    // timed passes: a fixed number of whole passes for the run length
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val onOff = mutable.LinkedHashMap.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
    val lat = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val mismatched = mutable.LinkedHashSet.empty[String]
    val passes = math.max(1, math.round(ctx.seconds / PassSeconds).toInt)
    var pass = 0
    val runStart = System.nanoTime()
    while (pass < passes) {
      var sum = 0.0
      qs.zipWithIndex.foreach { case (q, i) =>
        // traced run: alternate traced and untraced executions
        val on = ctx.traced && (i + pass) % 2 == 1
        o.attempted += 1
        val t = System.nanoTime()
        try {
          val rows = ctx.trace.around(ctx.sc, q.name, "op", on)(q.fn(spark, dir).collect())
          val ms = (System.nanoTime() - t) / 1e6
          sum += ms
          lat += ms
          perQuery.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += ms
          onOff.getOrElseUpdate((q.name, on), mutable.ArrayBuffer.empty) += ms
          if (!warm.get(q.name).contains(digest(rows))) mismatched += q.name
        } catch { case e: Throwable => o.fail(q.name, e) }
      }
      passS += sum / 1e3
      pass += 1
    }
    val runS = (System.nanoTime() - runStart) / 1e9
    o.inputHash = Io.sha256(Iterator(s"seed=${ctx.seed}"))
    o.put("items_per_s", lat.size / runS, "1/s", lat.size)
    o.putTimes("latency_ms", lat.toSeq)
    if (ctx.traced) o.put("ops.batch_s", Stats.median(passS.toSeq), "s", passS.size)
    o.put("jvm.heap_mb_live", ctx.liveHeapMb(), "MB")
    o.check("batch_ops.timed_results_equal_warm_pass", mismatched.isEmpty,
      if (mismatched.isEmpty) s"${qs.size} queries x $pass passes"
      else s"results changed between passes: ${mismatched.mkString(", ")}")

    if (ctx.traced) {
      perQuery.foreach { case (n, xs) => o.put(s"ops.${n}_s", Stats.median(xs.toSeq) / 1e3, "s", xs.size) }
      val costs = Common.spanMetrics(ctx, o, Set("op"))
      // per traced pass: traced ops are half the executions
      val tracedPasses = math.max(1.0, costs.size.toDouble / qs.size)
      o.put("ops.shuffle_bytes", costs.map(_.shuffleBytes).sum / tracedPasses, "B", costs.size)
      o.put("ops.tasks", costs.map(_.tasks).sum / tracedPasses, "count", costs.size)
      // each query's traced executions against its own untraced ones
      val ratios = qs.flatMap(q => for (a <- onOff.get((q.name, true)); b <- onOff.get((q.name, false)))
        yield Stats.median(a.toSeq) / Stats.median(b.toSeq))
      o.put("trace.overhead_pct", 100.0 * (Stats.median(ratios) - 1.0), "%", ratios.size)
    }
    o
  }
}
