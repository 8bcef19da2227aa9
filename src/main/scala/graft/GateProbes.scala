package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gate-scale growth probes behind [[Bench]]'s per-round artifact:
  * per-batch latency of each streaming dedup gate against a seen-store
  * seeded to multiples of the per-batch volume. The 100-TB claim under test: with bucket-range-pruned
  * store reads, per-batch cost tracks the BATCH's candidate keys, so ev/s
  * should stay roughly flat as the store grows 10x — not fall 10x, which
  * is what a whole-store-rescan design measures.
  *
  * Batches carry 25% repeats of seeded content so every measured batch
  * pays the bloom-positive store path (the steady-state worst case; a
  * fully-fresh batch never touches the store at all).
  *
  * Every point is measured once, as a fixed number of timed batches; the
  * artifact gets the median ev/s plus the spread and sample count, so a
  * probe's cost is fixed by its sizes and never by what it reads.
  */
object GateProbes {

  private type Gate =
    graft.streaming.ShardedGate[graft.streaming.ShardableGateCore]

  /** The probes' `kind` gate "gs_gate" from stream gs_in to gs_out. */
  private def probeGate(eng: graft.cv.ContViewEngine, kind: String,
      storeRoot: String, dim: Int, backend: String, shards: Int): Gate =
    kind match {
      case "exact" => graft.streaming.StreamDedupGate.create(eng, "gs_gate",
        "SELECT id, body FROM gs_in", keySql = "md5(body)", orderCol = "id",
        sink = "gs_out", storeRoot = storeRoot, backend = backend,
        shards = shards)
      case "simhash" => graft.streaming.SimHashNearDupGate.create(eng, "gs_gate",
        "SELECT id, body FROM gs_in", textSql = "body", orderCol = "id",
        sink = "gs_out", storeRoot = storeRoot, backend = backend,
        shards = shards)
      case "jaccard" => graft.streaming.JaccardNearDupGate.create(eng, "gs_gate",
        "SELECT id, body FROM gs_in", textSql = "body", orderCol = "id",
        sink = "gs_out", storeRoot = storeRoot, threshold = 0.8,
        backend = backend, shards = shards)
      case _ => graft.streaming.CosineNearDupGate.create(eng, "gs_gate",
        "SELECT id, embedding FROM gs_in", embSql = "embedding",
        orderCol = "id", sink = "gs_out", storeRoot = storeRoot,
        threshold = 0.98, dim = dim, backend = backend, shards = shards)
    }

  /** One measured point: the wall seconds of each timed batch of `rows`. */
  final case class Point(rows: Int, secs: Seq[Double]) {
    private def ev(s: Double): Long = if (s > 0) math.round(rows / s) else 0L
    /** ev/s at the median batch. */
    def evPerSec: Long = ev(secs.sorted.apply(secs.size / 2))
    /** Detail-line form: median ev/s, the slowest and fastest batch's
      * ev/s, and the sample count. */
    def json: String =
      s"""{"ev_s":$evPerSec,"lo":${ev(secs.max)},"hi":${ev(secs.min)},"n":${secs.size}}"""
  }

  /** One seeded-store chain's points, keyed by (backend, scale), plus the
    * exact kind's big-batch pushdown point with the largest InSet shipped
    * (keys, KB). */
  final case class Chain(points: Map[(String, Long), Point],
      pushdown: Option[(Point, Int, Long)])

  /** Timed batches per measured point. */
  private val NBatches = 5

  /** `kind` ∈ {exact, simhash, jaccard, cosine} against ONE seeding chain:
    * the store is seeded (through a driver gate, which also regrows the
    * bloom) to each of `scales` × `batchRows` once, in ascending order;
    * at each scale every backend in `backends` attaches to the same store,
    * measures [[NBatches]] timed batches after a one-time 2-batch warm-up,
    * and detaches (the engine root is separate from the store root, so
    * the store survives). `shards` ≥ 2 builds the key-space-sharded form.
    *
    * `bigBatchRows` > 0 (exact kind): after the last scale, re-attach the
    * driver gate and feed [[NBatches]] batches of that many rows with
    * [[graft.streaming.GateStore]]'s inSet capture on — the measured cost
    * of a large candidate list serializing into every scan task (the
    * `maxPushdownKeys` trade).
    *
    * The seeded stores and their executor shards are dropped when the
    * chain ends, failed or not: they are hundreds of MB per kind. */
  def chain(spark: SparkSession, kind: String, batchRows: Int,
      scales: Seq[Long], backends: Seq[String], shards: Int = 1,
      bigBatchRows: Int = 0): Chain = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_gdc_$kind")
    try seededChain(spark, root, kind, batchRows, scales, backends, shards, bigBatchRows)
    finally {
      graft.streaming.ExecutorGateState.dropUnder(root.toAbsolutePath.toString)
      graft.streaming.StreamDedupGate.deleteRecursively(root.toFile)
    }
  }

  private def seededChain(spark: SparkSession, root: java.nio.file.Path, kind: String,
      batchRows: Int, scales: Seq[Long], backends: Seq[String], shards: Int,
      bigBatchRows: Int): Chain = {
    import graft.streaming.StreamDedupGate.DriverBackend
    import org.apache.spark.sql.types.{StructField, StructType, StringType, LongType, ArrayType, DoubleType}
    // engine root ≠ store root: dropContTransform deletes
    // <engineRoot>/<name>, so the seeded store at <storeRoot>/<name>
    // survives gate detach/re-attach
    val eng = new graft.cv.ContViewEngine(spark, root.resolve("eng").toString)
    val storeRoot = root.toString
    val dim = 32
    def vec(c: Column) = array((1 to dim).map(k =>
      (pmod(xxhash64(c * lit(k)), lit(2001L)) - lit(1000L)).cast("double")
        / lit(1000.0)): _*)
    def body(c: Column) = concat_ws(" ",
      (0 until 40).map(i => concat(lit(s"t$i"),
        pmod(xxhash64(c * (i + 1)), lit(99991L)).cast("string"))): _*)
    val textual = kind != "cosine"
    val inSchema =
      if (textual) StructType(Seq(StructField("id", LongType), StructField("body", StringType)))
      else StructType(Seq(StructField("id", LongType),
        StructField("embedding", ArrayType(DoubleType))))
    val outSchema = kind match {
      case "exact" => StructType(inSchema.fields :+ StructField("h", StringType))
      case "simhash" => StructType(inSchema.fields :+ StructField("fp", LongType))
      case _ => inSchema
    }
    eng.createStream("gs_in", inSchema)
    eng.createStream("gs_out", outSchema)
    // payload(cid): the content for content-id cid — seeds and batches
    // share it so a dup row really repeats seeded content
    def payload(rows: DataFrame) =
      if (textual) rows.select(col("id"), body(col("cid")).as("body"))
      else rows.select(col("id"), vec(col("cid")).as("embedding"))
    def attach(backend: String): Gate =
      probeGate(eng, kind, storeRoot, dim, backend, shards)
    def detach(gate: Gate): Unit = {
      gate.drainCommits()
      eng.dropContTransform("gs_gate")
    }
    def seed(gate: Gate, fromId: Long, n: Long): Unit = {
      val chunk = 100000L
      var off = 0L
      while (off < n) {
        val m = math.min(chunk, n - off)
        gate.seedStore(payload(spark.range(m)
          .select((col("id") + fromId + off).as("id"))
          .withColumn("cid", col("id"))))
        off += m
      }
      // compacted range shards + a right-sized bloom are the steady state
      // the per-batch numbers should measure
      gate.compact()
    }
    var nextId = 1L << 40 // batch ids above any seed id
    def feedOne(seeded: Long, b: Int, rows: Int): Double = {
      val nNew = rows * 3 / 4
      val base = nextId
      nextId += rows
      val fresh = spark.range(nNew)
        .select((col("id") + base).as("id")).withColumn("cid", col("id"))
      val dups = spark.range(rows - nNew)
        .select((col("id") + base + nNew).as("id"),
          pmod(xxhash64(col("id") * lit(7L) + lit(b)), lit(seeded)).as("cid"))
      val batch = payload(fresh.unionByName(dups)).persist()
      batch.count()
      val t0 = System.nanoTime()
      eng.insertInto("gs_in", batch)
      val sec = (System.nanoTime() - t0) / 1e9
      batch.unpersist()
      sec
    }
    def measure(seeded: Long, rows: Int, from: Int): Point =
      Point(rows, (0 until NBatches).map(b => feedOne(seeded, from + b, rows)))
    // one-time UNTIMED warm-up per backend: the whole gate path (key exprs,
    // collect, decide, sink) JIT-compiles on the first few batches, and a
    // cold first point reads up to 10-20x slower than the same code warm
    val warmed = scala.collection.mutable.Set[String]()
    var seededTo = 0L
    val points = scales.sorted.flatMap { mult =>
      val target = batchRows.toLong * mult
      if (target > seededTo) {
        val g = attach(DriverBackend)
        seed(g, seededTo, target - seededTo)
        seededTo = target
        detach(g)
      }
      backends.map { backend =>
        val g = attach(backend)
        if (warmed.add(backend))
          (0 until 2).foreach(b => feedOne(seededTo, -1 - b, batchRows))
        val p = measure(seededTo, batchRows, 0)
        detach(g)
        (backend, mult) -> p
      }
    }.toMap
    val pushdown =
      if (bigBatchRows <= 0) None
      else {
        val g = attach(DriverBackend)
        graft.streaming.StreamDedupGate.setInSetCapture(true)
        try {
          val p = measure(seededTo, bigBatchRows, 100)
          val (keys, bytes) = graft.streaming.StreamDedupGate.lastInSetStats
          Some((p, keys, bytes / 1024))
        } finally {
          graft.streaming.StreamDedupGate.setInSetCapture(false)
          detach(g)
        }
      }
    eng.dropStream("gs_in"); eng.dropStream("gs_out")
    Chain(points, pushdown)
  }
}
