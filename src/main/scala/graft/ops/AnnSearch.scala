package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.queries.SimilarityQueries.cosine

/** Approximate nearest neighbor over embedding columns.
  *
  * Scale path: signed-random-projection LSH — L independent tables, each
  * hashing a vector to a B-bit bucket via sign(v·rᵢ) with deterministic
  * pseudo-random hyperplanes (seeded; identical across executors with no
  * broadcast of plane matrices — they are literal arrays in the plan).
  * Query joins probe buckets to corpus buckets (equi-join on (table,
  * bucket)) and ranks candidates by exact cosine — the full corpus is never
  * cross-joined. Brute force (SimilarityQueries.bruteForceKnn) remains the
  * small-probe-set / oracle baseline.
  */
object AnnSearch {

  /** Deterministic unit-free hyperplanes: dim values per (table, bit).
    * Cached — the streaming gate derives keys per batch on the driver and
    * must not re-draw the matrices each time. */
  private val planeCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Int, Long), Array[Array[Array[Double]]]]()
  private def planes(dim: Int, numTables: Int, bitsPerTable: Int, seed: Long): Array[Array[Array[Double]]] =
    planeCache.computeIfAbsent((dim, numTables, bitsPerTable, seed), _ => {
      val rng = new scala.util.Random(seed)
      Array.fill(numTables, bitsPerTable)(Array.fill(dim)(rng.nextGaussian()))
    })

  /** The packed (table, bucket) SRP keys of one vector, evaluated directly
    * — same math as [[srpBucketKeys]], one implementation of the sign-bit
    * loop shared with the expression via identical plane draws. */
  def srpBucketKeysOf(v: Array[Double], dim: Int, numTables: Int,
      bitsPerTable: Int, seed: Long): Array[Long] = {
    val ps = planes(dim, numTables, bitsPerTable, seed)
    val out = new Array[Long](ps.length)
    var t = 0
    while (t < ps.length) {
      val tp = ps(t)
      var bucket = 0L
      var b = 0
      while (b < tp.length) {
        val plane = tp(b)
        var dot = 0.0
        var i = 0
        val n = math.min(v.length, plane.length)
        while (i < n) { dot += v(i) * plane(i); i += 1 }
        if (dot >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = t.toLong * (1L << bitsPerTable) + bucket
      t += 1
    }
    out
  }

  /** lsh_buckets(vec) → array<long>: one packed sign-bit bucket per table,
    * computed in a single pass over the vector (a Catalyst expression —
    * higher-order-function lambdas are not whole-stage-codegen'd and cost
    * ~10× on the corpus side).
    */
  case class LshBuckets(child: org.apache.spark.sql.catalyst.expressions.Expression,
      planes: Array[Array[Array[Double]]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.types._
    override def prettyName: String = "lsh_buckets"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = AnnSearch.lshBucketsEval(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], planes)
    // codegen'd via a static call (guide §4 — a CodegenFallback expression
    // excludes its operator from whole-stage codegen); the plane matrices
    // ride in as a codegen reference object
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ps = ctx.addReferenceObj("lshPlanes", planes, "double[][][]")
      defineCodeGen(ctx, ev, c => s"graft.ops.AnnSearch.lshBucketsEval($c, $ps)")
    }
    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression): LshBuckets = copy(child = c)
  }

  /** [[LshBuckets]]' evaluation body (callable from generated code). */
  def lshBucketsEval(arrData: org.apache.spark.sql.catalyst.util.ArrayData,
      planes: Array[Array[Array[Double]]])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val arr = arrData.toDoubleArray()
    val out = new Array[Any](planes.length)
    var t = 0
    while (t < planes.length) {
      val tp = planes(t)
      var bucket = 0L
      var b = 0
      while (b < tp.length) {
        val plane = tp(b)
        var dot = 0.0
        var i = 0
        val n = math.min(arr.length, plane.length)
        while (i < n) { dot += arr(i) * plane(i); i += 1 }
        if (dot >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private def lshBuckets(v: Column, planes: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftBridge.column(
      LshBuckets(org.apache.spark.sql.GraftBridge.expression(v), planes))

  /** Packed (table, bucket) SRP-LSH keys of a double-array embedding, as a
    * composable Column: one long per table, table index folded into the
    * high bits. Deterministic in (dim, numTables, bitsPerTable, seed) —
    * identical across batches, executors and restarts, which is what lets
    * the streaming cosine gate bucket new arrivals against a store written
    * by earlier batches. */
  def srpBucketKeys(v: Column, dim: Int, numTables: Int, bitsPerTable: Int,
      seed: Long): Column = {
    val ps = planes(dim, numTables, bitsPerTable, seed)
    transform(lshBuckets(v, ps),
      (b, i) => i.cast("long") * lit(1L << bitsPerTable) + b)
  }

  /** Embedding-cosine near-duplicate pairs: corpus self-join through the
    * LSH buckets (near-identical vectors collide with probability ~1 even
    * at high bits), then exact-cosine verification — same candidates-then-
    * verify shape as MinHashLsh, so only (id, table, bucket) triples
    * shuffle and vectors re-join for candidates only.
    *
    * Skew guard (MinHashLsh.verifiedPairs pattern): singleton buckets are
    * dropped before the self-join via a broadcast hot-set, and any bucket
    * larger than `maxBucketSize` — a dense duplicate cluster whose self-join
    * would emit O(s²) rows — is excluded from candidate generation and
    * REPORTED on stderr rather than silently absorbed. Members of such a
    * cluster still pair through their other `numTables-1` tables unless
    * oversized in all of them.
    */
  def cosineNearDuplicates(emb: DataFrame, dim: Int, threshold: Double,
      numTables: Int = 8, bitsPerTable: Int = 12, seed: Long = 42L,
      maxBucketSize: Int = 4096): DataFrame = {
    val ps = planes(dim, numTables, bitsPerTable, seed)
    val corpus = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist() // bucket pass + two candidate re-joins
    // candidate generation shuffles only (id, table, bucket) triples — the
    // vectors re-join for the (rare) candidate pairs afterwards, instead of
    // riding through the self-join shuffle |tables|× per vector
    val bucketed = corpus.select(col("vec_id"), posexplode(lshBuckets(col("v"), ps)))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("bkt"))
      .persist() // bucket-count pass + both sides of the pair join
    val counts = bucketed.groupBy("tbl", "bkt").agg(count(lit(1)).as("cnt"))
    val oversized = counts.where(col("cnt") > maxBucketSize)
      .orderBy(col("cnt").desc).limit(20).collect()
    if (oversized.nonEmpty)
      System.err.println(s"[graft] cosineNearDuplicates: ${oversized.length}+ " +
        s"bucket(s) over maxBucketSize=$maxBucketSize excluded from candidate " +
        s"generation (largest=${oversized.head.getLong(2)}); raise maxBucketSize " +
        "to trade wall-clock for completeness")
    val hot = counts.where(col("cnt") > 1 && col("cnt") <= maxBucketSize)
      .select("tbl", "bkt")
    val survivors = bucketed.join(broadcast(hot), Seq("tbl", "bkt"))
    val l = survivors.select(col("vec_id").as("id_a"), col("tbl"), col("bkt"))
    val r = survivors.select(col("vec_id").as("id_b"),
      col("tbl").as("tbl_r"), col("bkt").as("bkt_r"))
    val pairs = l.join(r, col("tbl") === col("tbl_r") && col("bkt") === col("bkt_r") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val verified = pairs
      .join(corpus.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(corpus.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
    // ONE materialization for the whole pipeline (same shape as
    // MinHashLsh.verifiedPairs): the eager localCheckpoint runs the
    // hot-bucket broadcast job plus the main job; both persists (`corpus`:
    // bucketing pass + two verify joins; `bucketed`: count pass + both
    // pair-join sides) pay off inside that single DAG, and an extra count()
    // barrier between candidates and verify only added a sequential job.
    // Unpersisting after the checkpoint keeps the session-lifetime cache
    // fix: persist entries live in the CacheManager forever, while
    // localCheckpoint blocks are ContextCleaner-GC-cleaned.
    val out = verified.localCheckpoint(true)
    corpus.unpersist()
    bucketed.unpersist()
    out
  }

  /** ivf_assign(vec) → array<int>: ids of the nprobe nearest coarse
    * centroids by cosine, single pass (same codegen-free-expression
    * rationale as LshBuckets).
    */
  case class IvfAssign(child: org.apache.spark.sql.catalyst.expressions.Expression,
      centroids: Array[Array[Double]], nprobe: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.types._
    override def prettyName: String = "ivf_assign"
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any): Any = AnnSearch.ivfAssignEval(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], centroids, nprobe)
    // codegen'd via a static call (guide §4); centroids ride in as a
    // codegen reference object
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val cs = ctx.addReferenceObj("ivfCentroids", centroids, "double[][]")
      defineCodeGen(ctx, ev,
        c => s"graft.ops.AnnSearch.ivfAssignEval($c, $cs, $nprobe)")
    }
    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression): IvfAssign = copy(child = c)
  }

  /** [[IvfAssign]]'s evaluation body (callable from generated code). */
  def ivfAssignEval(arrData: org.apache.spark.sql.catalyst.util.ArrayData,
      centroids: Array[Array[Double]], nprobe: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val arr = arrData.toDoubleArray()
    var vn = 0.0
    var i = 0
    while (i < arr.length) { vn += arr(i) * arr(i); i += 1 }
    vn = math.sqrt(vn)
    val sims = centroids.zipWithIndex.map { case (cvec, ci) =>
      var dot = 0.0; var cn = 0.0
      var j = 0
      val n = math.min(arr.length, cvec.length)
      while (j < n) { dot += arr(j) * cvec(j); cn += cvec(j) * cvec(j); j += 1 }
      (dot / (vn * math.sqrt(cn) + 1e-12), ci)
    }
    val top = sims.sortBy { case (s, ci) => (-s, ci) }.take(nprobe).map(_._2)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(top.toArray[Any])
  }

  /** Deterministic driver-side Lloyd k-means on a corpus sample — the IVF
    * coarse quantizer fit. At 100 TB the sample comes from a bounded
    * per-partition takeSample; a few thousand vectors suffice to place
    * nCentroids coarse centers, and the fit stays a driver-side
    * scratch-computation (the corpus-wide assignment is the distributed
    * part). Seeded farthest-point init + fixed iteration count keep the
    * result reproducible across runs.
    */
  private[ops] def kmeansFit(sample: Array[Array[Double]], k: Int,
      iters: Int = 8, seed: Long = 7L): Array[Array[Double]] = {
    require(sample.nonEmpty, "kmeans: empty sample")
    val dim = sample.head.length
    val rng = new scala.util.Random(seed)
    // farthest-point (k-means++ style, deterministic) init. Incremental
    // min-distance bookkeeping: only the latest center updates each point's
    // distance-to-nearest, so init is O(k·n·d) instead of the naive
    // O(k²·n·d) — the naive form dominated pqKnn's wall time at
    // ksub=64 × 16 subspaces (same argmax sequence, bit-identical centers).
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val kEff = math.min(k, sample.length)
    val centers = scala.collection.mutable.ArrayBuffer(sample(rng.nextInt(sample.length)))
    val minD = sample.map(v => d2(v, centers(0)))
    while (centers.length < kEff) {
      var best = 0
      var i = 1
      while (i < sample.length) { if (minD(i) > minD(best)) best = i; i += 1 }
      val c = sample(best)
      centers += c
      i = 0
      while (i < sample.length) {
        val d = d2(sample(i), c)
        if (d < minD(i)) minD(i) = d
        i += 1
      }
    }
    var cs = centers.toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Long](cs.length)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val d = d2(v, cs(c)); if (d < bestD) { bestD = d; best = c }; c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cs = cs.indices.map { c =>
        if (counts(c) == 0) cs(c)
        else sums(c).map(_ / counts(c))
      }.toArray
      it += 1
    }
    cs
  }

  /** IVF-flat top-k: a k-means coarse quantizer partitions the corpus into
    * inverted lists (each vector in its single nearest-centroid list);
    * probes search only their nprobe nearest lists. At scale the list id
    * becomes the partitioning key, so a probe touches ~nprobe/nCentroids of
    * the data; recall tracks that scanned fraction on unclustered vectors
    * and far exceeds it on clustered ones. The probe side is broadcast, so
    * corpus vectors are scored map-side and never shuffle.
    */
  def ivfKnn(emb: DataFrame, dim: Int, nProbes: Int, k: Int,
      nCentroids: Int = 16, nprobe: Int = 6,
      fitSample: Int = 4096, seed: Long = 7L): DataFrame = {
    val corpus = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sample: Array[Array[Double]] = corpus
      .orderBy("vec_id").limit(fitSample) // deterministic sample
      .collect().map(_.getSeq[Double](1).toArray)
    sample.headOption.foreach(v0 => require(v0.length == dim,
      s"ivfKnn: vectors are ${v0.length}-dimensional, caller said $dim"))
    val centroids = kmeansFit(sample, nCentroids, seed = seed)

    def assign(df: DataFrame, idName: String, vName: String, np: Int): DataFrame =
      df.select(col(idName), col(vName),
          explode(org.apache.spark.sql.GraftBridge.column(
            IvfAssign(org.apache.spark.sql.GraftBridge.expression(col(vName)), centroids, np)))
            .as("cluster"))

    val lists = assign(corpus, "vec_id", "v", 1) // corpus: single list each
    val probes = assign(
      corpus.where(col("vec_id") < nProbes)
        .select(col("vec_id").as("probe_id"), col("v").as("pv")),
      "probe_id", "pv", nprobe)

    // broadcast the probe set: candidates are scored where the corpus rows
    // live — no corpus vector ever crosses a shuffle
    val scored = broadcast(probes).join(lists,
        probes("cluster") === lists("cluster") && col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("pv"), col("v")).as("raw_sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(round(col("raw_sim"), 6).desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("probe_id"), col("neighbor_id"), round(col("raw_sim"), 4).as("sim"),
        col("rk").cast("long").as("rk"))
      .orderBy("probe_id", "rk")
  }

  /** LSH top-k: for each probe (vec_id < nProbes), k nearest by cosine among
    * LSH candidates.
    */
  def lshKnn(emb: DataFrame, dim: Int, nProbes: Int, k: Int,
      numTables: Int = 8, bitsPerTable: Int = 12, seed: Long = 42L): DataFrame = {
    val ps = planes(dim, numTables, bitsPerTable, seed)

    def bucketed(df: DataFrame, idName: String, vName: String): DataFrame =
      df.select(
        col(idName), col(vName),
        posexplode(lshBuckets(col(vName), ps)))
        .select(col(idName), col(vName), col("pos").as("tbl"), col("col").as("bkt"))

    val corpus = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probes = corpus.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))

    val corpusB = bucketed(corpus, "vec_id", "v")
    val probesB = bucketed(probes, "probe_id", "pv")

    // broadcast probes and score IN the map-side join, then dedupe on the
    // tiny (probe, neighbor, sim) triples — corpus vectors never shuffle
    val scored = broadcast(probesB).join(corpusB,
        probesB("tbl") === corpusB("tbl") && probesB("bkt") === corpusB("bkt") &&
        col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("pv"), col("v")).as("raw_sim"))
      .dropDuplicates("probe_id", "neighbor_id")
    val w = Window.partitionBy("probe_id")
      .orderBy(round(col("raw_sim"), 6).desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("probe_id"), col("neighbor_id"), round(col("raw_sim"), 4).as("sim"),
        col("rk").cast("long").as("rk"))
      .orderBy("probe_id", "rk")
  }
}
