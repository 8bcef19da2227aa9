package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import graft.sketch.Hashing

/** MinHash + banded LSH near-duplicate detection at corpus scale.
  *
  * Pipeline (all relational — one shuffle per stage, no driver loops):
  *   1. signature: per doc, k minhash values over word-shingle hashes
  *      (one pass over shingles per doc; k seeds via the 2-universal trick
  *      h_i(x) = a_i·x + b_i from one base murmur hash),
  *   2. banding: signature split into bands of r rows; hash each band →
  *      (band, bucket) keys; docs sharing any band-bucket are candidates
  *      — a self-equi-join on the bucket key (shuffle on bucket; skew-safe
  *      because buckets are ~uniform under hashing),
  *   3. verify: exact Jaccard on shingle sets for candidate pairs only.
  *
  * At 100 TB: stage 1 is map-only; stage 2's join shuffles only
  * (docId, band, bucket) triples — 16 rows per doc, not the text; stage 3
  * re-joins text for the (rare) candidates. numBands × rowsPerBand tunes
  * the recall/candidate-volume S-curve: P(candidate) = 1-(1-j^r)^b.
  */
object MinHashLsh {

  /** minhash_signature(shingles_array) → array<long> of k minima.
    * Codegen'd via a static call (guide §4: a CodegenFallback expression
    * excludes its operator from whole-stage codegen, splitting the
    * scan→shingle→signature pipeline at its hottest stage). */
  case class MinHashSignature(child: Expression, k: Int)
      extends UnaryExpression {
    override def prettyName: String = "minhash_signature"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      MinHashLsh.signatureEval(v.asInstanceOf[ArrayData], k)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.ops.MinHashLsh.signatureEval($c, $k)")
    override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
  }

  /** [[MinHashSignature]]'s evaluation body (callable from generated code). */
  def signatureEval(arr: ArrayData, k: Int): GenericArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h = Hashing.murmur128(s.getBytes)
      // k derived hashes from one 128-bit hash (Kirsch–Mitzenmacher)
      var j = 0
      while (j < k) {
        val hj = h.h1 + (j + 1).toLong * h.h2
        if (hj < mins(j)) mins(j) = hj
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins.toArray[Any])
  }

  def minhashSignature(shingles: Column, k: Int): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(shingles), k))

  /** sig_agree(a, b) → fraction of equal signature components, fused into a
    * single codegen'd loop. The `zip_with`+`filter`+`size` chain evaluates
    * its lambdas interpreted (one virtual call per component per pair) and
    * was the dominant cost of the candidate prefilter at 128 components.
    */
  case class SignatureAgreement(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def prettyName: String = "sig_agree"
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      MinHashLsh.sigAgreeEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.ops.MinHashLsh.sigAgreeEval($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SignatureAgreement =
      copy(left = newLeft, right = newRight)
  }

  /** Fraction of positions where the two signatures agree (codegen-callable). */
  def sigAgreeEval(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }

  def sigAgree(a: Column, b: Column): Column =
    GraftBridge.column(SignatureAgreement(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** minhash_buckets(sig) → array<long>: one LSH bucket hash per band,
    * band index folded into the hash so a single 64-bit value identifies
    * (band, bucket). One pass over the signature — the equivalent
    * transform/sequence/slice/xxhash64 HOF chain evaluates interpreted and
    * cost more than the rest of the pipeline combined.
    */
  case class MinHashBuckets(child: Expression, numBands: Int, rowsPerBand: Int)
      extends UnaryExpression {
    override def prettyName: String = "minhash_buckets"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      MinHashLsh.bucketsEval(v.asInstanceOf[ArrayData], numBands, rowsPerBand)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.ops.MinHashLsh.bucketsEval($c, $numBands, $rowsPerBand)")
    override protected def withNewChildInternal(c: Expression): MinHashBuckets = copy(child = c)
  }

  /** [[MinHashBuckets]]' evaluation body (callable from generated code). */
  def bucketsEval(sig: ArrayData, numBands: Int, rowsPerBand: Int): GenericArrayData =
    new GenericArrayData(
      bandKeysOf(sig.toLongArray(), numBands, rowsPerBand).map(_.asInstanceOf[Any]))

  /** The banded bucket keys of one signature, evaluated directly (the
    * streaming gate derives a batch's keys on the driver from collected
    * signatures — same math as the expression, one implementation). */
  def bandKeysOf(sig: Array[Long], numBands: Int, rowsPerBand: Int): Array[Long] = {
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = b.toLong * 0x9E3779B97F4A7C15L
      var j = 0
      while (j < rowsPerBand) {
        h = java.lang.Long.rotateLeft(h ^ Hashing.fmix64(sig(b * rowsPerBand + j)), 27) *
          0x100000001B3L
        j += 1
      }
      out(b) = Hashing.fmix64(h)
      b += 1
    }
    out
  }

  /** Candidate pairs (idA < idB) via banded LSH over `df(idCol, textCol)`,
    * prefiltered by minhash agreement: the fraction of equal signature
    * components estimates Jaccard, and P(est < 0.3 | j ≥ 0.6) ≤
    * exp(-2k·0.09) ≈ 1e-10 at k=128 — so the (expensive) exact shingle
    * verify only ever sees near-real pairs, while random band collisions
    * (est ≈ 0.05) die on cheap long comparisons.
    */
  def candidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numBands: Int = 64, rowsPerBand: Int = 2): DataFrame =
    candidatePairsFromShingles(
      df.select(col(idCol).as("id"), TextOps.shingles(col(textCol), shingleN).as("sh")),
      numBands, rowsPerBand)

  private def candidatePairsFromShingles(
      sh: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame =
    verifiedPairs(sh, numBands, rowsPerBand, exactThreshold = None)

  /** Candidate generation + (optionally) exact verification in ONE pass over
    * the candidate pairs: each side joins the per-doc frame once, carrying
    * BOTH the signature (cheap agree prefilter) and, when verifying, the
    * shingle set — the expensive array intersection only evaluates on rows
    * that survive the agree check (conditional projection), and the pair
    * stream crosses half the joins of a staged pipeline.
    */
  private def verifiedPairs(
      sh: DataFrame, numBands: Int, rowsPerBand: Int,
      exactThreshold: Option[Double]): DataFrame = {
    val k = numBands * rowsPerBand
    // the candidate-only path skips caching shingle arrays
    val perDocCols =
      if (exactThreshold.isDefined) Seq(col("id"), col("sh"))
      else Seq(col("id"))
    // drop shingle-less docs (< n tokens): their signature would be the
    // identical all-MaxValue vector, so EVERY such doc collides with every
    // other in EVERY band — an O(s²) blowup of zero-Jaccard pairs that also
    // sails through the agree prefilter at 1.0
    val sig = sh.where(size(col("sh")) > 0)
      .select(perDocCols :+ minhashSignature(col("sh"), k).as("sig"): _*)
      .persist() // read by the banding pass and both sides of the pair join

    // band b covers sig[b*r .. b*r+r-1]; bucket = hash of the band slice,
    // seeded with b so one 64-bit key identifies (band, bucket) — a cross-
    // band hash collision merely creates a candidate the exact-verify kills.
    val banded = sig.select(
      col("id"),
      explode(GraftBridge.column(MinHashBuckets(
        GraftBridge.expression(col("sig")), numBands, rowsPerBand))).as("bucket"))
      .persist() // read by the hot-bucket count and both sides of the pair join

    // Nearly every bucket is a singleton, so first drop those with a plain
    // codegen'd count (collect_list over ~|docs|×bands mostly-singleton
    // groups trips ObjectHashAggregate's sort-based fallback), then self-join
    // only the surviving rows — a broadcast-sized set on real corpora. The
    // hot-bucket set is proportional to the near-dup density, not corpus
    // size; at extreme dup skew the join degrades to the same O(s²) pairs
    // any formulation must emit.
    val hot = banded.groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1).select("bucket")
    val survivors = banded.join(broadcast(hot), "bucket")
    val rawPairs = survivors.select(col("bucket"), col("id").as("id_a"))
      .join(survivors.select(col("bucket"), col("id").as("id_b")), "bucket")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()

    val agree = sigAgree(col("sig_a"), col("sig_b"))
    val joined = exactThreshold match {
      case None =>
        rawPairs
          .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
          .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
          .where(agree >= 0.3)
          .select(col("id_a"), col("id_b"))
      case Some(t) =>
        // jaccard (array intersect — the expensive step) evaluates only when
        // the agree prefilter passes: random band collisions (agree ≈ 0.05)
        // die on 128 long comparisons, never touching the shingle sets
        rawPairs
          .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a"),
            col("sh").as("sh_a")), "id_a")
          .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b"),
            col("sh").as("sh_b")), "id_b")
          .select(col("id_a"), col("id_b"),
            when(agree >= 0.3, TextOps.jaccard(col("sh_a"), col("sh_b")))
              .otherwise(lit(-1.0)).as("jaccard"))
          .where(col("jaccard") >= t)
    }
    // ONE materialization for the whole pipeline: the eager localCheckpoint
    // runs the broadcast job (hot buckets) plus the main job, and both
    // persists (`sig`: read by banding + both verify joins; `banded`: read
    // by the hot count + both survivor sides) pay off inside that single
    // DAG. An extra count() barrier between candidate generation and verify
    // only adds a full sequential job — the checkpoint is already the
    // barrier that lets every intermediate be released. Unpersisting after
    // it also fixes the session-lifetime leak: a df.persist entry lives in
    // the CacheManager forever, while localCheckpoint blocks are RDD-level
    // and cleaned by the ContextCleaner when the caller drops the frame —
    // steady-state storage cost is one pair set, not N corpora.
    val out = joined.localCheckpoint(true)
    sig.unpersist()
    banded.unpersist()
    out
  }

  /** Full near-dup pipeline: LSH candidates verified with exact Jaccard in
    * the same pass (shingle arrays computed once, shared by signature stage
    * and verify joins).
    */
  def nearDuplicates(
      df: DataFrame, idCol: String, textCol: String, threshold: Double,
      shingleN: Int = 3, numBands: Int = 64, rowsPerBand: Int = 2): DataFrame = {
    val sh = df.select(col(idCol).as("id"), TextOps.shingles(col(textCol), shingleN).as("sh"))
    verifiedPairs(sh, numBands, rowsPerBand, exactThreshold = Some(threshold))
  }
}
