package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import graft.sketch.Hashing

/** SimHash near-duplicate detection: 64-bit fingerprints whose Hamming
  * distance tracks cosine similarity of the token multiset (Charikar's
  * scheme). Near-dup search partitions the fingerprint into 4×16-bit
  * chunks — any pair within Hamming distance ≤3 must agree on at least one
  * chunk (pigeonhole), so the candidate join is an equi-join on
  * (chunk index, chunk value): shuffle on 4 small keys per doc, never a
  * cross join. Verification = popcount of xor (codegen'd bit_count).
  */
object SimHash {

  /** simhash64(tokens_array) → long fingerprint. Codegen'd via a static
    * call (guide §4: a CodegenFallback expression excludes its operator
    * from whole-stage codegen, splitting the corpus scan→fingerprint
    * pipeline at its hottest stage). */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def prettyName: String = "simhash64"
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      SimHash.simhashEval(v.asInstanceOf[ArrayData])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.ops.SimHash.simhashEval($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  }

  /** [[SimHash64]]'s evaluation body (callable from generated code). */
  def simhashEval(arr: ArrayData): Long = {
    val acc = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = Hashing.hash64(arr.getUTF8String(i).getBytes)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens)))

  /** simhash_block_keys(fp) → array<long> of banded bucket keys under the
    * block-permutation scheme (Manku/Jain/Sarma, WWW'07 §3: split the
    * fingerprint into `blocks` bit-blocks; a pair within Hamming distance d
    * leaves ≥ blocks-d blocks untouched, so keying every (blocks-d)-subset
    * guarantees ≥1 exact key agreement). blocks=4, d=3 degenerates to the
    * classic 4×16-bit chunk banding (C(4,1)=4 single-block keys); blocks=6,
    * d=3 yields C(6,3)=20 keys of ~33 bits — 2^17× more buckets, which is
    * what keeps bucket occupancy (and the skew-cap's recall cost) flat when
    * the corpus outgrows 65,536-way chunk buckets. The combination index is
    * folded into the key's high bits so one long identifies (table, bucket).
    */
  case class SimHashBlockKeys(child: Expression, blocks: Int, maxDist: Int)
      extends UnaryExpression {
    override def prettyName: String = "simhash_block_keys"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    // geometry hoisted out of the per-row path: the cache lookup (tuple
    // alloc + CHM probe) is nanoseconds, but this eval runs per corpus row
    // in the batch explode — instance-resident is free and strictly better
    @transient private lazy val geo = geometry(blocks, maxDist)
    override def nullSafeEval(v: Any): Any =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        blockKeysWith(geo, v.asInstanceOf[Long]).map(_.asInstanceOf[Any]))
    // codegen'd via a static call (guide §4 — see SimHash64); the generated
    // code passes the cached geometry in as a reference object, so the
    // per-row path stays lookup-free
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val geoRef = ctx.addReferenceObj("shbkGeo", geo, "scala.Tuple2")
      defineCodeGen(ctx, ev,
        c => s"graft.ops.SimHash.blockKeysData($geoRef, $c)")
    }
    override protected def withNewChildInternal(c: Expression): SimHashBlockKeys =
      copy(child = c)
  }

  /** [[SimHashBlockKeys]]' evaluation body (callable from generated code;
    * `geoAny` is the precomputed [[geometry]] tuple passed as a codegen
    * reference object). */
  def blockKeysData(geoAny: AnyRef, fp: Long)
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      blockKeysWith(geoAny.asInstanceOf[(Array[Int], Array[Array[Int]])], fp)
        .map(_.asInstanceOf[Any]))

  /** The block split's precomputed geometry: block bit offsets + the
    * C(blocks, keep) combination index. */
  private[graft] def geometry(blocks: Int, maxDist: Int): (Array[Int], Array[Array[Int]]) = {
    val keep = blocks - maxDist // blocks per key
    // block i covers bits [i*64/blocks, (i+1)*64/blocks)
    comboCache.computeIfAbsent((blocks, keep),
      _ => (Array.tabulate(blocks + 1)(i => i * 64 / blocks),
        (0 until blocks).combinations(keep).map(_.toArray).toArray))
  }

  /** The block-permutation bucket keys of one fingerprint, evaluated
    * directly (the streaming gate derives a batch's keys on the driver
    * from collected fingerprints — same math as the expression, one
    * implementation). */
  def blockKeysOf(fp: Long, blocks: Int, maxDist: Int): Array[Long] =
    blockKeysWith(geometry(blocks, maxDist), fp)

  private def blockKeysWith(geo: (Array[Int], Array[Array[Int]]), fp: Long): Array[Long] = {
    val (starts, combos) = geo
    val out = new Array[Long](combos.length)
    var c = 0
    while (c < combos.length) {
      val combo = combos(c)
      var bits = 0L
      var j = 0
      while (j < combo.length) {
        val b = combo(j)
        val width = starts(b + 1) - starts(b)
        bits = (bits << width) | ((fp >>> starts(b)) & ((1L << width) - 1L))
        j += 1
      }
      out(c) = (c.toLong << 58) | bits
      c += 1
    }
    out
  }

  private val comboCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int), (Array[Int], Array[Array[Int]])]()

  /** Banded bucket keys of a fingerprint column under the block-permutation
    * scheme — the [[SimHashBlockKeys]] expression as a composable Column
    * (used by the batch pipeline below and the streaming near-dup gate).
    */
  def blockKeys(fp: Column, blocks: Int, maxDist: Int): Column =
    GraftBridge.column(SimHashBlockKeys(GraftBridge.expression(fp), blocks, maxDist))

  /** Pairs with Hamming distance ≤ maxDist (requires maxDist ≤ 3 for the
    * 4-chunk pigeonhole to guarantee recall 1.0).
    *
    * Skew guard (AnnSearch.cosineNearDuplicates pattern): short/empty
    * documents all hash to the same fingerprint (often 0), so a crawl with
    * millions of near-empty docs lands them in the SAME four chunk buckets
    * — an O(s²) self-join blowup. Singleton buckets are dropped via a
    * broadcast hot-set. The bucket-size cap is OPT-IN (default unbounded):
    * capping trades the documented recall-1.0 pigeonhole guarantee for
    * bounded join fan-out, so callers must choose it explicitly; an
    * excluded bucket is reported on stderr, and its members still pair
    * through their other chunks unless oversized in all four.
    */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucketSize: Int = Int.MaxValue, blocks: Int = 4): DataFrame =
    nearDuplicatesFromFingerprints(
      df.select(col(idCol).as("id"),
        simhash64(TextOps.tokens(col(textCol))).as("fp")),
      maxDist, maxBucketSize, blocks)

  /** Near-dup pairs over a precomputed `(id, fp)` fingerprint frame.
    * `blocks` picks the banding density: 4 (default) is the classic
    * 16-bit-chunk scheme; 6 gives C(6,3)=20 tables of ~33-bit keys, the
    * operating point for corpora where 65,536-way buckets saturate (every
    * bucket over any workable cap → capping costs recall). Both guarantee
    * recall 1.0 at distance ≤ maxDist without a cap; under a cap, wider
    * keys keep bucket occupancy — and therefore the recall cost of
    * dropping oversized buckets — flat as the corpus grows.
    */
  def nearDuplicatesFromFingerprints(fp: DataFrame,
      maxDist: Int = 3, maxBucketSize: Int = Int.MaxValue, blocks: Int = 4): DataFrame = {
    require(maxDist < blocks,
      s"$blocks-block banding guarantees recall only for distance < $blocks")
    val keep = blocks - maxDist
    require(keep * ((64 + blocks - 1) / blocks) <= 58,
      s"packed key too wide: $keep blocks of ceil(64/$blocks) bits must fit in 58")

    val chunked = fp.select(col("id"), col("fp"),
        explode(GraftBridge.column(SimHashBlockKeys(
          GraftBridge.expression(col("fp")), blocks, maxDist))).as("bucket"))
      .persist() // bucket-count pass + both sides of the pair join

    val counts = chunked.groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val oversized = counts.where(col("cnt") > maxBucketSize)
      .orderBy(col("cnt").desc).limit(20).collect()
    if (oversized.nonEmpty)
      System.err.println(s"[graft] SimHash.nearDuplicates: ${oversized.length}+ " +
        s"bucket(s) over maxBucketSize=$maxBucketSize excluded from " +
        s"candidate generation (largest=${oversized.head.getLong(1)}); raise " +
        "maxBucketSize or blocks to trade wall-clock for completeness")
    val hot = counts.where(col("cnt") > 1 && col("cnt") <= maxBucketSize)
      .select("bucket")
    val survivors = chunked.join(broadcast(hot), "bucket")

    val l = survivors.alias("l")
    val r = survivors.alias("r")
    val pairs = l.join(r,
        col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.fp").bitwiseXOR(col("r.fp"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxDist)
    // materialize the (small) verified pair set and release the key
    // explosion — a df.persist() entry would otherwise live in the session
    // CacheManager forever (localCheckpoint blocks are GC-cleaned)
    val out = pairs.localCheckpoint(true)
    chunked.unpersist()
    out
  }
}
