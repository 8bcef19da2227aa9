package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions.{BottomKAgg, VectorExpressions}
import graft.queries.SimilarityQueries.cosine

/** Product-quantization ANN (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-bound scale path.
  *
  * The corpus is stored as M sub-codes (one byte-sized centroid id per
  * subspace) + one float norm: for dim=64 doubles that is a 512-byte vector
  * compressed to M+8 bytes (~4% at M=16), so a 100-TB embedding corpus scans
  * as a few TB of codes — the working set that has to stream through CPUs
  * for an exhaustive ADC pass. Search is the standard two stage:
  *
  *   1. ADC shortlist: each probe precomputes a lookup table
  *      lut[m][c] = <probe_sub_m, codebook_m[c]> (M·ksub dots, driver-free,
  *      computed map-side on the broadcast probe row); scoring a corpus row
  *      is then M table lookups (`AdcDot`, codegen'd) — never touching the
  *      original vector. Per-probe top-`shortlist` ids come from a bounded
  *      O(shortlist) heap aggregate ([[graft.functions.BottomKAgg]]) with
  *      map-side combining, so no (probe × corpus) row set ever shuffles.
  *   2. Exact re-rank: only shortlist candidates re-join their full vectors
  *      for exact cosine; final top-k by window over ≤ probes·shortlist rows.
  *
  * Codebooks are fit driver-side on a bounded deterministic sample with the
  * same Lloyd k-means as the IVF coarse quantizer ([[AnnSearch.kmeansFit]]) —
  * at production scale the fit stays a scratch computation; the distributed
  * work is encode (map-only) and the ADC scan.
  */
object PqSearch {

  /** Per-subspace codebooks: codebooks(m)(c) is a dsub-dim centroid. */
  private[ops] def fitCodebooks(sample: Array[Array[Double]], m: Int, ksub: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "pq: empty fit sample")
    val dim = sample.head.length
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      AnnSearch.kmeansFit(sub, ksub, seed = seed + s)
    }
  }

  /** pq_encode(vec) → array<int>: nearest-centroid id per subspace. Runs
    * once per corpus row (map-only). Codegen'd via a static call (guide §4:
    * a CodegenFallback expression excludes its operator from whole-stage
    * codegen, splitting the corpus scan→encode pipeline).
    */
  case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def prettyName: String = "pq_encode"
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      PqSearch.pqEncodeEval(v.asInstanceOf[ArrayData], codebooks)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cb = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
      defineCodeGen(ctx, ev, c => s"graft.ops.PqSearch.pqEncodeEval($c, $cb)")
    }
    override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
  }

  /** [[PqEncode]]'s evaluation body (callable from generated code). */
  def pqEncodeEval(arrData: ArrayData,
      codebooks: Array[Array[Array[Double]]]): GenericArrayData = {
    val arr = arrData.toDoubleArray()
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    // loud, not lossy: a row whose dimensionality disagrees with the fit
    // would otherwise be silently zero-padded/truncated while its stored
    // norm covers the full vector — systematically deflated scores
    if (arr.length != m * dsub)
      throw new IllegalArgumentException(
        s"pq_encode: vector has ${arr.length} dims, codebooks fit ${m * dsub}")
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val diff = arr(s * dsub + i) - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  /** pq_lut(vec) → array<double> of length m·ksub (flattened [m][c]):
    * lut[m·ksub + c] = <vec_sub_m, codebook_m[c]>. Runs once per PROBE row.
    */
  case class PqLut(child: Expression, codebooks: Array[Array[Array[Double]]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def prettyName: String = "pq_lut"
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      PqSearch.pqLutEval(v.asInstanceOf[ArrayData], codebooks)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cb = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
      defineCodeGen(ctx, ev, c => s"graft.ops.PqSearch.pqLutEval($c, $cb)")
    }
    override protected def withNewChildInternal(c: Expression): PqLut = copy(child = c)
  }

  /** [[PqLut]]'s evaluation body (callable from generated code). */
  def pqLutEval(arrData: ArrayData,
      codebooks: Array[Array[Array[Double]]]): GenericArrayData = {
    val arr = arrData.toDoubleArray()
    val m = codebooks.length
    val ksub = codebooks(0).length
    val dsub = codebooks(0)(0).length
    if (arr.length != m * dsub) // see PqEncode: loud, not lossy
      throw new IllegalArgumentException(
        s"pq_lut: vector has ${arr.length} dims, codebooks fit ${m * dsub}")
    val out = new Array[Any](m * ksub)
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      var c = 0
      while (c < ksub) {
        val cent = cb(c)
        var dot = 0.0
        var i = 0
        while (i < dsub) {
          dot += arr(s * dsub + i) * cent(i)
          i += 1
        }
        out(s * ksub + c) = dot
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** adc_dot(lut, codes) → Σ_m lut[m·ksub + codes[m]] — the asymmetric
    * distance computation, the only per-(probe, corpus-row) operation of the
    * shortlist stage. Codegen'd: it runs |probes|·|corpus| times.
    */
  case class AdcDot(left: Expression, right: Expression, ksub: Int)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def prettyName: String = "adc_dot"
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(lutAny: Any, codesAny: Any): Any = {
      val lut = lutAny.asInstanceOf[ArrayData]
      val codes = codesAny.asInstanceOf[ArrayData]
      var sum = 0.0
      var m = 0
      val n = codes.numElements()
      while (m < n) {
        sum += lut.getDouble(m * ksub + codes.getInt(m))
        m += 1
      }
      sum
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (lut, codes) => {
        val m = ctx.freshName("m")
        val n = ctx.freshName("n")
        val sum = ctx.freshName("sum")
        s"""
           |double $sum = 0.0;
           |final int $n = $codes.numElements();
           |for (int $m = 0; $m < $n; $m++) {
           |  $sum += $lut.getDouble($m * $ksub + $codes.getInt($m));
           |}
           |${ev.value} = $sum;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcDot =
      copy(left = l, right = r)
  }

  private def c(e: Expression): Column = org.apache.spark.sql.GraftBridge.column(e)
  private def e(col: Column): Expression = org.apache.spark.sql.GraftBridge.expression(col)

  /** Encode a corpus: (vec_id, codes array<int>, vnorm double). Exposed for
    * specs; `pqKnn` inlines the same projection.
    */
  private[ops] def encode(corpus: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col("vec_id"),
      c(PqEncode(e(col("v")), codebooks)).as("codes"),
      sqrt(VectorExpressions.dotProduct(col("v"), col("v"))).as("vnorm"))

  /** Deterministic bounded fit sample + dimension check (shared preamble). */
  private def fitSampleOf(corpus: DataFrame, dim: Int, fitSample: Int,
      caller: String): Array[Array[Double]] = {
    val sample: Array[Array[Double]] = corpus
      .orderBy("vec_id").limit(fitSample)
      .collect().map(_.getSeq[Double](1).toArray)
    sample.headOption.foreach(v0 => require(v0.length == dim,
      s"$caller: vectors are ${v0.length}-dimensional, caller said $dim"))
    sample
  }

  /** Normalized ADC score column over (lut, codes, pnorm, vnorm): exact-norm
    * division makes it an approximate COSINE (exact when reconstruction is
    * exact), so shortlist ranking matches the re-rank metric; round(…, 9)
    * pins float-association noise out of the ordering. `ksub` is the FITTED
    * codebook size (may be below the requested one on tiny corpora — the
    * LUT stride must match what [[PqLut]] laid out).
    */
  private def adcCosine(ksub: Int): Column =
    c(AdcDot(e(col("lut")), e(col("codes")), ksub))
      ./(col("pnorm") * col("vnorm") + lit(1e-12))

  /** Bounded-heap shortlist + exact re-rank (shared tail of pqKnn/ivfPqKnn).
    *
    * Shortlist: per-probe top-R via BottomKAgg on struct(-adc, vec_id) —
    * O(R) state at update/shuffle/merge, so the |probes|·|corpus| scored
    * rows never shuffle (only ≤ R-element partial heaps per partition do);
    * a window row_number here would shuffle every scored row to |probes|
    * partitions — the anti-pattern at corpus scale. Re-rank: only shortlist
    * candidates re-join their full vectors for exact cosine; final top-k by
    * window over ≤ probes·R rows.
    */
  private def shortlistAndRerank(scored: DataFrame, corpus: DataFrame,
      nProbes: Int, k: Int, shortlist: Int): DataFrame = {
    val shortKey = struct((col("adc") * -1).as("na"), col("vec_id").as("id"))
    val heap = c(BottomKAgg(e(shortKey), shortlist).toAggregateExpression())
    val shortlisted = scored
      .groupBy("probe_id").agg(heap.as("top"))
      .select(col("probe_id"), explode(col("top")).as("t"))
      .select(col("probe_id"), col("t.id").as("neighbor_id"))
    val pv = corpus.select(col("vec_id").as("probe_id"), col("v").as("pv"))
      .where(col("probe_id") < nProbes)
    val reranked = shortlisted
      .join(broadcast(pv), "probe_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"), cosine(col("pv"), col("nv")).as("raw_sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(round(col("raw_sim"), 6).desc, col("neighbor_id"))
    reranked.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("probe_id"), col("neighbor_id"), round(col("raw_sim"), 4).as("sim"),
        col("rk").cast("long").as("rk"))
      .orderBy("probe_id", "rk")
  }

  /** PQ top-k: ADC shortlist over compressed codes, exact cosine re-rank.
    *
    * Output: (probe_id, neighbor_id, sim, rk) — same shape as
    * [[AnnSearch.ivfKnn]] / [[AnnSearch.lshKnn]].
    */
  def pqKnn(emb: DataFrame, dim: Int, nProbes: Int, k: Int,
      m: Int = 16, ksub: Int = 64, shortlist: Int = 64,
      fitSample: Int = 4096, seed: Long = 7L): DataFrame = {
    val corpus = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val codebooks = fitCodebooks(fitSampleOf(corpus, dim, fitSample, "pqKnn"), m, ksub, seed)

    val encoded = encode(corpus, codebooks)
    val probes = corpus.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"),
        c(PqLut(e(col("v")), codebooks)).as("lut"),
        sqrt(VectorExpressions.dotProduct(col("v"), col("v"))).as("pnorm"))

    // ADC scan: broadcast the tiny probe set (lut rides each probe row) and
    // score every corpus row's codes map-side.
    val scoredCodes = broadcast(probes)
      .join(encoded, col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(adcCosine(codebooks(0).length), 9).as("adc"))
    shortlistAndRerank(scoredCodes, corpus, nProbes, k, shortlist)
  }

  /** IVF-PQ top-k — the composition actually deployed on billion-vector
    * corpora (FAISS IVFPQ): a k-means coarse quantizer partitions the
    * corpus into inverted lists ([[AnnSearch.ivfKnn]]'s structure), and
    * within the probed lists candidates are scored by ADC over M-byte PQ
    * codes instead of full vectors. Relative to pure [[pqKnn]] the scan is
    * an EQUI-join on the list id (no nested-loop over the whole corpus,
    * only ~nprobe/nCentroids of the codes are touched per probe); relative
    * to IVF-flat the per-candidate cost is M table lookups, not a dim-wide
    * dot product, and at rest each vector is codes+norm, not dim doubles.
    * Exact-cosine re-rank on the ADC shortlist, as in [[pqKnn]].
    */
  def ivfPqKnn(emb: DataFrame, dim: Int, nProbes: Int, k: Int,
      nCentroids: Int = 16, nprobe: Int = 6,
      m: Int = 16, ksub: Int = 64, shortlist: Int = 64,
      fitSample: Int = 4096, seed: Long = 7L): DataFrame = {
    val corpus = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sample = fitSampleOf(corpus, dim, fitSample, "ivfPqKnn")
    val coarse = AnnSearch.kmeansFit(sample, nCentroids, seed = seed)
    val codebooks = fitCodebooks(sample, m, ksub, seed + 1000)

    def clustered(df: DataFrame, vecCol: String, np: Int): DataFrame =
      df.withColumn("cluster",
        explode(c(AnnSearch.IvfAssign(e(col(vecCol)), coarse, np))))

    // corpus at rest: (list id, codes, norm) — one row per vector in its
    // single nearest list; full vectors only re-join for the shortlist
    val lists = clustered(corpus, "v", np = 1)
      .select(col("vec_id"),
        c(PqEncode(e(col("v")), codebooks)).as("codes"),
        sqrt(VectorExpressions.dotProduct(col("v"), col("v"))).as("vnorm"),
        col("cluster"))
    val probes = clustered(
        corpus.where(col("vec_id") < nProbes)
          .select(col("vec_id").as("probe_id"), col("v").as("pv")), "pv", np = nprobe)
      .select(col("probe_id"),
        c(PqLut(e(col("pv")), codebooks)).as("lut"),
        sqrt(VectorExpressions.dotProduct(col("pv"), col("pv"))).as("pnorm"),
        col("cluster"))

    // a vector can collide with the same probe through several probed lists
    // only if nprobe lists overlap — they don't (corpus rows sit in exactly
    // one list), so no dedup is needed before the heap
    val scored = broadcast(probes).join(lists,
        probes("cluster") === lists("cluster") && col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(adcCosine(codebooks(0).length), 9).as("adc"))
    shortlistAndRerank(scored, corpus, nProbes, k, shortlist)
  }
}
