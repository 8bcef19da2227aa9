package graft.ops

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Text primitives for the dedup/similarity operators: whitespace
  * tokenization, word n-gram shingling, exact Jaccard. Shingling is a
  * dedicated expression — the equivalent higher-order-function pipeline
  * (transform + element_at + concat_ws) is not whole-stage-codegen'd and
  * ran ~10× slower on the corpus scan, which dominated the near-dup
  * pipelines.
  */
object TextOps {

  /** word_shingles(text, n) → distinct space-joined word n-grams in first-
    * occurrence order (whitespace tokens, empties dropped). Documents with
    * fewer than n tokens yield an empty array. Codegen'd via a static call
    * (guide §4 — a CodegenFallback expression excludes its whole operator
    * from whole-stage codegen, splitting the scan→project pipeline of every
    * near-dup/gate corpus pass at exactly its hottest stage).
    */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryExpression {
    override def prettyName: String = "word_shingles"
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      TextOps.shinglesEval(v.asInstanceOf[UTF8String], n)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.ops.TextOps.shinglesEval($c, $n)")
    override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
  }

  /** [[WordShingles]]' evaluation body (callable from generated code). */
  def shinglesEval(v: UTF8String, n: Int): GenericArrayData = {
    val toksAll = v.toString.split(' ')
    val toks = new Array[String](toksAll.length)
    var m = 0
    var i = 0
    while (i < toksAll.length) {
      if (toksAll(i).nonEmpty) { toks(m) = toksAll(i); m += 1 }
      i += 1
    }
    val out = new java.util.LinkedHashSet[String]()
    i = 0
    while (i <= m - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }

  /** word_tokens(text) → whitespace tokens, empties dropped, duplicates and
    * order preserved. A dedicated codegen'd expression: the
    * `filter(split(...), lambda)` spelling evaluates its lambda through the
    * interpreted higher-order-function path AND — being CodegenFallback —
    * excluded the whole projection from whole-stage codegen, splitting the
    * corpus scan→fingerprint stage of the SimHash pipeline and gate (r18;
    * same rationale as [[WordShingles]]).
    */
  case class WordTokens(child: Expression)
      extends UnaryExpression {
    override def prettyName: String = "word_tokens"
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      TextOps.tokensEval(v.asInstanceOf[UTF8String])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.ops.TextOps.tokensEval($c)")
    override protected def withNewChildInternal(c: Expression): WordTokens = copy(child = c)
  }

  /** [[WordTokens]]' evaluation body (callable from generated code) —
    * identical output to `filter(split(text, " "), t => t =!= "")`. */
  def tokensEval(v: UTF8String): GenericArrayData = {
    val toksAll = v.toString.split(' ')
    var m = 0
    var i = 0
    while (i < toksAll.length) {
      if (toksAll(i).nonEmpty) m += 1
      i += 1
    }
    val arr = new Array[Any](m)
    var k = 0
    i = 0
    while (i < toksAll.length) {
      if (toksAll(i).nonEmpty) { arr(k) = UTF8String.fromString(toksAll(i)); k += 1 }
      i += 1
    }
    new GenericArrayData(arr)
  }

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    GraftBridge.column(WordTokens(GraftBridge.expression(text)))

  /** Distinct word n-gram shingles. */
  def shingles(text: Column, n: Int = 3): Column =
    GraftBridge.column(WordShingles(GraftBridge.expression(text), n))

  /** jaccard_sim(a, b) over distinct-element string arrays, one pass:
    * hash-set membership count, no intersection array materialized. The
    * array_intersect formulation allocates (and dedupes) a fresh array and —
    * appearing in both numerator and denominator — evaluated twice per pair
    * on the near-dup verify path.
    */
  case class JaccardSim(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def prettyName: String = "jaccard_sim"
    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      TextOps.jaccardEval(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.ops.TextOps.jaccardEval($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): JaccardSim =
      copy(left = newLeft, right = newRight)
  }

  /** |A∩B| / |A∪B| for distinct-element arrays (callable from codegen). */
  def jaccardEval(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    // membership set over the smaller side
    val (small, nSmall, big, nBig) = if (na <= nb) (a, na, b, nb) else (b, nb, a, na)
    val set = new java.util.HashSet[UTF8String](math.max(4, nSmall * 2))
    var i = 0
    while (i < nSmall) { set.add(small.getUTF8String(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nBig) { if (set.contains(big.getUTF8String(i))) inter += 1; i += 1 }
    val union = na + nb - inter
    if (union > 0) inter.toDouble / union else 0.0
  }

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    GraftBridge.column(JaccardSim(GraftBridge.expression(a), GraftBridge.expression(b)))
}
