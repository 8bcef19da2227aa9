package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.GraftBridge

/** Column-API surface + SQL registration for the sketch functions —
  * the Spark equivalent of the reference's 355-object SQL extension
  * surface (pipelinedb--1.0.0.sql). Use either:
  *
  *   import graft.functions.GraftFunctions._
  *   df.groupBy("k").agg(hll_count_distinct(col("x")))
  *
  * or `GraftFunctions.register(spark)` then SQL:
  *
  *   SELECT k, hll_cardinality(hll_agg(x)) FROM t GROUP BY k
  */
object GraftFunctions {

  private def col(e: Expression): Column = GraftBridge.column(e)
  private def ex(c: Column): Expression = GraftBridge.expression(c)
  private def agg(a: AggregateFunction): Column = col(a.toAggregateExpression())

  // ---- aggregates producing storable state (BinaryType) ----
  def hll_agg(c: Column): Column = agg(HllAgg(ex(c)))
  def hll_agg(c: Column, p: Int): Column = agg(HllAgg(ex(c), p))
  def hll_union_agg(c: Column): Column = agg(HllUnionAgg(ex(c)))
  def bloom_agg(c: Column): Column = agg(BloomAgg(ex(c)))
  def bloom_agg(c: Column, fpr: Double, n: Int): Column = agg(BloomAgg(ex(c), fpr, n))
  def bloom_union_agg(c: Column): Column = agg(BloomUnionAgg(ex(c)))
  def bloom_intersection_agg(c: Column): Column = agg(BloomIntersectionAgg(ex(c)))
  def freq_agg(c: Column): Column = agg(FreqAgg(ex(c)))
  def freq_agg(c: Column, eps: Double, confidence: Double): Column =
    agg(FreqAgg(ex(c), eps, confidence))
  def freq_merge_agg(c: Column): Column = agg(FreqMergeAgg(ex(c)))
  def dist_agg(c: Column): Column = agg(DistAgg(ex(c)))
  def dist_agg(c: Column, compression: Double): Column = agg(DistAgg(ex(c), compression))
  def dist_merge_agg(c: Column): Column = agg(DistMergeAgg(ex(c)))
  def topk_agg(c: Column, k: Int): Column = agg(TopKAgg(ex(c), k))
  def topk_merge_agg(c: Column): Column = agg(TopKMergeAgg(ex(c)))
  // bottom_k: the k smallest values per group (ascending array), O(k) state;
  // _merge merges stored ≤k arrays (first_values' combine function)
  def bottom_k(c: Column, k: Int): Column = agg(BottomKAgg(ex(c), k))
  def bottom_k_merge(c: Column, k: Int): Column =
    agg(BottomKAgg(ex(c), k, flattenInput = true))

  // ---- finalizing aggregates ----
  def hll_count_distinct(c: Column): Column = agg(HllCountDistinct(ex(c)))

  // ---- scalar finalizers / inspectors ----
  def hll_cardinality(c: Column): Column = col(HllCardinality(ex(c)))
  def bloom_contains(state: Column, v: Column): Column = col(BloomContains(ex(state), ex(v)))
  def bloom_cardinality(c: Column): Column = col(BloomCardinality(ex(c)))
  def freq(state: Column, v: Column): Column = col(CmsFreq(ex(state), ex(v)))
  def freq_total(c: Column): Column = col(CmsTotal(ex(c)))
  def freq_norm(state: Column, v: Column): Column = col(CmsFreqNorm(ex(state), ex(v)))
  def dist_quantile(state: Column, q: Column): Column = col(DistQuantile(ex(state), ex(q)))
  def dist_cdf(state: Column, x: Column): Column = col(DistCdf(ex(state), ex(x)))
  def topk_values(c: Column): Column = col(TopKValues(ex(c)))
  def topk_freqs(c: Column): Column = col(TopKFreqs(ex(c)))
  def topk(c: Column): Column = col(TopKMap(ex(c)))

  // ---- SQL registration ----

  private def intLit(e: Expression): Int =
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => other.toString.toInt
    }
  private def dblLit(e: Expression): Double =
    e.eval(null) match {
      case d: Double => d
      case f: Float => f.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case i: Int => i.toDouble
      case other => other.toString.toDouble
    }

  /** Registers every sketch function for SQL use in this session.
    * Idempotent per SESSION (tracked by identity, not by probing function
    * names — a user function that happens to shadow one of ours must not
    * suppress installation of the rest): every engine construction calls
    * this on the same session, and re-registering would spam a "replaced
    * a previously registered function" WARN per function per call. */
  def register(spark: SparkSession): Unit =
    if (registeredSessions.add(spark)) {
      val reg = spark.sessionState.functionRegistry
      installAll((name, builder) => reg.createOrReplaceTempFunction(name, builder, "internal"))
    }

  // weak keys: every ContViewEngine registers its private newSession(),
  // and a strong set would pin each such session (full SessionState)
  // forever across the documented build-a-fresh-engine restart pattern
  private val registeredSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Plug the whole function surface into a SparkSessionExtensions — the
    * cluster-deployment path: `--conf spark.sql.extensions=graft.GraftExtensions`
    * makes every session carry the functions without any library call.
    */
  def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    installAll { (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
        builder))
    }

  /** The full function catalog, fed to whichever registry sink applies. */
  private def installAll(install: (String, Seq[Expression] => Expression) => Unit): Unit = {
    def fn(name: String)(builder: Seq[Expression] => Expression): Unit =
      install(name, builder)

    fn("hll_agg") {
      case Seq(c) => HllAgg(c)
      case Seq(c, p) => HllAgg(c, intLit(p))
    }
    fn("hll_count_distinct") { case Seq(c) => HllCountDistinct(c) }
    fn("hll_union_agg") { case Seq(c) => HllUnionAgg(c) }
    fn("hll_cardinality") { case Seq(c) => HllCardinality(c) }

    fn("bloom_agg") {
      case Seq(c) => BloomAgg(c)
      case Seq(c, p, n) => BloomAgg(c, dblLit(p), intLit(n))
    }
    fn("bloom_union_agg") { case Seq(c) => BloomUnionAgg(c) }
    fn("bloom_intersection_agg") { case Seq(c) => BloomIntersectionAgg(c) }
    fn("bloom_contains") { case Seq(s, v) => BloomContains(s, v) }
    fn("bloom_cardinality") { case Seq(c) => BloomCardinality(c) }

    fn("freq_agg") {
      case Seq(c) => FreqAgg(c)
      case Seq(c, eps, conf) => FreqAgg(c, dblLit(eps), dblLit(conf))
    }
    fn("freq_merge_agg") { case Seq(c) => FreqMergeAgg(c) }
    fn("freq") { case Seq(s, v) => CmsFreq(s, v) }
    fn("freq_total") { case Seq(c) => CmsTotal(c) }
    fn("freq_norm") { case Seq(s, v) => CmsFreqNorm(s, v) }

    fn("dist_agg") {
      case Seq(c) => DistAgg(c)
      case Seq(c, comp) => DistAgg(c, dblLit(comp))
    }
    fn("dist_merge_agg") { case Seq(c) => DistMergeAgg(c) }
    fn("dist_quantile") { case Seq(s, q) => DistQuantile(s, q) }
    fn("dist_cdf") { case Seq(s, x) => DistCdf(s, x) }

    fn("topk_agg") {
      case Seq(c) => TopKAgg(c)
      case Seq(c, k) => TopKAgg(c, intLit(k))
      case Seq(c, k, w) => TopKWeightedAgg(Seq(c, w), intLit(k)) // weighted variant
    }
    fn("topk_merge_agg") { case Seq(c) => TopKMergeAgg(c) }
    fn("topk_values") { case Seq(c) => TopKValues(c) }
    fn("topk_freqs") { case Seq(c) => TopKFreqs(c) }
    fn("topk") { case Seq(c) => TopKMap(c) }

    // combine(stateCol): merge stored partial states and finalize — the
    // user-facing re-aggregation over matrel columns (reference
    // RewriteCombineAggs, analyzer.c:4446-4615). Resolution is metadata-
    // driven: the CV planner stamps every state column with its combine-kind
    // (CvPlanner.CombineKindKey), parquet round-trips the tag, and this
    // builder rebuilds the merge aggregate + finalizer from it. Function
    // resolution runs only once children are resolved, so the attribute's
    // metadata is available here.
    fn("combine") { case Seq(attr) =>
      import org.apache.spark.sql.catalyst.expressions.AttributeReference
      val kindKey = graft.cv.CvPlanner.CombineKindKey
      val kind = attr match {
        case a: AttributeReference if a.metadata.contains(kindKey) =>
          a.metadata.getString(kindKey)
        case other => throw new IllegalArgumentException(
          s"combine() requires a stored continuous-view state column " +
            s"(no '$kindKey' metadata on ${other.sql})")
      }
      val split = graft.cv.AggSplit.resolve(kind)
      GraftBridge.toExpression(split.finalizer(split.reAgg(col(attr))))
    }

    // sw_combine(stateCol): combine() honoring a sliding-window CV's
    // read-time expiry (reference sw_combine, pipelinedb--1.0.0.sql:122-140).
    // The window spec rides the state column's metadata (CvPlanner stamps
    // bucket column + window seconds on SW CVs), so the liveness filter is
    // rebuilt here with no engine handle: dead step buckets feed NULL into
    // the merge aggregate, which every merge ignores.
    fn("sw_combine") { case Seq(attr) =>
      import org.apache.spark.sql.catalyst.expressions.AttributeReference
      import org.apache.spark.sql.functions.{col => byName, current_timestamp, expr, when}
      val kindKey = graft.cv.CvPlanner.CombineKindKey
      val (kind, bucketCol, winSec) = attr match {
        case a: AttributeReference if a.metadata.contains(kindKey) &&
            a.metadata.contains(graft.cv.CvPlanner.SwBucketKey) =>
          (a.metadata.getString(kindKey),
            a.metadata.getString(graft.cv.CvPlanner.SwBucketKey),
            a.metadata.getLong(graft.cv.CvPlanner.SwWindowKey))
        case a: AttributeReference if a.metadata.contains(kindKey) =>
          throw new IllegalArgumentException(
            "sw_combine() requires a SLIDING-WINDOW continuous view's state " +
              "column; use combine() for non-sliding views")
        case other => throw new IllegalArgumentException(
          s"sw_combine() requires a stored continuous-view state column " +
            s"(no '$kindKey' metadata on ${other.sql})")
      }
      val split = graft.cv.AggSplit.resolve(kind)
      val live = byName(bucketCol) > current_timestamp() - expr(s"INTERVAL $winSec SECOND")
      GraftBridge.toExpression(split.finalizer(split.reAgg(when(live, col(attr)))))
    }

    // finalize(stateCol): apply ONLY the finalize step to a stored state
    // (reference pipelinedb.finalize, miscutils.c:343-466) — same metadata-
    // driven resolution as combine(), without the merge.
    fn("finalize") { case Seq(attr) =>
      import org.apache.spark.sql.catalyst.expressions.AttributeReference
      val kindKey = graft.cv.CvPlanner.CombineKindKey
      val kind = attr match {
        case a: AttributeReference if a.metadata.contains(kindKey) =>
          a.metadata.getString(kindKey)
        case other => throw new IllegalArgumentException(
          s"finalize() requires a stored continuous-view state column " +
            s"(no '$kindKey' metadata on ${other.sql})")
      }
      GraftBridge.toExpression(graft.cv.AggSplit.resolve(kind).finalizer(col(attr)))
    }

    // deserialize(stateCol): wire format → internal transition state
    // (reference pipelinedb.deserialize, miscutils.c:468-560). Stored state
    // columns here already ARE the internal representation (the parquet
    // reader deserialized them), so this validates that the argument is a
    // tagged state column and passes it through unchanged — its output
    // still carries the combine-kind metadata, so combine(deserialize(c))
    // and finalize(deserialize(c)) compose like the reference's call chain.
    fn("deserialize") { case Seq(attr) =>
      import org.apache.spark.sql.catalyst.expressions.AttributeReference
      val kindKey = graft.cv.CvPlanner.CombineKindKey
      attr match {
        case a: AttributeReference if a.metadata.contains(kindKey) => a
        case other => throw new IllegalArgumentException(
          s"deserialize() requires a stored continuous-view state column " +
            s"(no '$kindKey' metadata on ${other.sql})")
      }
    }

    // ---- scalar sketch constructors / mutators / printers ----
    // (reference *_empty / *_add / *_print, sql:1095-2438; empties are
    // literal serialized states — constant-folded for free)
    locally {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.BinaryType
      import graft.sketch._
      fn("hll_empty") {
        case Seq() => Literal(HyperLogLog.empty().serialize(), BinaryType)
        case Seq(p) => Literal(HyperLogLog.empty(intLit(p)).serialize(), BinaryType)
      }
      fn("bloom_empty") {
        case Seq() => Literal(BloomFilter.empty().serialize(), BinaryType)
        case Seq(p, n) => Literal(BloomFilter.empty(dblLit(p), intLit(n)).serialize(), BinaryType)
      }
      fn("freq_empty") {
        case Seq() => Literal(CountMinSketch.empty().serialize(), BinaryType)
        case Seq(eps, conf) =>
          Literal(CountMinSketch.empty(dblLit(eps), dblLit(conf)).serialize(), BinaryType)
      }
      fn("dist_empty") {
        case Seq() => Literal(TDigest.empty().serialize(), BinaryType)
        case Seq(c) => Literal(TDigest.empty(dblLit(c)).serialize(), BinaryType)
      }
      fn("topk_empty") {
        case Seq() => Literal(SpaceSaving.empty().serialize(), BinaryType)
        case Seq(k) => Literal(SpaceSaving.empty(intLit(k)).serialize(), BinaryType)
      }
      Seq("hll", "bloom", "freq", "dist", "topk").foreach { kind =>
        fn(s"${kind}_add") { case Seq(s, v) => SketchAdd(s, v, kind) }
        fn(s"${kind}_print") { case Seq(s) => SketchPrint(s, kind) }
      }
      // reference name for the topk mutator
      fn("topk_increment") { case Seq(s, v) => SketchAdd(s, v, "topk") }
    }

    // date_round(ts, interval): floor to an arbitrary interval — the
    // reference's bucketing primitive (miscutils.c:305-331). Accepts an
    // INTERVAL literal, a '5 minutes' string, or integer seconds.
    fn("date_round") { case Seq(ts, ivl) =>
      import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Floor, Literal, Multiply, SecondsToTimestamp}
      import org.apache.spark.sql.types.DoubleType
      val secs = Literal(intervalSeconds(ivl).toDouble)
      SecondsToTimestamp(
        Multiply(Cast(Floor(Divide(Cast(ts, DoubleType), secs)), DoubleType), secs))
    }

    // hash_group / ls_hash_group: 64-bit group-key hash (hashfuncs.c:93-214);
    // ls_ variant leads with the time column for locality — same hash here,
    // argument order carries the locality intent.
    fn("hash_group") { exprs => new org.apache.spark.sql.catalyst.expressions.XxHash64(exprs) }
    fn("ls_hash_group") { exprs => new org.apache.spark.sql.catalyst.expressions.XxHash64(exprs) }

    // ---- PipelineDB-named aggregate aliases over Spark natives ----
    locally {
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.catalyst.expressions.aggregate._
      import org.apache.spark.sql.types.{DoubleType, LongType}
      def aggE(f: AggregateFunction): Expression = f.toAggregateExpression()

      // set_agg / set_cardinality / exact_count_distinct (sql:971-1062)
      fn("set_agg") { case Seq(c) => CollectSet(c) }
      fn("set_cardinality") { case Seq(c) => Size(c, legacySizeOfNull = false) }
      fn("exact_count_distinct") { case Seq(c) =>
        Cast(Size(aggE(CollectSet(c)), legacySizeOfNull = false), LongType)
      }

      // keyed_min/keyed_max (kv.c): value at the min/max key
      fn("keyed_min") { case Seq(key, value) => MinBy(value, key) }
      fn("keyed_max") { case Seq(key, value) => MaxBy(value, key) }

      // combinable_array_agg (aggfuncs.c); combinable_string_agg is Spark's
      // own built-in string_agg (ListAgg), which CvPlanner splits
      fn("combinable_array_agg") { case Seq(c) => CollectList(c) }

      // first_values(n, col): smallest-n mergeable list (bounded O(n) buffer)
      fn("first_values") { case Seq(n, c) =>
        aggE(graft.functions.BottomKAgg(c, intLit(n)))
      }

      // hypothetical-set aggregates (sql:1274-1502): rank of a hypothetical
      // value v within the accumulated x values
      def countLt(v: Expression, x: Expression): Expression =
        aggE(Count(Seq(CaseWhen(Seq((LessThan(x, v), Literal(1))), None))))
      def countLe(v: Expression, x: Expression): Expression =
        aggE(Count(Seq(CaseWhen(Seq((LessThanOrEqual(x, v), Literal(1))), None))))
      def countAll: Expression = aggE(Count(Seq(Literal(1))))

      fn("combinable_rank") { case Seq(v, x) => Add(Literal(1L), countLt(v, x)) }
      // (rank-1)/rowcount = countLt/N — reference hllfuncs.c
      // cq_hypothetical_percent_rank_final divides by the accumulated row
      // count, NOT N+1 (cume_dist below is the one that uses N+1).
      fn("combinable_percent_rank") { case Seq(v, x) =>
        Divide(Cast(countLt(v, x), DoubleType), Cast(countAll, DoubleType))
      }
      fn("combinable_cume_dist") { case Seq(v, x) =>
        Divide(Cast(Add(countLe(v, x), Literal(1L)), DoubleType),
          Cast(Add(countAll, Literal(1L)), DoubleType))
      }
      fn("combinable_dense_rank") { case Seq(v, x) =>
        // distinct values strictly below the hypothetical value, via HLL
        // (reference uses an HLL too — hllfuncs.c:524)
        Add(Literal(1L),
          aggE(HllCountDistinct(CaseWhen(Seq((LessThan(x, v), x)), None))))
      }
      // ordered-set percentile: exact, full-sample (sql:1503-1602)
      fn("combinable_percentile_cont") { case Seq(q, x) => new Percentile(x, q) }

      // bucket_agg + inspectors (aggfuncs.c:462-987)
      fn("bucket_agg") { exprs => BucketAgg(exprs) }
      fn("bucket_merge_agg") { case Seq(c) => BucketMergeAgg(c) }
      fn("bucket_cardinalities") { case Seq(c) => BucketCardinalities(c) }
      fn("bucket_cardinality") { case Seq(c, id) => BucketCardinalityAt(c, id) }
      fn("bucket_ids") { case Seq(c) => BucketIds(c) }
      fn("json_map_merge_agg") { case Seq(c) => JsonMapMergeAgg(c) }

      // Register bucket_agg / json_object_int_sum as combinable inside
      // continuous views (the reference treats every aggregate this way via
      // its combine catalog; these two are typed-imperative and so need
      // explicit merge aggregates). Also the model for USER combinables:
      // CvPlanner.registerCombinable + AggSplit.registerKind.
      graft.cv.CvPlanner.registerCombinable("bucket_agg", bucketSplit)
      graft.cv.AggSplit.registerKind("bucket_agg",
        () => bucketSplit(null).copy(partial = org.apache.spark.sql.functions.lit(null)))
      graft.cv.CvPlanner.registerCombinable("json_object_int_sum", jsonIntSumSplit)
      graft.cv.AggSplit.registerKind("json_object_int_sum",
        () => jsonIntSumSplit(null).copy(partial = org.apache.spark.sql.functions.lit(null)))

      // json aggregate family (json.c / jsonb.c)
      fn("json_object_int_sum") { case Seq(c) => JsonIntSumAgg(c) }
      fn("json_agg") { case Seq(c) =>
        org.apache.spark.sql.catalyst.expressions.StructsToJson(
          Map.empty, new SortArray(aggE(CollectList(c))))
      }
      // Duplicate keys keep the greatest value per key (sort + last-wins
      // dedup) — deterministic under parallel merge, and dup-tolerant like
      // the reference (which emits arrival-order duplicates in JSON text).
      def jsonObjectAgg(k: Expression, v: Expression): Expression =
        org.apache.spark.sql.catalyst.expressions.StructsToJson(
          Map.empty,
          org.apache.spark.sql.catalyst.expressions.MapFromEntries(
            DedupEntriesByKey(new SortArray(aggE(CollectList(CreateStruct(Seq(k, v))))))))
      fn("json_object_agg") { case Seq(k, v) => jsonObjectAgg(k, v) }
      // jsonb variants are the same binary-agnostic JSON text here (the
      // json/jsonb split is a Postgres storage distinction)
      fn("jsonb_object_agg") { case Seq(k, v) => jsonObjectAgg(k, v) }
      fn("jsonb_agg") { case Seq(c) =>
        org.apache.spark.sql.catalyst.expressions.StructsToJson(
          Map.empty, new SortArray(aggE(CollectList(c))))
      }
    }
  }

  /** bucket_agg as a CV-combinable: partial = the original aggregate's
    * serialized state, merge = bucket_merge_agg, finalize = identity.
    */
  private val bucketSplit
      : org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
        graft.cv.AggSplit =
    ae => graft.cv.AggSplit(
      partial = if (ae == null) null else col(ae),
      reAgg = s => agg(BucketMergeAgg(ex(s))),
      finalizer = identity,
      kind = "bucket_agg")

  private val jsonIntSumSplit
      : org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
        graft.cv.AggSplit =
    ae => graft.cv.AggSplit(
      partial = if (ae == null) null else col(ae),
      reAgg = s => agg(JsonMapMergeAgg(ex(s))),
      finalizer = identity,
      kind = "json_object_int_sum")

  /** Seconds from an interval-ish literal expression. */
  private def intervalSeconds(e: Expression): Long = e.eval(null) match {
    case l: Long if e.dataType.isInstanceOf[org.apache.spark.sql.types.DayTimeIntervalType] =>
      l / 1000000L
    case cal: org.apache.spark.unsafe.types.CalendarInterval =>
      require(cal.months == 0, "date_round intervals must be day-time (no months)")
      cal.days * 86400L + cal.microseconds / 1000000L
    case s: org.apache.spark.unsafe.types.UTF8String =>
      graft.cv.CvPlanner.intervalSeconds(s.toString)
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(s"cannot parse interval: $other")
  }
}
