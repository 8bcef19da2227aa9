package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression gate for every registry query.
  *
  * The correctness gate (Verify + DuckDB oracle) can't see a plan go
  * quadratic or a filter stop reaching the scan — results stay right while
  * the 100-TB story silently dies. This spec pins the plan properties that
  * matter at scale:
  *
  *   - no CartesianProduct anywhere, ever;
  *   - BroadcastNestedLoopJoin only where the broadcast side is bounded by
  *     construction (probe sets, scalar subqueries) — each exemption
  *     justified inline;
  *   - per-query shuffle budget: the number of Exchange nodes in the
  *     executed plan never grows past today's count;
  *   - predicate pushdown / column pruning reach the parquet scans on the
  *     representative queries.
  */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val dir = "/root/testdata/sf0.001"

  // Bounded-broadcast nested-loop joins, each intentional:
  //   q_knn_cosine     — ≤10 probe vectors broadcast against the corpus
  //                      (theta join vec_id <> probe_id); the corpus side
  //                      streams partition-local, never shuffles
  //   q_ngram_jaccard  — 30-doc probe set, all-pairs by design (theta join
  //                      id_a < id_b over a fixed sample)
  //   q_sliding_window — 1-row scalar subquery (max(ts)) joined to pin the
  //                      window edge deterministically
  //   q_bloom_setops   — 1-row merged-sketch frame broadcast cross join
  // q_embed_clusters: the broadcast side is the 8 seed centroids — bounded
  // by construction, same pattern as q_knn_cosine's probe set.
  // q_ann_pq: the ADC scan broadcasts the ≤10-probe LUT set against the
  // encoded corpus (theta join probe_id <> vec_id) — bounded like
  // q_knn_cosine's probe side; corpus codes stream partition-local.
  private val bnljAllowed =
    Set("q_knn_cosine", "q_ngram_jaccard", "q_sliding_window", "q_bloom_setops",
      "q_embed_clusters", "q_ann_pq")

  // Shuffle ceilings measured on the current plans (Exchange nodes in the
  // executed plan, ReusedExchange excluded). A regression here means a new
  // shuffle appeared — at 100 TB that's the difference between one pass
  // over the data and two.
  private val exchangeCeiling = Map(
    "q_ann_ivf" -> 3, "q_ann_lsh" -> 4, "q_ann_pq" -> 5, "q_ann_ivfpq" -> 5,
    "q_array_agg" -> 2, "q_avg" -> 2,
    "q_bloom_membership" -> 5, "q_bloom_setops" -> 5,
    // q_cosine_neardup / q_minhash_neardup / q_simhash_neardup: the whole
    // candidate+verify pipeline materializes once via eager localCheckpoint
    // inside the builder; the visible plan is the final projection/sort over
    // the checkpointed pair set — exactly one range partition
    "q_bucket_agg" -> 2, "q_cosine_neardup" -> 1, "q_count_group" -> 3,
    "q_cube" -> 2, "q_cv_chained" -> 1, "q_cv_combine" -> 2, "q_cv_count" -> 1,
    "q_cv_delta_rollup" -> 1, "q_cv_rollup" -> 1, "q_cv_sliding" -> 2, "q_cv_ttl" -> 1,
    "q_cv_copy" -> 1, "q_cv_combine_table" -> 1, "q_cv_ticks" -> 1,
    "q_cv_bool" -> 1, "q_cv_distinct" -> 1, "q_cv_distinct_on" -> 1,
    "q_cv_append" -> 1, "q_cv_global" -> 0,
    "q_cv_subselect" -> 1, "q_cv_json_unroll" -> 1, "q_cv_typed" -> 1,
    "q_cv_filter" -> 1,
    "q_pii_redact" -> 2, "q_bm25_search" -> 1, "q_embed_clusters" -> 4,
    // q_bm25_indexed/topk/multi: per-doc score agg over the pruned
    // posting slices (one hash shuffle) + final presentation (range sort
    // / TakeOrdered) — never a corpus-wide exchange; multi adds the
    // per-(query,term) idf broadcast, whose idf is now computed IN-PLAN
    // (round 18): the tiny df aggregation rides the broadcast subplan
    // (+2 counted exchange LINES — its term-hash shuffle and its
    // broadcast, both over ≤|terms| rows) instead of a SERIAL driver
    // collect job ahead of the scoring job — one fewer action per batch
    "q_bm25_indexed" -> 2, "q_bm25_topk" -> 2, "q_bm25_multi" -> 5,
    // multi_topk ranks via the bounded per-query BottomKAgg (round 18 —
    // partial top-k map-side, final exchange carries ≤ k rows per map
    // partition per query; the r17 window spelling moved EVERY matching
    // doc to one task per query)
    "q_bm25_multi_topk" -> 6,
    // q_bm25_topk_pruned: the same spelling, hence plan, as q_bm25_topk
    "q_bm25_topk_pruned" -> 2,
    // q_bm25_delete runs over the POST-COMPACTION index (single folded
    // generation, tombstones retired) — same plan as q_bm25_indexed
    "q_bm25_delete" -> 2,
    "q_stratified_sample" -> 2,
    // q_dedup_clusters: the returned frame is the per-cluster summary over
    // the final (checkpointed) labels — the iterative rounds' shuffles run
    // inside the builder and don't appear in this plan
    "q_media_frames" -> 1, "q_dedup_clusters" -> 2,
    "q_decontaminate" -> 4, "q_hash_sample" -> 2,
    "q_cv_async" -> 1, "q_cv_activate" -> 1, "q_cv_sw_combine" -> 1,
    "q_cv_constraint" -> 1, "q_cv_schema" -> 1, "q_cv_restart" -> 1,
    // same overlay-read shape as q_cv_restart, on the object-store root
    "q_cv_object_restart" -> 1,
    "q_cv_stats" -> 1, "q_cv_streaming" -> 1,
    "q_cv_matrel_dml" -> 1, "q_cv_rename" -> 1, "q_cv_truncate" -> 1,
    "q_cv_transform_chain" -> 1, "q_date_round" -> 1, "q_dedup_exact" -> 2,
    "q_dist_quantiles" -> 2, "q_distinct" -> 2, "q_doc_stats" -> 3,
    "q_embedding_stats" -> 2, "q_fingerprint" -> 0, "q_first_values" -> 2,
    // q_first_values_combine: shard-grouped partials, re-group on event_type,
    // final sort — two agg shuffles + one range partition
    "q_first_values_combine" -> 3,
    "q_freq_users" -> 2, "q_hll_types_per_user" -> 2, "q_hll_union_rollup" -> 2,
    "q_hll_users" -> 2, "q_hypothetical_rank" -> 2, "q_json_agg" -> 2,
    "q_json_object_agg" -> 2, "q_json_int_sum" -> 2,
    "q_json_object_int_sum" -> 2, "q_keyed_min_max" -> 2, "q_knn_cosine" -> 3,
    "q_langid" -> 1, "q_limit" -> 0, "q_media_meta" -> 1, "q_media_resize" -> 1,
    "q_minhash_neardup" -> 1, "q_ngram_jaccard" -> 2, "q_percentile" -> 2,
    "q_quality_score" -> 2, "q_regr" -> 2, "q_repetition" -> 4,
    "q_revenue_nation" -> 5,
    "q_rollup" -> 2, "q_set_agg" -> 3, "q_simhash_neardup" -> 1,
    "q_sliding_window" -> 4, "q_stream_table_join" -> 4, "q_string_agg" -> 3,
    "q_sum_min_max" -> 2, "q_token_count" -> 2, "q_topk" -> 3,
    "q_topk_sketch" -> 4, "q_var_stddev" -> 2,
    // q_pack_sequences: one shuffle on the shard key feeds both the window
    // and the (shard, pack_id) agg; final range sort. q_chunk_docs is
    // map-only + range sort. q_semantic_dedup: bucket equi-join (SMJ) +
    // distinct + dropped-set join + agg + sort. q_domain_mix: one agg + sort.
    "q_pack_sequences" -> 2, "q_chunk_docs" -> 1,
    "q_semantic_dedup" -> 5, "q_domain_mix" -> 2,
    // q_bpe_tokens / q_curation_funnel: map-only scan + one agg + range sort
    "q_bpe_tokens" -> 2, "q_curation_funnel" -> 2,
    // q_dedup_stream: append-only matrel read + range sort (the gate's
    // per-batch joins run at ingest, not in this read plan).
    // q_neardup_stream adds the suppressed-copy anti-join (broadcast).
    "q_dedup_stream" -> 1, "q_dedup_stream_eo" -> 1, "q_gate_pipeline" -> 1,
    "q_dedup_stream_ttl" -> 1,
    // round-11 gate reads: all the same shape — matrel / stats-relation
    // read + range sort (gate work happens at ingest, not in the read).
    "q_neardup_stream_ttl" -> 1, "q_gate_streaming" -> 1,
    "q_neardup_streaming" -> 1,
    "q_dedup_stream_exec" -> 1, "q_neardup_stream_exec" -> 1,
    "q_contamination_stream_exec" -> 1,
    "q_gate_stats" -> 1, "q_gate_pipeline_eo" -> 1,
    "q_neardup_stream" -> 2, "q_cosine_stream" -> 1,
    // q_jaccard_stream: same read shape as q_neardup_stream — the seeded
    // slice anti-joined against the admitted overlay + range sort.
    // q_contamination_stream: append-only matrel read + range sort.
    "q_jaccard_stream" -> 2, "q_contamination_stream" -> 1)

  private lazy val plans: Map[String, String] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution.executedPlan.toString
    }

  test("every registry query has a pinned shuffle ceiling") {
    val missing = SparkEntry.queries.keySet -- exchangeCeiling.keySet
    assert(missing.isEmpty, s"add new queries to exchangeCeiling: $missing")
  }

  test("no CartesianProduct in any registry query plan") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty, s"cartesian joins in: $offenders")
  }

  test("BroadcastNestedLoopJoin only where the broadcast side is bounded") {
    val offenders = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") && !bnljAllowed(n) => n
    }
    assert(offenders.isEmpty,
      s"unbounded nested-loop joins in: $offenders — equi-join or broadcast a bounded side")
  }

  test("shuffle budget: Exchange count never grows past the pinned ceiling") {
    val over = plans.flatMap { case (n, p) =>
      val count = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
      exchangeCeiling.get(n).collect { case c if count > c => s"$n: $count > $c" }
    }
    assert(over.isEmpty, s"new shuffles appeared: ${over.mkString("; ")}")
  }

  test("filter pushdown reaches the parquet scan (q_langid doc_id < 100)") {
    assert(plans("q_langid").contains("LessThan(doc_id,100)"),
      "doc_id < 100 should appear in PushedFilters on the documents scan")
  }

  test("column pruning: q_fingerprint scans only (doc_id, text)") {
    val read = plans("q_fingerprint").linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") && !read.contains("lang"),
      s"expected a 2-column read, got: $read")
  }

  test("q_revenue_nation broadcasts the small dimensions") {
    val p = plans("q_revenue_nation")
    val bhj = p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin")
    assert(bhj >= 2, s"customer and nation should broadcast-join, found $bhj BHJs")
  }

  // The near-dup/ANN pipelines' internal stages sit behind localCheckpoint,
  // so the registry plans above never show them. A CodegenFallback
  // expression would pull its operator out of whole-stage codegen without
  // changing any result; this pins the fused codegen of all nine.
  test("near-dup/ANN sketch expressions run inside whole-stage codegen") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.GraftBridge.{column => gcol, expression => gexp}
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    import graft.ops._
    val docs = spark.range(50).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i => concat(lit(s"w$i"),
        pmod(xxhash64(col("id") * (i + 1)), lit(7L)).cast("string"))): _*).as("text"))
    val emb = spark.range(50).select(col("id").as("vec_id"),
      array((1 to 64).map(k => (pmod(xxhash64(col("id") * k), lit(201L)) - lit(100L))
        .cast("double") / lit(100.0)): _*).as("v"))
    val planes = Array.fill(8, 12)(Array.fill(64)(0.01))
    val centroids = Array.fill(16)(Array.fill(64)(0.02))
    val codebooks = Array.fill(16, 16)(Array.fill(4)(0.03))
    val stages: Seq[(String, DataFrame, Seq[Class[_ <: Expression]])] = Seq(
      ("minhash", docs.select(col("doc_id"),
        explode(gcol(MinHashLsh.MinHashBuckets(gexp(MinHashLsh.minhashSignature(
          TextOps.shingles(col("text"), 3), 128)), 64, 2))).as("bucket")),
        Seq(classOf[TextOps.WordShingles], classOf[MinHashLsh.MinHashSignature],
          classOf[MinHashLsh.MinHashBuckets])),
      ("simhash", docs.select(col("doc_id"),
        explode(SimHash.blockKeys(SimHash.simhash64(TextOps.tokens(col("text"))), 6, 3))
          .as("k")),
        Seq(classOf[TextOps.WordTokens], classOf[SimHash.SimHash64],
          classOf[SimHash.SimHashBlockKeys])),
      ("lsh_buckets", emb.select(col("vec_id"),
        explode(gcol(AnnSearch.LshBuckets(gexp(col("v")), planes))).as("bkt")),
        Seq(classOf[AnnSearch.LshBuckets])),
      ("ivf_assign", emb.select(col("vec_id"),
        explode(gcol(AnnSearch.IvfAssign(gexp(col("v")), centroids, 2))).as("cl")),
        Seq(classOf[AnnSearch.IvfAssign])),
      ("pq_encode", emb.select(col("vec_id"),
        gcol(PqSearch.PqEncode(gexp(col("v")), codebooks)).as("codes")),
        Seq(classOf[PqSearch.PqEncode])))
    // operators fused into one stage: stop at InputAdapter, the boundary
    // of a non-codegen child
    def fusedNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(fusedNodes)
    }
    stages.foreach { case (name, df, classes) =>
      assert(df.collect().nonEmpty, name) // runs the generated code
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val fused = plan.collect { case w: WholeStageCodegenExec => fusedNodes(w.child) }
        .flatten.flatMap(_.expressions)
      classes.foreach { c =>
        assert(fused.exists(_.exists(e => c.isInstance(e))),
          s"$name: ${c.getSimpleName} is outside every WholeStageCodegen span\n$plan")
      }
    }
  }
}
