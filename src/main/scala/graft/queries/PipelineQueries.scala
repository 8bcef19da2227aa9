package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{KeywordScore, Media, Pii}

/** Training-data-pipeline operators beyond near-dup/ANN: PII redaction,
  * BM25 keyword scoring, embedding cluster assignment, video frame
  * sampling. Every query keeps the 100-TB plan shape: map-only scans where
  * possible, broadcast for small sides, and nothing wider than ids +
  * scalars in any shuffle.
  */
object PipelineQueries {

  /** Deterministic synthetic PII spliced into each document (both engines
    * build the identical string): every doc gets an email; every 3rd an
    * IPv4; every 5th an SSN shape; every 7th a phone. The corpus has no
    * real PII, so the workload is constructed — but the detect/redact
    * pipeline under test is the production one.
    */
  private def augmentedText = {
    val d = col("doc_id")
    concat(
      col("text"), lit(" contact u"), d.cast("string"), lit("@ex.com"),
      when(d % 3 === 0,
        concat(lit(" ip 10.0."), (d % 256).cast("string"), lit("."),
          (d % 100).cast("string"))).otherwise(""),
      when(d % 5 === 0,
        concat(lit(" ssn 987-65-"), lpad((d % 10000).cast("string"), 4, "0"))).otherwise(""),
      when(d % 7 === 0, lit(" call 555-867-5309")).otherwise(""))
  }

  // Top-k retrieval over the indexed tier — the end-shape of a search
  // query. Ordering on (ROUNDED score desc, doc_id) makes the k-boundary
  // deterministic across engines (both agree on the rounded values —
  // q_bm25_search pins that); the Spark plan is TakeOrderedAndProject
  // over the matching postings only, never a corpus sort.
  private def bm25TopK(name: String): QDef =
    QDef(
      name,
      """WITH tf AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'query')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'vector')) AS DOUBLE) AS tf2
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                      x -> x <> '') AS tk
        |        FROM documents)
        |), st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |         sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |         sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
        |  FROM tf
        |)
        |SELECT doc_id, score FROM (
        |  SELECT doc_id,
        |    round(ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
        |            * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |        + ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
        |            * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |        + ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
        |            * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS score
        |  FROM tf, st
        |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |)
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val idx = KeywordScore.indexFor(Tables.documents(s, dir),
        "doc_id", "text", cacheKey = dir)
      KeywordScore.bm25Indexed(s, idx, Seq("spark", "query", "vector"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(desc("score"), col("doc_id")).limit(20)
    }

  val all: Seq[QDef] = Seq(
    // PII detect + redact: per-source counts of each category and the
    // redacted corpus size (placeholders change lengths deterministically,
    // so total chars pins the rewrite byte-for-byte). Map-only — one
    // aggregation of 6 numbers is the only shuffle at any scale.
    QDef(
      "q_pii_redact",
      """WITH aug AS (
        |  SELECT source,
        |         text || ' contact u' || doc_id || '@ex.com'
        |         || CASE WHEN doc_id % 3 = 0
        |                 THEN ' ip 10.0.' || (doc_id % 256) || '.' || (doc_id % 100)
        |                 ELSE '' END
        |         || CASE WHEN doc_id % 5 = 0
        |                 THEN ' ssn 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |                 ELSE '' END
        |         || CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309' ELSE '' END AS t
        |  FROM documents
        |), red AS (
        |  SELECT source, t,
        |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS emails,
        |    len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ips,
        |    len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS ssns,
        |    len(regexp_extract_all(t, '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS phones,
        |    length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'),
        |      '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
        |      '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '[PHONE]', 'g')) AS red_len
        |  FROM aug
        |)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(emails) AS BIGINT) AS emails, CAST(sum(ips) AS BIGINT) AS ips,
        |       CAST(sum(ssns) AS BIGINT) AS ssns, CAST(sum(phones) AS BIGINT) AS phones,
        |       CAST(sum(red_len) AS BIGINT) AS redacted_chars
        |FROM red GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val aug = Tables.documents(s, dir).select(col("source"), augmentedText.as("t"))
      aug.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(Pii.count(col("t"), "email")).cast("long").as("emails"),
        sum(Pii.count(col("t"), "ipv4")).cast("long").as("ips"),
        sum(Pii.count(col("t"), "ssn")).cast("long").as("ssns"),
        sum(Pii.count(col("t"), "phone")).cast("long").as("phones"),
        sum(length(Pii.redact(col("t")))).cast("long").as("redacted_chars"))
        .orderBy("source")
    },

    // BM25 keyword scoring: fixed query terms, two corpus scans (tiny
    // global-stats pass, then map-side scoring) — no inverted index, no
    // explode, nothing wider than (doc_id, score) shuffles.
    QDef(
      "q_bm25_search",
      """WITH tf AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'query')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'vector')) AS DOUBLE) AS tf2
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                      x -> x <> '') AS tk
        |        FROM documents)
        |), st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |         sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |         sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
        |  FROM tf
        |)
        |SELECT doc_id,
        |  round(ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
        |          * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |      + ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
        |          * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |      + ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
        |          * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS score
        |FROM tf, st
        |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      KeywordScore.bm25(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "query", "vector"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("doc_id")
    },

    // BM25 over the PERSISTED inverted index (round 15): build once
    // (memoized per corpus), then every query reads only its terms'
    // partition-pruned posting slices — O(matching postings) per query
    // instead of O(corpus). Same oracle as q_bm25_search: the two tiers
    // must score identically.
    QDef(
      "q_bm25_indexed",
      """WITH tf AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'query')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'vector')) AS DOUBLE) AS tf2
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                      x -> x <> '') AS tk
        |        FROM documents)
        |), st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |         sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |         sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
        |  FROM tf
        |)
        |SELECT doc_id,
        |  round(ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
        |          * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |      + ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
        |          * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |      + ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
        |          * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS score
        |FROM tf, st
        |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val idx = KeywordScore.indexFor(Tables.documents(s, dir),
        "doc_id", "text", cacheKey = dir)
      KeywordScore.bm25Indexed(s, idx, Seq("spark", "query", "vector"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("doc_id")
    },

    bm25TopK("q_bm25_topk"),


    // The index's single-query top-k, the same spelling as q_bm25_topk:
    // full scoring plus Spark's bounded TakeOrderedAndProject. The name is
    // kept from the deleted max-impact pruned path, which this spelling
    // matched at sf0.1 (a one-entry bm25IndexedMultiTopK measured slower,
    // PERF_NOTES §45); perfbench batch_ops times this row by name.
    bm25TopK("q_bm25_topk_pruned"),

    // BATCH retrieval: many query term-sets scored against the index in
    // ONE pass — union of terms drives one pruned postings read, per-
    // (query, term) idf weights ride one broadcast, one (query, doc_id)
    // aggregation shuffle for the whole batch. The workload shape of an
    // eval/decontamination pipeline running thousands of queries: cost is
    // O(sum of matching postings), independent of query count.
    QDef(
      "q_bm25_multi",
      """WITH tf AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'query')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'vector')) AS DOUBLE) AS tf2
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                      x -> x <> '') AS tk
        |        FROM documents)
        |), st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |         sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |         sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
        |  FROM tf
        |)
        |SELECT * FROM (
        |  SELECT 'q_sq' AS query, doc_id,
        |    round(ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
        |            * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |        + ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
        |            * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS score
        |  FROM tf, st WHERE tf0 > 0 OR tf1 > 0
        |  UNION ALL
        |  SELECT 'q_v', doc_id,
        |    round(ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
        |            * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4)
        |  FROM tf, st WHERE tf2 > 0
        |)
        |ORDER BY query, doc_id""".stripMargin) { (s, dir) =>
      val idx = KeywordScore.indexFor(Tables.documents(s, dir),
        "doc_id", "text", cacheKey = dir)
      KeywordScore.bm25IndexedMulti(s, idx, Map(
        "q_sq" -> Seq("spark", "query"), "q_v" -> Seq("vector")))
        .select(col("query"), col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("query", "doc_id")
    },

    // Per-query TOP-K over the batch tier (round 17): the eval-harness
    // shape — same single-pass plan as q_bm25_multi plus ONE bounded
    // per-query top-k aggregate (BottomKAgg) over the aggregated
    // (query, doc, score) frame. Ranked on the ROUNDED score
    // (scoreRounding = 4) so the k-boundary is deterministic across
    // engines, like q_bm25_topk.
    QDef(
      "q_bm25_multi_topk",
      """WITH tf AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'query')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'vector')) AS DOUBLE) AS tf2
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                      x -> x <> '') AS tk
        |        FROM documents)
        |), st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |         sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |         sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
        |  FROM tf
        |), scored AS (
        |  SELECT 'q_sq' AS query, doc_id,
        |    round(ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
        |            * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |        + ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
        |            * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS score
        |  FROM tf, st WHERE tf0 > 0 OR tf1 > 0
        |  UNION ALL
        |  SELECT 'q_v', doc_id,
        |    round(ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
        |            * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4)
        |  FROM tf, st WHERE tf2 > 0
        |)
        |SELECT query, doc_id, score FROM scored
        |QUALIFY row_number() OVER
        |  (PARTITION BY query ORDER BY score DESC, doc_id) <= 10
        |ORDER BY query, doc_id""".stripMargin) { (s, dir) =>
      val idx = KeywordScore.indexFor(Tables.documents(s, dir),
        "doc_id", "text", cacheKey = dir)
      KeywordScore.bm25IndexedMultiTopK(s, idx, Map(
        "q_sq" -> Seq("spark", "query"), "q_v" -> Seq("vector")),
        k = 10, scoreRounding = 4)
        .orderBy("query", "doc_id")
    },

    // Index MAINTENANCE (round 16): delete every doc_id ≡ 3 (mod 7) as a
    // committed tombstone generation, then compact — the dedup→re-index
    // loop's shape, oracled against DuckDB scoring the FILTERED corpus
    // directly. Both the tombstone read path (negative df/stats, posting
    // anti-join) and the compaction fold (which must preserve scores
    // bit-for-bit) sit under this row. Idempotent delta ids + the
    // compaction no-op make repeated runs (bench min-of-N) stable.
    QDef(
      "q_bm25_delete",
      """WITH tf AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(tk, x -> x = 'query')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(tk, x -> x = 'vector')) AS DOUBLE) AS tf2
        |  FROM (SELECT doc_id,
        |          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                      x -> x <> '') AS tk
        |        FROM documents WHERE doc_id % 7 <> 3)
        |), st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |         sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |         sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
        |  FROM tf
        |)
        |SELECT doc_id,
        |  round(ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
        |          * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |      + ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
        |          * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |      + ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
        |          * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS score
        |FROM tf, st
        |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // own index instance (distinct cacheKey) so the mutation never
      // touches q_bm25_indexed/topk/multi's shared index
      val idx = KeywordScore.indexFor(docs, "doc_id", "text",
        cacheKey = dir + "#delete")
      KeywordScore.deleteDocs(s, idx,
        docs.where(col("doc_id") % 7 === 3).select("doc_id"),
        deltaId = Some("q_bm25_delete"))
      KeywordScore.compactIndex(s, idx)
      KeywordScore.bm25Indexed(s, idx, Seq("spark", "query", "vector"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("doc_id")
    },

    // Embedding cluster assignment: 8 deterministic seed centroids
    // (vec_id < 8) broadcast against the corpus, argmax-cosine assignment
    // map-side, then one tiny per-cluster aggregation. The same plan holds
    // with k-means-refined centroids (AnnSearch.ivfKnn fits them) — seeds
    // keep the oracle exact.
    QDef(
      "q_embed_clusters",
      """WITH asn AS (
        |  SELECT c.vec_id, s.vec_id AS cid,
        |         round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                      CAST(s.embedding AS DOUBLE[])), 6) AS sim,
        |         row_number() OVER (
        |           PARTITION BY c.vec_id
        |           ORDER BY round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                                 CAST(s.embedding AS DOUBLE[])), 6) DESC,
        |                    s.vec_id) AS rk
        |  FROM embeddings c, embeddings s
        |  WHERE s.vec_id < 8
        |)
        |SELECT cid AS cluster_id, count(*) AS n, round(avg(sim), 4) AS avg_sim
        |FROM asn WHERE rk = 1 GROUP BY cid ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val seeds = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val simc = round(SimilarityQueries.cosine(col("v"), col("cv")), 6)
      val w = Window.partitionBy("vec_id").orderBy(simc.desc, col("cid"))
      emb.join(broadcast(seeds))
        .select(col("vec_id"), col("cid"), simc.as("sim"),
          row_number().over(w).as("rk"))
        .where(col("rk") === 1)
        .groupBy(col("cid").as("cluster_id"))
        .agg(count(lit(1)).as("n"), round(avg("sim"), 4).as("avg_sim"))
        .orderBy("cluster_id")
    },

    // Video frame sampling: metadata decode (stub codec, md5-arithmetic
    // header) → per-video sampled frame positions (every 8th) → per-format
    // totals. The explode happens AFTER metadata extraction, so only
    // (media_id, format, frame_idx) rows exist — never frame bytes.
    QDef(
      "q_media_frames",
      """WITH m AS (
        |  SELECT CASE CAST('0x' || substr(md5(text), 1, 2) AS INT) & 3
        |           WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' WHEN 2 THEN 'wav'
        |           ELSE 'mp4' END AS format,
        |         CAST('0x' || substr(md5(text), 11, 4) AS INT) % 1024 AS n_frames
        |  FROM documents
        |)
        |SELECT format, count(*) AS n_media,
        |       CAST(sum(CAST(ceil(n_frames / 8.0) AS BIGINT)) AS BIGINT) AS frames_sampled
        |FROM m WHERE n_frames > 0 GROUP BY format ORDER BY format""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val media = docs.select(col("doc_id"),
        Media.syntheticMediaBytes(col("text")).as("bytes"))
      val meta = Media.extractMetadata(media, "doc_id", "bytes")
      Media.sampleFrames(meta, every = 8)
        .groupBy("format")
        .agg(countDistinct(col("media_id")).as("n_media"),
          count(lit(1)).cast("long").as("frames_sampled"))
        .orderBy("format")
    },

    // Stratified deterministic sampling: per stratum (language), the
    // bottom-k documents by md5(doc_id) — a hash-ordered reservoir that is
    // (a) deterministic across engines and re-runs (eval-set reproducibility),
    // (b) MERGEABLE: the capped sorted-list state is first_values' split, so
    // partitions/days/shards sample independently and their samples merge
    // without re-reading data, and (c) one shuffle of (stratum, hash, id)
    // triples at any corpus size — never text. The canonical "balanced
    // sample from a 100-TB corpus in one pass" primitive.
    QDef(
      "q_stratified_sample",
      """SELECT lang, array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY k, doc_id), ',') AS sample
        |FROM (
        |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 5 GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          struct(md5(col("doc_id").cast("string")).as("k"), col("doc_id")).as("kv"))
        .groupBy("lang")
        // bounded bottom-k merge aggregate: O(k) state per stratum at every
        // stage, vs slice(sort_array(collect_list)) whose buffer is the
        // whole stratum
        .agg(graft.functions.GraftFunctions.bottom_k(col("kv"), 5).as("bottomk"))
        .select(col("lang"),
          concat_ws(",", expr("transform(bottomk, x -> CAST(x.doc_id AS STRING))"))
            .as("sample"))
        .orderBy("lang")
    })
}
