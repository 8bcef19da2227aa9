package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The BM25 index's generational commit protocol: torn (crashed) writes
  * invisible, retried appends idempotent, delete-by-id exact, compaction
  * score-preserving. Complements OpsSpec's scoring/pruning tests. */
class KeywordIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  import spark.implicits._

  private def part1: DataFrame = Seq(
    (0L, "spark spark query fast"),
    (1L, "query join slow table table table"),
    (2L, "spark")).toDF("doc_id", "text")

  private def part2: DataFrame = Seq(
    (3L, "row scan merge sort"),
    (4L, "Spark, QUERY! spark-join"),
    (5L, "vector vector index")).toDF("doc_id", "text")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_bm25gen").toString

  /** The same dir as a `file:`-scheme URI root — index METADATA (markers,
    * listings, sweeps) then runs through HadoopStoreFs, the path an
    * `hdfs://`/`s3a://`-rooted production index takes. */
  private def tmpUri(): String = "file:" + tmp()

  /** (label, fresh-root factory) — the protocol tests run on both. */
  private def roots: Seq[(String, () => String)] =
    Seq(("posix", () => tmp()), ("file-uri", () => tmpUri()))

  private def scores(dir: String, terms: Seq[String]): Map[Long, Double] =
    KeywordScore.bm25Indexed(spark, dir, terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def assertSame(a: Map[Long, Double], b: Map[Long, Double],
      what: String): Unit = {
    assert(a.keySet === b.keySet, s"$what: matched-doc set")
    a.foreach { case (id, v) =>
      assert(math.abs(b(id) - v) < 1e-12, s"$what: doc $id $v vs ${b(id)}")
    }
  }

  test("a crash between generation writes leaves the torn generation " +
      "invisible; the retry commits cleanly (posix + file-uri roots)") {
    for ((label, mk) <- roots; point <- Seq("postings", "df", "stats")) {
      val dir = mk()
      KeywordScore.buildIndex(part1, "doc_id", "text", dir)
      val before = scores(dir, Seq("spark", "query"))
      KeywordScore.failAt = point
      intercept[IllegalStateException] {
        KeywordScore.appendIndex(part2, "doc_id", "text", dir,
          deltaId = Some("d1"))
      }
      // the torn generation must not skew ANY statistic: scores over the
      // surviving index equal the pre-crash index exactly
      assertSame(scores(dir, Seq("spark", "query")), before,
        s"[$label] crash at $point")
      assert(scores(dir, Seq("vector")).isEmpty,
        s"[$label] crash at $point: torn delta's postings must be invisible")
      // retry (same delta id — the crashed attempt never committed it)
      KeywordScore.appendIndex(part2, "doc_id", "text", dir,
        deltaId = Some("d1"))
      val full = tmp()
      KeywordScore.buildIndex(part1.unionByName(part2), "doc_id", "text", full)
      assertSame(scores(dir, Seq("spark", "query", "vector")),
        scores(full, Seq("spark", "query", "vector")),
        s"[$label] recovered-after-$point index vs fresh build")
    }
  }

  test("appendIndex with an already-committed delta id is a no-op " +
      "(upstream retry cannot double-count)") {
    val dir = tmp()
    KeywordScore.buildIndex(part1, "doc_id", "text", dir)
    KeywordScore.appendIndex(part2, "doc_id", "text", dir,
      deltaId = Some("batch-7"))
    val once = scores(dir, Seq("spark", "query", "vector"))
    KeywordScore.appendIndex(part2, "doc_id", "text", dir,
      deltaId = Some("batch-7")) // the retry
    assertSame(scores(dir, Seq("spark", "query", "vector")), once,
      "retried append")
    assert(KeywordScore.readCommits(dir).size == 2,
      "retry must not commit a third generation")
  }

  test("deleteDocs: scores equal a fresh build without the deleted docs") {
    val dir = tmp()
    KeywordScore.buildIndex(part1.unionByName(part2), "doc_id", "text", dir)
    KeywordScore.deleteDocs(spark, dir, Seq(1L, 4L).toDF("doc_id"),
      deltaId = Some("del-1"))
    val fresh = tmp()
    KeywordScore.buildIndex(
      part1.unionByName(part2).where(!org.apache.spark.sql.functions
        .col("doc_id").isin(1L, 4L)),
      "doc_id", "text", fresh)
    for (terms <- Seq(Seq("spark", "query"), Seq("table"), Seq("vector"),
        Seq("join"))) {
      assertSame(scores(dir, terms), scores(fresh, terms), s"terms=$terms")
    }
    // idempotent by delta id AND by effect: same ids again subtract nothing
    KeywordScore.deleteDocs(spark, dir, Seq(1L, 4L).toDF("doc_id"),
      deltaId = Some("del-1"))
    KeywordScore.deleteDocs(spark, dir, Seq(1L, 999L).toDF("doc_id"))
    assertSame(scores(dir, Seq("spark", "query")),
      scores(fresh, Seq("spark", "query")), "after re-delete")
    // batch API applies tombstones too
    val multi = KeywordScore.bm25IndexedMulti(spark, dir,
      Map("a" -> Seq("spark", "query")))
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assertSame(multi, scores(fresh, Seq("spark", "query")), "multi tier")
  }

  test("a deleted doc_id re-appended later scores again (tombstones are " +
      "scoped to earlier generations)") {
    val dir = tmp()
    KeywordScore.buildIndex(part1, "doc_id", "text", dir)
    KeywordScore.deleteDocs(spark, dir, Seq(0L).toDF("doc_id"))
    assert(!scores(dir, Seq("spark")).contains(0L), "deleted")
    KeywordScore.appendIndex(
      Seq((0L, "spark spark query fast")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val fresh = tmp()
    KeywordScore.buildIndex(part1, "doc_id", "text", fresh)
    assertSame(scores(dir, Seq("spark", "query")),
      scores(fresh, Seq("spark", "query")), "re-appended doc")
  }

  test("bm25IndexedMultiTopK returns the window spelling's exact rows " +
      "(round 19: BottomKAgg's deferred-copy + codegen'd struct ordering)") {
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(7)
    val vocab = Seq("spark", "query", "vector", "table", "join", "scan",
      "merge", "index", "row", "fast", "page", "cache")
    // 400 docs, 3–40 tokens, zipf-ish term choice so frequent terms have a
    // deep low-impact tail — the shape pruning must cut without changing
    // any top-k row
    val docs = (0L until 400L).map { id =>
      val len = 3 + rng.nextInt(38)
      (id, (0 until len)
        .map(_ => vocab(math.min(rng.nextInt(12), rng.nextInt(12))))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val dir = tmp()
    KeywordScore.buildIndex(docs, "doc_id", "text", dir)
    val queries = Map(
      "q0" -> Seq("spark", "query", "vector"),
      "q1" -> Seq("table", "join"),
      "q2" -> Seq("scan"),
      "q3" -> Seq("spark", "cache"),
      "q4" -> Seq("nosuchterm"), // no matches at all
      "q5" -> Seq("merge", "nosuchterm"))
    for (k <- Seq(1, 5, 17); rounding <- Seq(-1, 4)) {
      val got = KeywordScore.bm25IndexedMultiTopK(spark, dir, queries, k,
        scoreRounding = rounding)
      val scored0 = KeywordScore.bm25IndexedMulti(spark, dir, queries)
      val scored = if (rounding < 0) scored0
        else scored0.withColumn("score", round(col("score"), rounding))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query").orderBy(col("score").desc, col("doc_id"))
      val want = scored.withColumn("rk", row_number().over(w))
        .where(col("rk") <= k).drop("rk")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      val gotRows = got.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      assert(gotRows.map(t => (t._1, t._2)).toSeq ===
        want.map(t => (t._1, t._2)).toSeq,
        s"k=$k rounding=$rounding: (query, doc) sets must match the " +
          "window spelling")
      gotRows.zip(want).foreach { case (g, e) =>
        assert(math.abs(g._3 - e._3) < 1e-9,
          s"k=$k rounding=$rounding: score of ${g._1}/${g._2}")
      }
    }
  }

  test("randomized mutation sequence equals a fresh build of the " +
      "surviving doc set (seeded, deterministic)") {
    mutationOracle(tmp())
  }

  test("randomized mutation sequence on a file:-scheme URI root " +
      "(metadata through HadoopStoreFs)") {
    mutationOracle(tmpUri())
  }

  private def mutationOracle(dir: String): Unit = {
    val rng = new scala.util.Random(42)
    val vocab = Seq("spark", "query", "vector", "table", "join", "scan",
      "merge", "index", "row", "fast")
    def doc(id: Long): (Long, String) =
      (id, (0 until 3 + rng.nextInt(6)).map(_ => vocab(rng.nextInt(vocab.size)))
        .mkString(" "))
    var live = Map.empty[Long, String] // the oracle: current corpus
    var nextId = 0L
    def appendN(n: Int): Unit = {
      val docs = (0 until n).map { _ => nextId += 1; doc(nextId) }
      live ++= docs
      KeywordScore.appendIndex(docs.toDF("doc_id", "text"), "doc_id", "text", dir)
    }
    KeywordScore.buildIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", dir)
    (0 until 12).foreach { step =>
      rng.nextInt(4) match {
        case 0 | 1 => appendN(1 + rng.nextInt(4))
        case 2 if live.nonEmpty =>
          val victims = live.keys.toSeq.sorted
            .filter(_ => rng.nextBoolean()).take(3)
          live --= victims
          KeywordScore.deleteDocs(spark, dir, victims.toDF("doc_id"))
        case _ => KeywordScore.compactIndex(spark, dir)
      }
      // invariant after EVERY step: indexed scores == fresh build of the
      // oracle corpus, for a multi-term query
      val fresh = tmp()
      val corpus =
        if (live.isEmpty) Seq.empty[(Long, String)].toDF("doc_id", "text")
        else live.toSeq.toDF("doc_id", "text")
      KeywordScore.buildIndex(corpus, "doc_id", "text", fresh)
      val terms = Seq("spark", "vector", "join")
      assertSame(scores(dir, terms), scores(fresh, terms), s"step $step")
      // the single-query top-k must agree with full scoring at every
      // mutation point, at the build defaults, at tuned parameters and at
      // the edge parameters where a saturation term vanishes
      assertTopK(dir, terms, k = 4, s"step $step topk")
      for ((k1x, bx) <- Seq((0.9, 0.4), (0.0, 0.75), (1.2, 0.0), (1.2, 1.0)))
        assertTopK(dir, terms, k = 4, s"step $step topk($k1x,$bx)",
          k1 = k1x, b = bx)
    }
  }

  /** The single-query top-k (a one-entry bm25IndexedMultiTopK) == the
    * row_number slice of the same scores (bm25IndexedMulti), at the build
    * defaults or any caller (k1, b). */
  private def assertTopK(dir: String, terms: Seq[String], k: Int,
      what: String, k1: Double = 1.2, b: Double = 0.75): Unit = {
    import org.apache.spark.sql.functions._
    val q = Map("q" -> terms)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query").orderBy(col("score").desc, col("doc_id"))
    val slice = KeywordScore.bm25IndexedMulti(spark, dir, q, k1, b)
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
    assertTopKOf(topKOf(dir, terms, k, k1, b), byDoc(slice, 1), what)
  }

  private def topKOf(dir: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): Map[Long, Double] =
    byDoc(KeywordScore.bm25IndexedMultiTopK(spark, dir, Map("q" -> terms), k,
      k1, b), 1)

  private def byDoc(df: DataFrame, idAt: Int): Map[Long, Double] =
    df.collect().map(r => r.getLong(idAt) -> r.getDouble(idAt + 1)).toMap

  /** `got` is a top-k of `want`'s scores: the same doc set, except that
    * docs within FP round-off of the kth score may trade places (the two
    * sides sum a doc's contributions in engine-chosen orders), and every
    * score agrees to round-off. */
  private def assertTopKOf(got: Map[Long, Double], want: Map[Long, Double],
      what: String): Unit = {
    assert(got.size === want.size, s"$what: got $got want $want")
    if (want.isEmpty) return
    val kth = want.values.min
    def firm(m: Map[Long, Double]) =
      m.filter { case (_, s) => s > kth + 1e-9 }.keySet
    assert(firm(got) === firm(want),
      s"$what: got ${got.keySet} want ${want.keySet} (kth=$kth)")
    got.foreach { case (id, s) =>
      assert(want.get(id).forall(w => math.abs(s - w) < 1e-9) &&
        s > kth - 1e-9, s"$what: doc $id $s vs ${want.get(id)} (kth=$kth)")
    }
  }

  test("compactIndex folds generations into one, preserves scores exactly, " +
      "sweeps orphans now, and defers retirees one cycle (in-flight " +
      "readers survive)") {
    val dir = tmp()
    KeywordScore.buildIndex(part1, "doc_id", "text", dir)
    KeywordScore.appendIndex(part2, "doc_id", "text", dir)
    KeywordScore.deleteDocs(spark, dir, Seq(1L).toDF("doc_id"))
    // plus one ORPHAN generation from a crashed append
    KeywordScore.failAt = "df"
    intercept[IllegalStateException] {
      KeywordScore.appendIndex(
        Seq((9L, "orphan text")).toDF("doc_id", "text"), "doc_id", "text", dir)
    }
    def genDirs(table: String): Seq[String] =
      Option(java.nio.file.Paths.get(dir, table).toFile.listFiles())
        .getOrElse(Array.empty).toSeq.map(_.getName)
        .filter(_.startsWith("gen="))
    val orphanGens = genDirs("postings").size // 3: base, delta, orphan
    val before = scores(dir, Seq("spark", "query", "vector"))
    // an in-flight reader: its plan resolved the PRE-compact generation
    // set; the one-cycle sweep deferral keeps those files alive
    val inFlight = KeywordScore.bm25Indexed(spark, dir,
      Seq("spark", "query", "vector"))
    KeywordScore.compactIndex(spark, dir)
    assertSame(scores(dir, Seq("spark", "query", "vector")), before,
      "post-compaction scores")
    assertSame(inFlight.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap,
      before, "pre-compact reader collected AFTER the fold")
    // deferral: the just-retired generations are still on disk (only the
    // uncommitted ORPHAN swept immediately — no reader could resolve it)
    assert(genDirs("postings").size == orphanGens, // -orphan +folded
      s"deferred sweep: expected retirees kept, got ${genDirs("postings")}")
    // folded index keeps behaving: append after compaction, incl. the
    // previously-deleted id (its tombstone is retired)
    KeywordScore.appendIndex(
      Seq((1L, "query join slow table table table")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val fresh = tmp()
    KeywordScore.buildIndex(part1.unionByName(part2), "doc_id", "text", fresh)
    assertSame(scores(dir, Seq("spark", "query", "table")),
      scores(fresh, Seq("spark", "query", "table")), "append after compaction")
    // second compaction: folds (compact gen + new delta) AND sweeps the
    // previous cycle's retirees; a third is a no-op that still sweeps
    val n = KeywordScore.readCommits(dir).size
    KeywordScore.compactIndex(spark, dir)
    KeywordScore.compactIndex(spark, dir)
    assert(KeywordScore.readCommits(dir).size <= n + 1,
      "repeated compaction must not keep committing generations")
    for (t <- Seq("postings", "df", "stats"))
      assert(genDirs(t).size == 1,
        s"$t dirs after second compaction: ${genDirs(t)}")
    assert(genDirs("deleted").isEmpty,
      "tombstone data retired by compaction")
  }

  test("deleteDocs against a never-built index records its delta id " +
      "(noop marker): the retry after a later build must not re-apply") {
    val dir = tmp()
    // the delete arrives before any index exists — nothing to subtract,
    // but the id commits as a noop marker
    KeywordScore.deleteDocs(spark, dir, Seq(0L).toDF("doc_id"),
      deltaId = Some("early-del"))
    val commits = KeywordScore.readCommits(dir)
    assert(commits.size == 1 && commits.head.deltaId.contains("early-del"),
      s"noop marker expected, got $commits")
    // the index appears later (append path — buildIndex would wipe the dir)
    KeywordScore.appendIndex(part1, "doc_id", "text", dir)
    val full = scores(dir, Seq("spark", "query"))
    assert(full.contains(0L), "doc 0 indexed")
    // the RETRY of the early delete: already committed → no-op; doc 0
    // (which did not exist when the original call ran) survives
    KeywordScore.deleteDocs(spark, dir, Seq(0L).toDF("doc_id"),
      deltaId = Some("early-del"))
    assertSame(scores(dir, Seq("spark", "query")), full, "after retry")
  }

  test("top-k equals full scoring at default, tuned and edge (k1, b)") {
    val dir = tmp()
    KeywordScore.buildIndex(part1.unionByName(part2), "doc_id", "text", dir)
    for (k <- Seq(1, 2, 3, 10))
      assertTopK(dir, Seq("spark", "query", "table"), k, s"k=$k")
    // single-term, duplicated-term and unmatched-term shapes
    assertTopK(dir, Seq("table"), 2, "single term")
    assertTopK(dir, Seq("spark", "spark", "query"), 3, "duplicate term")
    assert(topKOf(dir, Seq("zzznope"), 3).isEmpty, "no matches → empty")
    // tuned (k1, b), and the edge values where a saturation term vanishes
    for ((k1x, bx) <- Seq((0.9, 0.4), (2.0, 0.25), (1.2, 0.99),
        (0.0, 0.75), (1.2, 0.0), (1.2, 1.0)))
      assertTopK(dir, Seq("spark", "query", "table"), 3,
        s"tuned ($k1x,$bx)", k1 = k1x, b = bx)
  }

  test("an index in the impact postings format (impact column, df " +
      "max_impact, pfmt marker) scores like the scan tier, before and " +
      "after append + compact") {
    import org.apache.spark.sql.functions._
    val dir = tmp()
    writeImpactFormatIndex(part1, dir)
    val terms = Seq("spark", "query", "vector", "table")
    def check(docs: DataFrame, what: String): Unit = {
      val scan = byDoc(KeywordScore.bm25(docs, "doc_id", "text", terms), 0)
      assertSame(scores(dir, terms), scan, s"$what: bm25Indexed")
      for (k <- Seq(1, 3)) {
        val top = scan.toSeq.sortBy { case (id, s) => (-s, id) }.take(k).toMap
        assertTopKOf(topKOf(dir, terms, k), top, s"$what: top-$k")
        // the single-query spelling (q_bm25_topk's): ordered full scoring
        val ordered = KeywordScore.bm25Indexed(spark, dir, terms)
          .orderBy(desc("score"), col("doc_id")).limit(k)
        assertTopKOf(byDoc(ordered, 0), top, s"$what: ordered top-$k")
      }
    }
    check(part1, "impact-format index")
    KeywordScore.appendIndex(part2, "doc_id", "text", dir)
    KeywordScore.compactIndex(spark, dir)
    check(part1.unionByName(part2), "after append + compact")
    // the fold rewrote the postings without the impact column
    val g = KeywordScore.readCommits(dir).last.gen
    assert(!spark.read.parquet(s"$dir/postings/gen=$g").columns
      .contains("impact"))
    assert(!spark.read.parquet(s"$dir/df/gen=$g").columns
      .contains("max_impact"))
  }

  /** Writes `docs` as a one-generation index in the impact postings
    * format that earlier builds wrote: postings carry `impact` =
    * tf/(tf + k1(1−b) + k1·b·dl/avgdl) at (1.2, 0.75), sorted
    * (term, impact DESC); df carries the per-term `max_impact`; the
    * marker records `"pfmt": 2`. */
  private def writeImpactFormatIndex(docs: DataFrame, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val toks = KeywordScore.tokenize(col("text"))
    val st = docs.select(size(toks).cast("double").as("dl"))
      .agg(count(lit(1)).cast("double"), sum("dl")).collect()(0)
    val (n, dlSum) = (st.getDouble(0), st.getDouble(1))
    val bucket = pmod(xxhash64(col("term")), lit(64L))
    docs.select(col("doc_id").cast("long").as("doc_id"),
        size(toks).cast("double").as("dl"), explode(toks).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("double").as("tf"))
      .select(col("term"), col("doc_id"), col("dl"), col("tf"),
        (col("tf") / (col("tf") + lit(1.2 * 0.25) +
          lit(1.2 * 0.75) * col("dl") / lit(dlSum / n))).as("impact"))
      .withColumn("bucket", bucket)
      .repartition(col("bucket"))
      .sortWithinPartitions(col("term"), col("impact").desc)
      .write.partitionBy("bucket").parquet(s"$dir/postings/gen=0")
    spark.read.parquet(s"$dir/postings/gen=0")
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"),
        max("impact").as("max_impact"))
      .withColumn("bucket", bucket)
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(s"$dir/df/gen=0")
    Seq((n, dlSum)).toDF("n", "dl_sum").coalesce(1)
      .write.parquet(s"$dir/stats/gen=0")
    val fs = graft.io.StoreFs.forRoot(dir)
    fs.mkdirs(s"$dir/_commits")
    fs.writeString(s"$dir/_commits/gen_0.json",
      """{"gen": 0, "kind": "base", "pfmt": 2}""")
  }

  test("a marker-less dir with postings data is refused as unmigrated " +
      "(never scored as an empty corpus)") {
    val dir = tmp()
    KeywordScore.buildIndex(part1, "doc_id", "text", dir)
    // simulate a pre-generational index: data present, no _commits
    graft.io.LocalStoreFs.deleteRecursively(s"$dir/_commits")
    val e = intercept[IllegalStateException] {
      KeywordScore.bm25Indexed(spark, dir, Seq("spark")).collect()
    }
    assert(e.getMessage.contains("unmigrated"), e.getMessage)
  }
}
