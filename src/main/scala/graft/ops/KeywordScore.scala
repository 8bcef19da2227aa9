package graft.ops

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BM25 keyword scoring over a document corpus — the ranking half of a
  * keyword search engine, shaped for 100 TB.
  *
  * For a FIXED query-term set no inverted index is needed: per-document
  * term frequencies are computed map-side from the token array (one scan,
  * zero shuffles), and the only aggregation is the tiny global-statistics
  * pass (N, avgdl, per-term document frequency — map-side partials into
  * one scalar row). The scoring pass then runs at scan speed with the
  * stats inlined as literals. Two scans of the corpus total; nothing wider
  * than (doc_id, score) ever shuffles.
  *
  * Okapi BM25 (Robertson/Sparck Jones, TREC-3 1994):
  *   idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
  *   tfc(t)  = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
  *   score   = Σ_t idf(t)·tfc(t)
  */
object KeywordScore {

  /** Lowercased alphanumeric tokens, empties dropped — the same shape as
    * DuckDB's regexp_split_to_array + list_filter, so oracle SQL can
    * reproduce tokenization exactly.
    */
  def tokenize(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Per-term frequency inside a token array — map-side, no explode. */
  private def tf(toks: Column, term: String): Column =
    size(filter(toks, t => t === term))

  /** BM25 scores for `terms` over `docs`. Returns (idCol, score) for every
    * document matching at least one term; `score` is left unrounded for
    * caller-side presentation control.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 requires at least one query term")
    val toks = tokenize(col(textCol))
    val withTf = docs.select(
      col(idCol) +: size(toks).cast("double").as("dl") +:
        terms.zipWithIndex.map { case (t, i) => tf(toks, t).cast("double").as(s"tf$i") }: _*)

    // Global statistics: one row — N, avgdl, df per term. Map-side partial
    // aggregation makes this a single tiny-result pass at any scale.
    val statsCols = count(lit(1)).cast("double").as("n") +: avg(col("dl")).as("avgdl") +:
      terms.indices.map(i => sum((col(s"tf$i") > 0).cast("double")).as(s"df$i"))
    val statsRow = withTf.agg(statsCols.head, statsCols.tail: _*).collect()(0)
    val n = statsRow.getDouble(0)
    // empty corpus: avg/df come back NULL — nothing can match any term
    if (n == 0.0) return withTf.limit(0).select(col(idCol), lit(0.0).as("score"))
    val avgdl = math.max(statsRow.getDouble(1), 1e-9)
    val idf = terms.indices.map { i =>
      val df = statsRow.getDouble(2 + i)
      math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    }

    val score = terms.indices.map { i =>
      val tfc = col(s"tf$i") * lit(k1 + 1) /
        (col(s"tf$i") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl)))
      // a zero-tf slot contributes 0 — guarded explicitly because at
      // k1 = 0 the raw expression is 0/0 (ANSI divide-by-zero)
      lit(idf(i)) * when(col(s"tf$i") > 0, tfc).otherwise(lit(0.0))
    }.reduce(_ + _)
    withTf.where(terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .select(col(idCol), score.as("score"))
  }

  // ---- persisted inverted-index tier (round 15; generational commit
  //      protocol round 16) -------------------------------------------------
  //
  // The scan tier above is O(corpus) PER QUERY SET — right for one-off
  // scoring, wrong for repeated retrieval. This tier builds the posting/
  // df/stats summary ONCE (two corpus scans; two shuffles of partially-
  // aggregated postings — the (term, doc) aggregation and the bucket
  // repartition), after which every query reads only the slices its
  // terms touch: the postings table is partitioned by
  // `bucket = pmod(xxhash64(term), 64)` and term-sorted within partitions,
  // so a k-term query prunes to ≤ k partition dirs and, inside them, to
  // the row groups whose term-range stats contain the terms — O(matching
  // postings), not O(corpus). The only shuffle per query is the per-doc
  // score aggregation over MATCHING postings.
  //
  // DURABILITY (round 16). Each mutation (build / append / delete /
  // compact) stages its postings, df, and stats tables under NEW
  // `gen=<k>/` partition directories, then publishes ONE tiny marker file
  // (`_commits/gen_<k>.json`) through [[graft.io.CommitFs]] — the same
  // single-commit-point pattern as the matrel manifest swap
  // (StateStore.scala writeManifest). Readers enumerate COMMITTED
  // generations from the markers and partition-prune everything else, so
  // a crash between the three table writes leaves a torn generation that
  // is simply invisible (readers pass an explicit schema, so its files
  // are never even opened for inference). Markers also carry:
  //  - `delta_id`: appends/deletes stamped with a caller id are IDEMPOTENT
  //    — re-publishing a committed delta id is a no-op, so an upstream
  //    retry cannot double-count postings/df/stats;
  //  - `replaces`: a compaction marker atomically retires the generations
  //    it folded — readers see the old set or the new one, never both.
  // Single-writer per index dir (like any LSM maintenance path); readers
  // are always safe. Reference anchor: the reference's combiner folds
  // matrel increments inside ONE transaction (combiner.c:1402-1638) —
  // partial state is never reader-visible; this protocol keeps that
  // property on a filesystem.

  /** Term-hash partition count of a persisted index. 64 keeps partition
    * dirs ≥ tens of MB at TB-scale corpora while still pruning a
    * few-term query to ~1/64 of the postings bytes before row-group
    * stats narrow further. */
  val IndexBuckets = 64

  // Explicit reader schemas: no footer-based inference, so files of an
  // UNCOMMITTED (possibly torn) generation are listed but never opened —
  // the gen partition filter prunes them before any byte is read. Columns
  // a file carries beyond these (older generations also stored a postings
  // `impact` and a df `max_impact`) are never read.
  private val postingsSchema = StructType(Seq(
    StructField("term", StringType), StructField("doc_id", LongType),
    StructField("dl", DoubleType), StructField("tf", DoubleType),
    StructField("gen", IntegerType), StructField("bucket", IntegerType)))
  private val dfSchema = StructType(Seq(
    StructField("term", StringType), StructField("df", DoubleType),
    StructField("gen", IntegerType), StructField("bucket", IntegerType)))
  private val statsSchema = StructType(Seq(
    StructField("n", DoubleType), StructField("dl_sum", DoubleType),
    StructField("gen", IntegerType)))
  private val deletedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("gen", IntegerType)))

  /** One committed generation, parsed from its `_commits/gen_<k>.json`
    * marker. `kind`: base | delta | tombstone | compact | noop. */
  private[graft] case class Gen(gen: Int, kind: String,
      deltaId: Option[String], replaces: Seq[Int])

  // Index metadata (markers, listings, sweeps) runs through the StoreFs
  // seam, so an index dir may be a plain path OR a URI root ("file:/…",
  // "hdfs://…") — the same portability the CV store tier has. Bulk
  // postings/df/stats IO was always URI-capable (spark.read/write).
  private def commitsDir(dir: String): String = s"$dir/_commits"
  private val markerRe = """gen_(\d+)\.json""".r

  /** All commit markers ever published, ascending by generation. Marker
    * files are never deleted (compaction retires DATA dirs only), so
    * delta-id idempotence survives compaction. A marker that cannot be
    * READ or PARSED throws — defaulting it would silently misclassify a
    * compact marker as a plain delta, resurrecting every generation its
    * `replaces` list retired (double-counted scores, no error). Markers
    * are published atomically, so an unreadable one is a transient IO
    * fault: fail the query, let the caller retry. A dir with postings
    * DATA but no markers at all is a pre-generational (unmigrated) index
    * — scoring it as an empty corpus would be silently wrong, so it
    * throws too. */
  private[graft] def readCommits(dir: String): Seq[Gen] = {
    val fs = graft.io.StoreFs.forRoot(dir)
    val cd = commitsDir(dir)
    val gens = fs.list(cd).flatMap {
      case name @ markerRe(k) =>
        val txt = fs.readString(s"$cd/$name") // IO failure: propagate
        val kind = """"kind"\s*:\s*"(\w+)"""".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse(throw new IllegalStateException(
            s"bm25 index marker $name under $dir is unparseable: $txt"))
        val deltaId = """"delta_id"\s*:\s*"([^"]*)"""".r
          .findFirstMatchIn(txt).map(_.group(1))
        val replaces = """"replaces"\s*:\s*\[([^\]]*)\]""".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
          .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
        Some(Gen(k.toInt, kind, deltaId, replaces))
      case _ => None
    }.sortBy(_.gen)
    if (gens.isEmpty && fs.list(s"$dir/postings").nonEmpty)
      throw new IllegalStateException(
        s"bm25 index at $dir has postings data but no commit markers — " +
          "either an unmigrated pre-generational index or a first build " +
          "that crashed before its marker; rebuild with buildIndex " +
          "(scoring it would silently return an empty corpus)")
    gens
  }

  /** Committed-and-not-replaced generations — what readers may see.
    * `noop` markers (an idempotence stamp with no data — see
    * [[deleteDocs]]'s no-active-index path) carry no reader-visible
    * state and are excluded. */
  private def activeOf(commits: Seq[Gen]): Seq[Int] = {
    val replaced = commits.flatMap(_.replaces).toSet
    commits.filter(_.kind != "noop").map(_.gen).filterNot(replaced)
  }

  /** THE commit point: the staged generation's marker lands atomically
    * (temp write + StoreFs.publish, fsynced where the fs can — a torn
    * index silently skews every future score, so this commit pays the
    * durable class). */
  private def publishMarker(dir: String, g: Gen): Unit = {
    // delta ids are interpolated into the marker JSON verbatim — keep
    // them out of JSON-syntax territory (they are caller-chosen batch
    // stamps, not free text)
    g.deltaId.foreach(id => require(!id.exists(c => c == '"' || c == '\\' ||
      c < ' '), s"delta id must not contain quotes/backslashes/control chars: $id"))
    val fs = graft.io.StoreFs.forRoot(dir)
    fs.mkdirs(commitsDir(dir))
    val delta = g.deltaId.map(d => s""","delta_id": "$d"""").getOrElse("")
    val repl = if (g.replaces.isEmpty) ""
      else s""","replaces": [${g.replaces.mkString(",")}]"""
    val txt =
      s"""{"gen": ${g.gen}, "kind": "${g.kind}"$delta$repl}"""
    val tmp = s"${commitsDir(dir)}/.gen_${g.gen}.tmp"
    fs.writeString(tmp, txt)
    fs.publish(tmp, s"${commitsDir(dir)}/gen_${g.gen}.json", durable = true)
  }

  /** Next unused generation number: above every committed marker AND
    * every data dir present (an orphan dir from a crashed writer must
    * never be reused — its torn files would alias the new generation). */
  private def nextGen(dir: String, commits: Seq[Gen]): Int = {
    val fs = graft.io.StoreFs.forRoot(dir)
    val genDirRe = """gen=(\d+)""".r
    val onDisk = Seq("postings", "df", "stats", "deleted").flatMap { t =>
      fs.list(s"$dir/$t").flatMap {
        case genDirRe(k) => Some(k.toInt)
        case _ => None
      }
    }
    ((commits.map(_.gen) ++ onDisk) :+ -1).max + 1
  }

  // test failpoint: throws once when a staged write reaches the named
  // point ("postings" | "df" | "stats" — all BEFORE the marker publish),
  // simulating a crash that leaves a torn, uncommitted generation
  private[graft] var failAt: String = null
  @inline private def failpoint(p: String): Unit =
    if (p == failAt) {
      failAt = null
      throw new IllegalStateException(s"failpoint:$p")
    }

  /** Build the persisted index under `dir`: `postings/` (term, doc_id,
    * tf, dl — dl denormalized so scoring never re-touches the corpus),
    * `df/` (term, df), `stats/` (N over ALL docs incl. token-less ones +
    * the corpus token sum) — the exact statistics the scan tier computes
    * per query, persisted as generation 0 + its commit marker. At
    * production scale `dir` lives on shared storage. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    // a rebuild owns the dir: clear any previous index (data + markers)
    graft.io.StoreFs.forRoot(dir).deleteRecursively(dir)
    statsCache.remove(dir)
    writeGeneration(docs, idCol, textCol, dir, gen = 0)
    publishMarker(dir, Gen(0, "base", None, Nil))
  }

  /** Append NEW documents (caller contract: doc_ids not already indexed —
    * see [[deleteDocs]] + [[compactIndex]] for removal) as one more
    * committed generation — O(delta) work: two scans of the DELTA and one
    * shuffle of its aggregated postings, the index never rewritten.
    * Readers sum df and stats across generations, and a term's postings
    * simply span more files (the bucket partitioning and per-file term
    * sort still prune). `deltaId`: optional idempotence stamp — an append
    * whose id a committed marker already carries is a NO-OP, so upstream
    * retries cannot double-count postings, df, or stats. */
  def appendIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, deltaId: Option[String] = None): Unit = {
    val commits = readCommits(dir)
    if (deltaId.exists(id => commits.exists(_.deltaId.contains(id)))) {
      System.err.println(s"[graft] bm25 appendIndex: delta id " +
        s"'${deltaId.get}' already committed under $dir — no-op (retry)")
      return
    }
    statsCache.remove(dir) // this JVM's cached (n, dl_sum) is now stale
    val g = nextGen(dir, commits)
    writeGeneration(docs, idCol, textCol, dir, gen = g)
    publishMarker(dir, Gen(g, "delta", deltaId, Nil))
  }

  /** Stage one generation's three tables under `gen=<gen>/` partition
    * dirs. NOT a commit — nothing is reader-visible until
    * [[publishMarker]] lands; a crash at any point here leaves an orphan
    * dir that [[nextGen]] skips and [[compactIndex]] sweeps. The df
    * table derives from the just-written postings (one doc-term pair per
    * row), which replaces a second corpus scan with a re-read of the
    * generation's own (page-cached, pruned) output. */
  private def writeGeneration(docs: DataFrame, idCol: String,
      textCol: String, dir: String, gen: Int): Unit = {
    val toks = tokenize(col(textCol))
    docs.select(col(idCol).cast("long").as("doc_id"),
        size(toks).cast("double").as("dl"), explode(toks).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(IndexBuckets.toLong)))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("term"))
      .write.partitionBy("bucket")
      .parquet(s"$dir/postings/gen=$gen")
    failpoint("postings")
    // this generation's per-term doc counts, derived from the staged
    // postings (one row per doc-term pair) — readers SUM df across
    // generations
    spark(docs).read.schema(postingsSchema)
      .option("basePath", s"$dir/postings") // keep gen/bucket partition cols
      .parquet(s"$dir/postings/gen=$gen")
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(IndexBuckets.toLong)))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(s"$dir/df/gen=$gen")
    failpoint("df")
    docs.select(size(toks).cast("double").as("dl"))
      .agg(count(lit(1)).cast("double").as("n"),
        coalesce(sum("dl"), lit(0.0)).as("dl_sum"))
      .coalesce(1).write.parquet(s"$dir/stats/gen=$gen")
    failpoint("stats")
  }

  private def spark(df: DataFrame) = df.sparkSession

  /** Remove documents BY ID as one committed tombstone generation — the
    * dedup→re-index loop's maintenance op, costing one pruned-to-active
    * postings scan instead of a corpus rebuild. Document UPDATE composes
    * from the two primitives: `deleteDocs(ids)` then `appendIndex(new
    * versions)` — the tombstone is scoped to earlier generations, so the
    * re-appended rows score immediately. The generation carries
    * (a) the deleted doc_id list (scoring reads anti-join it, scoped to
    * EARLIER generations — so a doc_id re-appended later scores again),
    * (b) NEGATIVE df rows for the deleted docs' terms, (c) a NEGATIVE
    * stats row — df/N/avgdl sums then equal a fresh build without those
    * docs exactly (all values are integer-valued doubles, so the
    * subtraction is lossless). Docs with ZERO tokens have no postings to
    * recover dl/N from; their (0-length) stats contribution survives a
    * delete-by-id — an avgdl calibration nit, removed by the next
    * [[compactIndex]]-after-rebuild cycle. `deltaId` is idempotent like
    * [[appendIndex]]'s. */
  def deleteDocs(spark: SparkSession, dir: String, docIds: DataFrame,
      deltaId: Option[String] = None): Unit = {
    val commits = readCommits(dir)
    if (deltaId.exists(id => commits.exists(_.deltaId.contains(id)))) {
      System.err.println(s"[graft] bm25 deleteDocs: delta id " +
        s"'${deltaId.get}' already committed under $dir — no-op (retry)")
      return
    }
    val active = activeOf(commits)
    if (active.isEmpty) {
      // no index to subtract from — but the delta id must still be
      // RECORDED, or a retry of this same id after the index is later
      // (re)built would apply the delete against data the original call
      // never saw. A `noop` marker carries the id with no data dirs;
      // readers skip it (activeOf), idempotence checks see it.
      deltaId.foreach { id =>
        publishMarker(dir,
          Gen(nextGen(dir, commits), "noop", Some(id), Nil))
      }
      return
    }
    statsCache.remove(dir)
    val g = nextGen(dir, commits)
    val ids = docIds.select(
      col(docIds.columns.head).cast("long").as("doc_id")).distinct()
    // postings of the doomed docs, AFTER earlier tombstones — so deleting
    // an already-deleted or absent id subtracts nothing (idempotent in
    // effect, not just by delta id)
    val mine = activePostings(spark, dir, active, commits, lit(true))
      .join(ids, Seq("doc_id"), "left_semi")
      .select("term", "doc_id", "dl", "tf").persist()
    try {
      mine.groupBy("term")
        .agg((-count(lit(1))).cast("double").as("df"))
        .withColumn("bucket",
          pmod(xxhash64(col("term")), lit(IndexBuckets.toLong)))
        .repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(s"$dir/df/gen=$g")
      failpoint("df")
      val perDoc = mine.groupBy("doc_id").agg(max("dl").as("dl"))
      perDoc.agg((-count(lit(1))).cast("double").as("n"),
          (-coalesce(sum("dl"), lit(0.0))).as("dl_sum"))
        .coalesce(1).write.parquet(s"$dir/stats/gen=$g")
      failpoint("stats")
      perDoc.select("doc_id").coalesce(1)
        .write.parquet(s"$dir/deleted/gen=$g")
      failpoint("deleted")
    } finally { mine.unpersist(); () }
    publishMarker(dir, Gen(g, "tombstone", deltaId, Nil))
  }

  /** Fold every active generation (applying tombstones) into ONE fresh
    * generation and atomically retire the olds via the marker's
    * `replaces` list — so pruned reads go back to opening one file set
    * per bucket instead of one per append (the gate stores' tiered
    * compaction, GateStore.compact, is the same move). Scores are
    * byte-identical across the fold: tf/dl rows are copied, df/stats are
    * lossless integer-double sums. Retired and orphaned (uncommitted)
    * generation data dirs are deleted afterwards, best-effort — readers
    * never look at them again either way. No-op on an already-compact
    * index. Single-writer, like every mutation here. */
  def compactIndex(spark: SparkSession, dir: String): Unit = {
    val commits = readCommits(dir)
    val active = activeOf(commits)
    val activeSet = active.toSet
    val tombs = commits.exists(c => activeSet(c.gen) && c.kind == "tombstone")
    if (active.size <= 1 && !tombs) {
      // nothing to fold — but a PREVIOUS compaction's deferred retirees
      // (see sweepDead's deferral contract) may still be on disk
      sweepDead(dir, keep = activeSet)
      return
    }
    statsCache.remove(dir)
    val g = nextGen(dir, commits)
    val st = spark.read.schema(statsSchema).parquet(s"$dir/stats")
      .where(col("gen").isin(active: _*))
      .agg(coalesce(sum("n"), lit(0.0)), coalesce(sum("dl_sum"), lit(0.0)))
      .collect()(0)
    val (n, dlSum) = (st.getDouble(0), st.getDouble(1))
    activePostings(spark, dir, active, commits, lit(true))
      .select(col("term"), col("doc_id"), col("dl"), col("tf"), col("bucket"))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("term"))
      .write.partitionBy("bucket").parquet(s"$dir/postings/gen=$g")
    // folded df derives from the folded postings (tombstones already
    // applied there), like writeGeneration's — token-less docs have no
    // postings, so a df(term) can never go missing this way
    spark.read.schema(postingsSchema)
      .option("basePath", s"$dir/postings")
      .parquet(s"$dir/postings/gen=$g")
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      .where(col("df") > 0)
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(IndexBuckets.toLong)))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(s"$dir/df/gen=$g")
    spark.range(1).select(lit(n).as("n"), lit(dlSum).as("dl_sum"))
      .coalesce(1).write.parquet(s"$dir/stats/gen=$g")
    publishMarker(dir, Gen(g, "compact", None, active))
    // data-dir sweep, DEFERRED by one compaction cycle: the generations
    // THIS fold just retired stay on disk until the NEXT compaction, so a
    // concurrent reader in another process that resolved the old active
    // set just before the marker landed can still finish its scan (the
    // same hazard the indexFor LRU eviction defers deletion for). What
    // sweeps NOW: dirs retired by the PREVIOUS compaction, crashed
    // writers' orphans, and leftovers of an earlier failed sweep — none
    // of which any reader could have resolved against the pre-fold
    // marker set.
    sweepDead(dir, keep = active.toSet + g)
  }

  /** Delete every on-disk `gen=<k>` data dir whose generation is not in
    * `keep` — best-effort (readers never resolve swept gens from the
    * current markers either way). Callers choose `keep` to implement the
    * one-cycle sweep deferral documented at [[compactIndex]]. */
  private def sweepDead(dir: String, keep: Set[Int]): Unit = {
    val fs = graft.io.StoreFs.forRoot(dir)
    val genDirRe = """gen=(\d+)""".r
    Seq("postings", "df", "stats", "deleted").foreach { t =>
      fs.list(s"$dir/$t").foreach {
        case name @ genDirRe(k) if !keep(k.toInt) =>
          fs.deleteRecursively(s"$dir/$t/$name")
        case _ =>
      }
    }
  }

  /** Matching postings across the active generations, with tombstones
    * applied: a tombstone suppresses a (doc_id, posting) pair only in
    * generations EARLIER than itself, so re-appending a deleted doc_id
    * works without waiting for compaction. With no active tombstone the
    * plan is the bare pruned scan — no join added. */
  private def activePostings(spark: SparkSession, dir: String,
      active: Seq[Int], commits: Seq[Gen], cond: Column): DataFrame = {
    val posts = spark.read.schema(postingsSchema)
      .parquet(s"$dir/postings")
      .where(col("gen").isin(active: _*) && cond)
    val activeSet = active.toSet
    val tombGens = commits
      .filter(c => activeSet(c.gen) && c.kind == "tombstone").map(_.gen)
    if (tombGens.isEmpty) posts
    else {
      val del = spark.read.schema(deletedSchema)
        .parquet(s"$dir/deleted")
        .where(col("gen").isin(tombGens: _*))
        .select(col("doc_id").as("__del_id"), col("gen").as("__del_gen"))
      posts.join(del,
        posts("doc_id") === col("__del_id") &&
          posts("gen") < col("__del_gen"), "left_anti")
    }
  }

  /** Corpus stats summed across active generations: (N, avgdl). ONE
    * tiny-result job, cached per dir WITH the active-generation
    * signature — a marker published by this or ANY OTHER process changes
    * the signature, so the cache self-refreshes on the next read instead
    * of serving stale stats. */
  private def readStats(spark: SparkSession, dir: String,
      active: Seq[Int]): (Double, Double) = {
    val sig = active.mkString(",")
    val cached = statsCache.get(dir)
    if (cached != null && cached._1 == sig) return (cached._2, cached._3)
    if (active.isEmpty) return (0.0, 0.0)
    val st = spark.read.schema(statsSchema).parquet(s"$dir/stats")
      .where(col("gen").isin(active: _*))
      .agg(coalesce(sum("n"), lit(0.0)), coalesce(sum("dl_sum"), lit(0.0)))
      .collect()(0)
    val n = st.getDouble(0)
    val avgdl = if (n > 0) st.getDouble(1) / n else 0.0
    statsCache.put(dir, (sig, n, avgdl))
    (n, avgdl)
  }

  /** df of each queried term summed across active generations (tombstone
    * generations contribute their negative rows) — partition-pruned +
    * term predicate pushed to row groups; ≤ |terms| rows back. */
  private def readDf(spark: SparkSession, dir: String, terms: Seq[String],
      buckets: Seq[Int], active: Seq[Int]): Map[String, Double] =
    spark.read.schema(dfSchema).parquet(s"$dir/df")
      .where(col("gen").isin(active: _*) &&
        col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .groupBy("term").agg(sum("df").as("df"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** BM25 over a persisted index — same contract and (to rounding) same
    * scores as [[bm25]], at O(matching postings) per query. The per-doc
    * term pivot restores the scan tier's FIXED term-order arithmetic, so
    * the two tiers agree bit-for-bit given identical stats. */
  def bm25Indexed(spark: SparkSession, dir: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 requires at least one query term")
    val commits = readCommits(dir)
    val active = activeOf(commits)
    // corpus stats are STATIC per committed generation set — cached per
    // dir+signature, so repeated queries pay zero jobs for them, like any
    // search service holding N/avgdl in memory
    val (n, avgdl0) = readStats(spark, dir, active)
    if (n == 0.0)
      return spark.range(0)
        .select(col("id").as("doc_id"), lit(0.0).as("score"))
    val avgdl = math.max(avgdl0, 1e-9)
    // term → partition bucket, evaluated driver-side — no job
    val buckets = terms.map(termBucket).distinct
    val dfMap = readDf(spark, dir, terms, buckets, active)
    val idf = terms.map { t =>
      val df = math.max(dfMap.getOrElse(t, 0.0), 0.0)
      math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    }
    val posts = activePostings(spark, dir, active, commits,
      col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val pivoted = posts.groupBy(col("doc_id")).agg(
      max(col("dl")).as("dl"),
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, col("tf")).otherwise(lit(0.0)))
          .as(s"tf$i")
      }: _*)
    val score = terms.indices.map { i =>
      val tfc = col(s"tf$i") * lit(k1 + 1) /
        (col(s"tf$i") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl)))
      // zero-tf slots guarded like the scan tier's (0/0 at k1 = 0)
      lit(idf(i)) * when(col(s"tf$i") > 0, tfc).otherwise(lit(0.0))
    }.reduce(_ + _)
    pivoted.select(col("doc_id"), score.as("score"))
  }

  /** BM25 for a whole BATCH of queries against one index, in one pass:
    * returns (query, doc_id, score) for every document matching at least
    * one of its query's terms. The workload shape a pipeline actually
    * runs — thousands of eval/benchmark queries against the corpus —
    * where per-query jobs would be dominated by fixed latency: here the
    * UNION of all terms drives one pruned postings read, the per-(query,
    * term) idf weights ship as ONE broadcast frame, and the only shuffle
    * is the (query, doc_id) score aggregation over matching postings —
    * O(Σ matching postings) for the entire batch, independent of query
    * count. Scores match [[bm25]] per query (summation order inside the
    * aggregate is engine-chosen; agreement is to FP round-off). */
  def bm25IndexedMulti(spark: SparkSession,
      dir: String, queries: Map[String, Seq[String]],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.values.forall(_.nonEmpty),
      "every query needs at least one term")
    val commits = readCommits(dir)
    val active = activeOf(commits)
    val (n, avgdl0) = readStats(spark, dir, active)
    import spark.implicits._
    if (n == 0.0)
      return Seq.empty[(String, Long, Double)].toDF("query", "doc_id", "score")
    val avgdl = math.max(avgdl0, 1e-9)
    val terms = queries.values.flatten.toSeq.distinct
    val buckets = terms.map(termBucket).distinct
    // per-term idf computed IN-PLAN from the pruned df slices (round 18):
    // the r17 spelling collected df to the driver first — a serial job
    // ahead of the scoring job every batch pays. As a broadcast-side
    // subplan the tiny df aggregation overlaps the postings scan instead
    // (broadcast exchanges build concurrently); N stays a driver literal
    // (readStats — cached per generation signature, zero jobs here).
    val dfAgg = spark.read.schema(dfSchema).parquet(s"$dir/df")
      .where(col("gen").isin(active: _*) &&
        col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .groupBy("term").agg(sum("df").as("df"))
    val qtPairs = queries.toSeq.flatMap { case (q, ts) =>
      ts.distinct.map(t => (q, t))
    }.toDF("query", "term")
    // tombstone generations can drive a term's summed df negative-to-zero
    // and an unmatched term has no df row at all — both clamp to 0, the
    // same arithmetic the driver-side idfOf used
    val dfc = greatest(coalesce(col("df"), lit(0.0)), lit(0.0))
    // (query, term, idf): one small broadcast side for the whole batch
    val qt = qtPairs.join(broadcast(dfAgg), Seq("term"), "left")
      .select(col("query"), col("term"),
        log(lit(1.0) + (lit(n) - dfc + lit(0.5)) / (dfc + lit(0.5)))
          .as("idf"))
    val posts = activePostings(spark, dir, active, commits,
      col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val tfc = col("tf") * lit(k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl)))
    posts.join(broadcast(qt), "term")
      .select(col("query"), col("doc_id"), (col("idf") * tfc).as("contrib"))
      .groupBy("query", "doc_id").agg(sum("contrib").as("score"))
  }

  /** Per-query TOP-K over the batch tier — the eval-harness shape
    * (thousands of queries × top-k) as ONE plan: [[bm25IndexedMulti]]'s
    * single pruned read + one (query, doc_id) aggregation, then a
    * per-query BOUNDED top-k AGGREGATE ([[graft.functions.BottomKAgg]]
    * over struct(−score, doc_id) — round 18; the r17 window rank moved
    * every matching doc to its query's partition before ranking, where
    * the O(k) aggregate ships at most k rows per map partition per query
    * into the final exchange: at corpus scale the last shuffle carries
    * O(queries × k × partitions) instead of O(matching docs)). Ranking
    * is (score DESC, doc_id) with ties beyond k dropped — the struct
    * ordering is lexicographic, so the kept set and its boundary
    * tie-break are IDENTICAL to the window spelling's row_number.
    * `scoreRounding` ≥ 0 ranks AND returns round(score, n) — the
    * deterministic boundary an oracle or a reproducible eval wants (FP
    * summation order makes raw scores engine-ambiguous in the last
    * ulps).
    *
    * A single query's top-k is [[bm25Indexed]] ordered by (score DESC,
    * doc_id) with `limit(k)` — Spark's bounded TakeOrderedAndProject,
    * which at sf0.1 on 4 cores ran in 0.46 s against 0.71 s for a
    * one-entry `queries` map here. Two max-impact pruned top-k paths over
    * impact-sorted postings were built, proven result-identical and
    * measured: a per-(query, term) prune of this plan (1.4× slower at
    * sf0.1) and a single-query two-phase bound-and-rescore path (level
    * with full scoring at sf0.1, 0.95× of it at a 1.5M-doc skewed
    * corpus). Both were removed, with the stored impact column they read
    * (PERF_NOTES §45). */
  def bm25IndexedMultiTopK(spark: SparkSession, dir: String,
      queries: Map[String, Seq[String]], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      scoreRounding: Int = -1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val scored0 = bm25IndexedMulti(spark, dir, queries, k1, b)
    val scored =
      if (scoreRounding < 0) scored0
      else scored0.withColumn("score", round(col("score"), scoreRounding))
    // smallest-k of (−score, doc_id) == top-k of (score DESC, doc_id);
    // double negation is exact in IEEE, so the returned score is the
    // aggregate's own value bit-for-bit
    val pair = struct(negate(col("score")).as("ns"), col("doc_id"))
    val topK = org.apache.spark.sql.GraftBridge.column(
      graft.functions.BottomKAgg(
        org.apache.spark.sql.GraftBridge.expression(pair), k)
        .toAggregateExpression()).as("__top")
    scored.groupBy("query").agg(topK)
      .select(col("query"), explode(col("__top")).as("__e"))
      .select(col("query"), col("__e.doc_id").as("doc_id"),
        negate(col("__e.ns")).as("score"))
  }

  /** Partition bucket of a term — the driver-side twin of the build's
    * `pmod(xxhash64(term), IndexBuckets)` column (seed 42). */
  private def termBucket(t: String): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(t,
        StringType)), 42L).eval(null)
    java.lang.Math.floorMod(h.asInstanceOf[Long], IndexBuckets.toLong).toInt
  }

  // (active-gen signature, N, avgdl) per index dir
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Double, Double)]()

  private def deleteRecursively(p: Path): Unit =
    graft.io.LocalStoreFs.deleteRecursively(p.toString)

  // One built index per (cacheKey, corpus fingerprint) — Verify/Bench
  // convenience: repeated queries against the same sf dir reuse the
  // build, which is the entire point of the tier. The FINGERPRINT keys
  // out a regenerated corpus at the same path (stale-index hazard).
  // Eviction only drops the CACHE ENTRY — the dir may still be reachable
  // through a path indexFor returned earlier (whose lazy DataFrames
  // execute later), so deleting it then would turn in-flight queries
  // into errors or, worse, a fresh read of the deleted dir into a
  // silent zero-row answer. Evicted dirs join the shutdown-hook sweep
  // instead: the temp-dir leak is bounded by the session's DISTINCT
  // corpora and reclaimed at exit.
  private val evictedIndexDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private val builtIndexes =
    new java.util.LinkedHashMap[String, String](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, String]): Boolean = {
        val evict = size() > 8
        if (evict) { evictedIndexDirs.add(e.getValue); () }
        evict
      }
    }
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      val dirs = builtIndexes.synchronized {
        builtIndexes.values().asScala.toSeq
      } ++ evictedIndexDirs.asScala
      dirs.foreach(d => try deleteRecursively(Paths.get(d))
        catch { case _: Throwable => () })
    }, "graft-bm25idx-clean"))
  }

  /** Identity of the corpus behind `docs`, from its input files' paths +
    * sizes + mtimes (plan hash for file-less in-memory frames) — cheap,
    * driver-side, and different whenever the data could be. */
  private def corpusFingerprint(docs: DataFrame): String = {
    val files = docs.inputFiles.sorted
    if (files.isEmpty)
      return "p" + docs.queryExecution.logical.semanticHash().toString
    val parts = files.map { f =>
      val p =
        try Paths.get(new java.net.URI(f))
        catch { case _: Throwable => Paths.get(f) }
      val (sz, mt) =
        try (Files.size(p), Files.getLastModifiedTime(p).toMillis)
        catch { case _: Throwable => (0L, 0L) }
      s"$f:$sz:$mt"
    }
    "f" + scala.util.hashing.MurmurHash3.orderedHash(parts).toHexString
  }

  /** Path of a (possibly cached) index for `docs`, keyed by `cacheKey` +
    * the corpus fingerprint — a regenerated corpus at the same path gets
    * a fresh build, never stale scores. */
  def indexFor(docs: DataFrame, idCol: String, textCol: String,
      cacheKey: String): String = {
    val key = cacheKey + "#" + corpusFingerprint(docs)
    builtIndexes.synchronized {
      val hit = builtIndexes.get(key)
      if (hit != null) return hit
    }
    val dir = Files.createTempDirectory("graft_bm25idx").toString
    buildIndex(docs, idCol, textCol, dir)
    builtIndexes.synchronized {
      val raced = builtIndexes.get(key)
      if (raced != null) { deleteRecursively(Paths.get(dir)); raced }
      else { builtIndexes.put(key, dir); dir }
    }
  }
}
