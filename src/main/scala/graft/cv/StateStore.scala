package graft.cv

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The materialization-table analogue (reference matrel, pipeline_query.c:
  * 1600-1900): one row per group holding partial aggregate state, keyed and
  * physically bucketed by a 64-bit hash of the group columns — the same
  * layout role as the reference's `hash_group` lookup index
  * (pipeline_query.c:771-901).
  *
  * Layout (plain parquet + a tiny JSON manifest; no table format needed):
  *
  *   root/v<N>/__bucket=<b>/part-*.parquet   — large state, one dir per bucket
  *   root/v<N>/part-*.parquet                — small state, one flat file
  *   root/_manifest.json                     — {version, small, buckets: {b: dir}
  *                                               [, applied: {query, batch}]}
  *
  * A large-store upsert only reads and rewrites the buckets containing
  * updated groups (the incoming micro-batch is partial-aggregated first, so
  * per-batch work is O(groups-touched), never O(events) against storage).
  * Untouched buckets stay on their old files via the manifest — a poor
  * man's snapshot commit, the same idea a real deployment would delegate to
  * Delta/Iceberg MERGE. A small store is rewritten whole by every merge as
  * ONE file in a flat dir shared by every bucket (see [[readBuckets]]).
  * Manifest swap is atomic (temp file + rename), readers see old or new.
  *
  * Scale notes (100 TB): numBuckets scales with cluster size (buckets ≈
  * executors × few); the merge shuffle is a single hash partitioning on the
  * group key, identical to the reference's worker→combiner routing
  * (combiner_receiver.c:160-177). Bucket-level rewrite keeps write
  * amplification at (touched buckets / total) instead of full-table.
  */
final class StateStore(
    spark: SparkSession,
    initialRoot: String,
    val keyCols: Seq[String],
    val numBuckets: Int = 32,
    smallStateBytes: Long = StateStore.DefaultSmallStateBytes,
    // Append-only layout (non-aggregating CVs): every batch writes a fresh
    // SEGMENT dir (manifest bucket id = segment ordinal) instead of merging
    // into hash buckets — a blind append, no read-modify-write, which is the
    // only shape that survives event-grain state at 100 TB. Rows carry a
    // hidden (batch, row) arrival sequence; segment count is bounded by
    // size-tiered compaction (see appendWrite).
    val appendOnly: Boolean = false,
    val maxAppendSegments: Int = 64,
    // The session that reads and caches small state under
    // InterpretedStateBytes (see [[onSmallSession]]), so the overlays,
    // ticks and reaps over it and the merges and emits built from it run
    // there. The engine passes its interpreted session: small micro-batch
    // work compiles nothing (see ContViewEngine.exec). Larger and append
    // stores read on `spark`. Defaults to `spark`.
    smallSpark: SparkSession = null) {

  private val BucketCol = StateStore.BucketCol

  private val smallSession = Option(smallSpark).getOrElse(spark)

  // the store's directory; mutable only via relocate() (ALTER VIEW RENAME)
  @volatile private var _root: String = initialRoot
  def root: String = _root

  /** Join any in-flight background version-dir deletion. Callers about to
    * MOVE the store's directory tree (rename) must quiesce BEFORE the move:
    * the deleter holds absolute paths under the old root, and a move that
    * wins the race turns its Files.exists checks into silent no-ops —
    * leaving stale superseded version dirs alive inside the relocated tree.
    */
  private[cv] def quiesceGc(): Unit = this.synchronized {
    gcInFlight.foreach(f => try f.get() catch { case _: Throwable => () })
    gcInFlight = None
  }

  /** Redirect the store to a directory whose files the caller just moved
    * (ALTER VIEW RENAME). Takes the store monitor, so a mutation in flight
    * against the old path completes before the switch, and every later one
    * — including async ingest threads still holding this instance —
    * targets the new path. Keeping ONE store instance across the rename is
    * what makes the move safe: there is no superseded instance left that
    * could write into the moved-away directory.
    */
  def relocate(newRoot: String): Unit = this.synchronized {
    val old = _root.stripSuffix("/")
    quiesceGc() // belt: callers quiesce before moving the tree (see above)
    _root = newRoot
    // stale version dirs awaiting deferred GC moved with the tree
    pendingGc = pendingGc.map { case (p, due) =>
      (newRoot.stripSuffix("/") + "/" + p.stripPrefix(old + "/")) -> due }
    footerMinCache.clear() // keyed by absolute file path under the old root
    refreshCache() // cached plan reads parquet at old absolute paths
  }

  // every metadata/listing/delete op routes through the scheme-portable
  // store seam: a plain root stays on java.nio, a URI root ("file:/…",
  // "hdfs://…") runs on the Hadoop FileSystem API — see graft.io.StoreFs
  private def sfs: graft.io.StoreFs = graft.io.StoreFs.forRoot(root)

  private def manifestPath: String = s"$root/_manifest.json"

  /** Within-file clustering columns (the CREATE INDEX analogue —
    * cont_index.sql; set by the engine for SW/TTL views or via
    * createIndex). Rows are sorted by these columns inside every written
    * bucket file, so parquet ROW-GROUP min/max stats prune time-ranged
    * reads (SW overlay liveness filters, TTL reap scans) — the hash-bucket
    * layout alone can't: every bucket holds groups from all time ranges.
    */
  @volatile var clusterBy: Seq[String] = Nil

  /** Matrel CHECK-constraint hook (reference matrel_constraints.sql): maps
    * the merged candidate state (and the pre-merge state for the same
    * columns, when any exists) to the rows actually written. The engine
    * installs a filter that keeps a violating group's LAST PASSING row
    * (reference semantics: a constraint-violating combiner write is skipped,
    * not an error) and drops violating brand-new groups. Both frames carry
    * the update schema + bucket column.
    */
  @volatile var constrain: Option[(DataFrame, Option[DataFrame]) => DataFrame] = None

  /** Rename between internal state-column names and the user-facing names
    * matrel DML addresses (deleteWhere/updateWhere `renames` pairs).
    */
  private def renamed(df: DataFrame, renames: Seq[(String, String)],
      toUserNames: Boolean): DataFrame =
    renames.foldLeft(df) { case (d, (i, u)) =>
      if (toUserNames) d.withColumnRenamed(i, u) else d.withColumnRenamed(u, i)
    }

  /** Sort rows for writing. Leads with the partition column when present so
    * the dynamic-partition writer sees its required ordering satisfied and
    * does not re-sort (its own sort would destroy the clustering).
    */
  private def clustered(df: DataFrame): DataFrame = {
    val cols = clusterBy.filter(df.columns.contains)
    if (cols.isEmpty) df
    else {
      val lead = if (df.columns.contains(BucketCol)) Seq(BucketCol) else Nil
      df.sortWithinPartitions((lead ++ cols).map(col): _*)
    }
  }

  // a keyless store (global aggregate — exactly one group) lives in bucket 0
  private def bucketOf: org.apache.spark.sql.Column =
    if (keyCols.isEmpty) lit(0L)
    else pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets))

  /** Which manifest bucket a row belongs to. Keyed stores recompute the key
    * hash; append stores have no key — the segment is recovered from the
    * file path (valid only over direct file reads, which is what deleteWhere
    * uses: append stores never serve reads from a persisted cache).
    */
  private def rowBucket: org.apache.spark.sql.Column =
    if (appendOnly)
      regexp_extract(input_file_name(), s"$BucketCol=(\\d+)", 1).cast("long")
    else bucketOf

  // ---- manifest ----

  /** `small` tracks whether the whole state still fits the single-job
    * full-rewrite merge path (see [[SmallStateBytes]]). Once a store grows
    * past the threshold it stays on the bucket-pruned path for good — the
    * flag is how we avoid ever re-measuring a large store's file tree.
    */
  private case class Manifest(version: Long, buckets: Map[Int, String], small: Boolean,
      applied: Option[(String, Long)])

  private def readManifest(): Option[Manifest] = {
    // a crash between HadoopStoreFs.publish's two replace-renames leaves
    // the PREVIOUS pointer aside at .prev — stale-but-consistent beats
    // empty-store amnesia (the superseding commit never completed, so
    // the previous version IS the committed state). A CONCURRENT reader
    // can also catch the µs window where neither name exists (or lose
    // the file between exists and read) — retried briefly, but only when
    // version dirs prove a store lives here, so an actually-empty store
    // pays nothing.
    var attempt = 0
    while (true) {
      val path =
        if (sfs.exists(manifestPath)) Some(manifestPath)
        else Option(manifestPath + ".prev").filter(sfs.exists)
      val txt: Option[String] =
        try path.map(sfs.readString)
        catch {
          case _: java.io.FileNotFoundException |
              _: java.nio.file.NoSuchFileException => None // raced: retry
        }
      txt match {
        case Some(t) => return Some(parseManifest(t))
        case None =>
          val storeLive = sfs.list(root).exists(_.startsWith("v"))
          if (!storeLive || attempt >= 3) return None
          attempt += 1
          Thread.sleep(5L * attempt)
      }
    }
    None // unreachable
  }

  private def parseManifest(txt: String): Manifest = {
      // minimal parser for the flat structure we write
      val version = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
      val pairs = """"(\d+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn(txt)
        .map(m => m.group(1).toInt -> m.group(2)).toMap
      val small = """"small"\s*:\s*(true|false)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toBoolean)
        .getOrElse {
          // manifest written before the flag existed: measure once and
          // memoize IN MEMORY only — reads take no lock, so writing the
          // manifest from here could race a concurrent locked commit and
          // roll the store back to this (by then stale) version. The next
          // locked mutation persists the flag with its own commit.
          measuredSmallMemo.getOrElse {
            val s = measureSmall(pairs)
            measuredSmallMemo = Some(s)
            s
          }
        }
      val applied = """"applied"\s*:\s*\{\s*"query"\s*:\s*"([^"]*)"\s*,\s*"batch"\s*:\s*(\d+)""".r
        .findFirstMatchIn(txt).map(m => m.group(1) -> m.group(2).toLong)
      Manifest(version, pairs, small, applied)
  }

  // one-time measurement memo for pre-flag manifests (see readManifest)
  @volatile private var measuredSmallMemo: Option[Boolean] = None

  /** Publish `m`. A store that never applied a streaming batch writes
    * no `applied` field, so its manifest keeps the pre-streaming layout. */
  private def writeManifest(m: Manifest): Unit = {
    val entries = m.buckets.toSeq.sortBy(_._1)
      .map { case (b, p) => s""""$b": "$p"""" }.mkString(",")
    val applied = m.applied.fold("") {
      case (q, b) => s""", "applied": {"query": "$q", "batch": $b}"""
    }
    val txt = s"""{"version": ${m.version}, "small": ${m.small}, "buckets": {$entries}$applied}"""
    val tmp = s"$root/_manifest.tmp.${m.version}"
    sfs.mkdirs(root)
    sfs.writeString(tmp, txt)
    // THE matrel commit point: readers resolve buckets through the
    // manifest, so this pointer swap is what makes a version visible —
    // routed through the store seam (DESIGN_NOTES "Shared-storage commit
    // points"; local = CommitFs atomic rename, Hadoop = FileSystem
    // rename, S3 = a conditional PUT of the manifest key — the only
    // operation that must be atomic)
    sfs.publish(tmp, manifestPath, durable = false, replace = true)
  }

  /** Below this many state bytes on disk, a merge rewrites the whole state
    * in one job instead of pre-scanning for touched buckets — per-micro-batch
    * job count beats write amplification while the state is tiny.
    * Constructor-tunable so benches/tests can force the bucket-pruned path
    * (the one that matters at scale) without 64 MB of state.
    */
  private val SmallStateBytes = smallStateBytes

  // Wall-clock of the last upsert's two phases, for the per-proc stats
  // surface (reference proc_stats worker/combiner split, stats.c): "worker"
  // = the job that materializes the micro-batch's partial aggregates,
  // "combiner" = the merge+write against stored state. Read by the engine
  // right after upsert() returns (same-thread call sequence).
  @volatile private[cv] var lastWorkerMs: Long = 0L
  @volatile private[cv] var lastCombinerMs: Long = 0L
  @inline private def phase[T](set: Long => Unit)(f: => T): T = {
    val t = System.nanoTime()
    try f finally set((System.nanoTime() - t) / 1000000L)
  }

  private def dirBytes(rel: String): Long = sfs.treeBytes(s"$root/$rel")

  private def measureSmall(buckets: Map[Int, String]): Boolean =
    buckets.values.toSet.toSeq.map(dirBytes).sum < SmallStateBytes

  def exists: Boolean = readManifest().isDefined

  /** Whether this store already holds streaming batch `batchId` of the
    * checkpointed query `query`: its manifest records that query and a
    * batch at or past it. A replayed batch is then a no-op. */
  def holds(query: String, batchId: Long): Boolean =
    readManifest().flatMap(_.applied).exists { case (q, b) => q == query && b >= batchId }

  /** Record streaming batch `applied` in the current manifest, as the same
    * version (same buckets): for a store whose commit is followed by more
    * work on the batch, the batch counts as held only once that work is
    * done too (see [[holds]]). */
  def markApplied(applied: (String, Long)): Unit = this.synchronized {
    readManifest().foreach(m => writeManifest(m.copy(applied = Some(applied))))
  }

  /** Whether the state is not written yet, or small (manifest `small`) and
    * under [[StateStore.InterpretedStateBytes]]: its reads and caches run on
    * the small-state session, and the engine runs a small batch into it
    * there too.
    */
  def onSmallSession: Boolean = readManifest().forall(interpreted)

  // (version, bytes on disk) of the last small version measured: a merge
  // records what it wrote; a delete or update is re-measured on first use
  @volatile private var sizedVersion: (Long, Long) = (-1L, 0L)

  private def interpreted(m: Manifest): Boolean = m.small && {
    val (v, known) = sizedVersion
    val bytes = if (v == m.version) known else {
      val b = m.buckets.values.toSet.toSeq.map(dirBytes).sum
      sizedVersion = (m.version, b)
      b
    }
    bytes < StateStore.InterpretedStateBytes
  }

  // Post-commit snapshot of the full state, persisted lazily: the next
  // merge (and any overlay read) serves from executor memory instead of
  // re-listing/re-scanning the bucket dirs. Invalidated by every mutation;
  // spill-safe (MEMORY_AND_DISK) and bounded by state size, which the
  // design keeps at O(groups), never O(events).
  // Volatile: mutators reassign it under the store monitor, read() hands
  // it out on reader threads without the lock.
  @volatile private var cachedState: Option[DataFrame] = None

  // Whether the snapshot has plausibly been materialized (an overlay read
  // ran since the last mutation). The bucket-pruned merge reads existing
  // state through the cache ONLY then: filtering the still-cold cache plan
  // would scan EVERY bucket from disk just to populate cache blocks that
  // the same mutation immediately invalidates — on an ingest-only workload
  // that silently turns the O(touched-buckets) merge into O(state) per
  // batch, the difference that matters at 100× state with sparse arrivals.
  // OPTIMISTIC hint: read() flips it at plan hand-out, not at action time,
  // so an analyzed-but-never-executed read makes at most ONE merge take the
  // cold-cache (old-behavior) path before the mutation resets the flag —
  // bounded staleness, no correctness impact either way.
  @volatile private var cacheWarm = false

  private def refreshCache(): Unit = {
    cachedState.foreach(_.unpersist())
    // append stores NEVER cache: state is O(events), not O(groups) — a
    // persisted snapshot would be unbounded AND appendWrite doesn't
    // invalidate it, so rows appended after a reap pass (whose deleteWhere
    // ends here) would vanish from read() until the next delete
    cachedState = if (appendOnly) None else readBuckets(None).map(_.persist())
    cacheWarm = false
  }

  /** Drop any persisted state snapshot (e.g. when this store instance is
    * being replaced — rename swaps stores; without this the superseded
    * instance's cache would leak in executor storage).
    */
  def releaseCache(): Unit = this.synchronized {
    cachedState.foreach(_.unpersist())
    cachedState = None
    cacheWarm = false
  }

  /** Current state as a DataFrame (without the bucket column). */
  def read(): Option[DataFrame] = {
    // the caller is about to run an action over the snapshot, which
    // materializes the cache blocks — later merges may then serve from memory
    if (cachedState.isDefined) cacheWarm = true
    cachedState.orElse(readBuckets(None))
  }

  // State schema memo: set on every write (from the update frame, which
  // carries the combine-kind column metadata) and on the first inferred
  // read. Passing it to spark.read skips per-batch parquet schema
  // inference — a driver-side footer read on every readBuckets otherwise.
  @volatile private var knownSchema: Option[org.apache.spark.sql.types.StructType] = None

  // Authoritative per-column metadata (combine-kind / SW window spec),
  // merged from every schema that carried it. Frames arriving via direct
  // matrel DML (insert/update) have NO column metadata; written as-is they
  // would strip the combine-kind from the state table — masked while this
  // JVM's knownSchema still has it, but persisted as a loss after restart,
  // breaking SQL combine()/sw_combine()/finalize over the matrel. Every
  // write path re-stamps missing metadata from this memo.
  private val columnMeta =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.Metadata]()
  private def recordMeta(sch: org.apache.spark.sql.types.StructType): Unit =
    sch.fields.foreach { f =>
      if (f.metadata != org.apache.spark.sql.types.Metadata.empty)
        columnMeta.put(f.name, f.metadata)
    }
  /** Re-stamp memoized metadata onto columns that lost it. */
  private def restampMeta(df: DataFrame): DataFrame = {
    val needs = df.schema.fields.exists(f =>
      f.metadata == org.apache.spark.sql.types.Metadata.empty &&
        columnMeta.containsKey(f.name))
    if (!needs) df
    else df.select(df.schema.fields.toSeq.map { f =>
      if (f.metadata == org.apache.spark.sql.types.Metadata.empty &&
          columnMeta.containsKey(f.name))
        org.apache.spark.sql.functions.col(f.name).as(f.name, columnMeta.get(f.name))
      else org.apache.spark.sql.functions.col(f.name)
    }: _*)
  }

  /** State restricted to the given bucket ids (file-level pruning). Each
    * distinct dir is read once. A flat dir (a small merge's whole state) is
    * read as is only while it is the current version's and all its buckets
    * are wanted; otherwise (a later commit rewrote or deleted some of its
    * buckets) its rows are filtered to the wanted buckets it still serves.
    */
  private def readBuckets(only: Option[Set[Int]]): Option[DataFrame] =
    readManifest().flatMap { m =>
      val wanted = only.map(s => m.buckets.view.filterKeys(s).toMap).getOrElse(m.buckets)
      val (whole, partial) = wanted.groupMap(_._2)(_._1).toSeq.partition {
        case (rel, bs) => !isFlat(rel) ||
          (rel == s"v${m.version}" && bs.size == m.buckets.count(_._2 == rel))
      }
      val s = if (interpreted(m)) smallSession else spark
      val frames = Seq(whole.map(_._1)).filter(_.nonEmpty).map(loadState(s, _)) ++
        partial.map { case (rel, bs) =>
          loadState(s, Seq(rel)).where(bucketOf.isInCollection(bs.map(_.toLong)))
        }
      frames.reduceOption(_ unionByName _)
    }

  private def loadState(s: SparkSession, rels: Seq[String]): DataFrame = {
    val paths = rels.map(rel => s"$root/$rel")
    knownSchema match {
      case Some(sch) =>
        recordMeta(sch)
        s.read.schema(sch).parquet(paths: _*)
      case None =>
        val df = s.read.parquet(paths: _*)
        knownSchema = Some(df.schema)
        recordMeta(df.schema) // parquet footers persist column metadata
        df
    }
  }

  // a flat (shared) state dir is a bare `v<N>`, a bucket dir `v<N>/__bucket=<b>`
  private def isFlat(rel: String): Boolean = !rel.contains('/')

  // null-safe key match against the batch's groups: NULL group keys still
  // select their state row
  private def semiOnKeys(up: DataFrame)(l: DataFrame): DataFrame = {
    val r = up.select(keyCols.map(col): _*).distinct()
    val cond =
      if (keyCols.isEmpty) lit(true) // keyless: the single global group
      else keyCols.map(k => l(k) <=> r(k)).reduce(_ && _)
    l.join(r, cond, "left_semi")
  }

  // merge aggregates that preserve state-column metadata (combine-kind tags)
  private def stateCols(updates: DataFrame,
      reAgg: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)])
      : Seq[org.apache.spark.sql.Column] = {
    val metaByName = updates.schema.fields.map(f => f.name -> f.metadata).toMap
    reAgg.map { case (name, agg) => agg(col(name)).as(name, metaByName(name)) }
  }

  /** Merge partial-aggregated updates into the store.
    *
    * @param updates one row per group: keyCols ++ state columns
    * @param reAgg   per-state-column merge aggregates (state col name → agg builder)
    * @param applied (query id, batch id) of the streaming batch these
    *                updates carry, recorded in the manifest this commit
    *                publishes (see [[holds]]); None keeps the batch the
    *                superseded manifest recorded
    * @return (oldRows, newRows, groupsTouched) — the output-stream feed plus
    *         the update-group count (free byproduct of the bucket scan, so
    *         callers don't pay a separate count() job)
    */
  def upsert(
      updatesIn: DataFrame,
      reAgg: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)],
      needOldRows: Boolean = true,
      applied: Option[(String, Long)] = None)
      : (Option[DataFrame], () => DataFrame, Long) = this.synchronized {
    // re-stamp combine-kind metadata a DML-fed frame lacks, and remember any
    // metadata this frame carries — see columnMeta
    val updates = if (appendOnly) updatesIn else restampMeta(updatesIn)
    recordMeta(updates.schema)
    // Mutations serialize per store (this.synchronized here, deleteWhere,
    // truncate): the manifest commit is a read-modify-write, so a concurrent
    // upsert and reaper pass (startReaper runs on its own thread) — or two
    // user threads inserting into the same stream — would otherwise both
    // base version N+1 on N and lose one of the writes. Per-CV
    // serialization is the reference's concurrency model too (one combiner
    // proc owns each matrel's sync cycle); different CVs' stores still
    // merge in parallel.
    flushPendingGc() // previous version's consumers are done by now (see below)
    if (appendOnly) return appendWrite(updates, needOldRows, applied)
    // the update frame IS the state schema (incl. combine-kind metadata) —
    // memoize it so every state read this cycle skips footer inference
    knownSchema = Some(updates.schema)
    val up = updates.withColumn(BucketCol, bucketOf)
    val manifest = readManifest()

    // Empty store: a scan job would be pure overhead (nothing to prune,
    // nothing to merge) — write directly and take the touched set from the
    // written partition dirs and the group count from an observe() metric
    // riding the same job.
    if (manifest.isEmpty) return firstWrite(up, applied)

    // Small state: merge against the full (cached) state and rewrite it in
    // ONE job — the touched-bucket pre-scan pays for itself only once bucket
    // pruning actually skips meaningful I/O.
    if (manifest.get.small)
      return smallMerge(manifest.get, updates, up, reAgg, needOldRows, applied)

    // Touched buckets + group count come from ONE job that also materializes
    // the partial-aggregated updates into executor cache: the merge job then
    // reads the cached partials (narrow) instead of re-aggregating the raw
    // batch — aggregate states are evaluated exactly once per micro-batch,
    // so a non-deterministic input can never put the scan and the merge in
    // different buckets.
    val selfPersist = updates.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (selfPersist) updates.persist()
    try {
    val obs = org.apache.spark.sql.Observation()
    // count() (not foreach) as the materializing action: it runs the plan
    // through whole-stage codegen and caches the partials without the
    // per-row InternalRow→Row conversion a Dataset.foreach pays; the
    // CollectMetrics barrier still delivers the observation
    phase(lastWorkerMs = _)(up
      .observe(obs, collect_set(col(BucketCol)).as("touched"), count(lit(1)).as("n"))
      .count())
    val updated = obs.get("touched").asInstanceOf[scala.collection.Seq[Long]]
      .map(_.toInt).toSet
    val groupsTouched = obs.get("n").asInstanceOf[Long]
    // a micro-batch whose rows were all filtered out touches nothing: no new
    // version, no manifest bump — return empty old/new frames so the changes
    // emitter writes zero rows
    if (updated.isEmpty) {
      lastCombinerMs = 0L
      val empty = updates.limit(0)
      return (if (needOldRows) Some(empty) else None, () => empty, 0L)
    }
    // a store that just crossed SmallStateBytes rewrites its flat dir's
    // buckets into bucket dirs now, so no later merge scans the flat file
    val touched = updated ++
      manifest.get.buckets.collect { case (b, rel) if isFlat(rel) => b }
    val existingTouched = cachedState.filter(_ => cacheWarm)
      .map(_.where(bucketOf.isInCollection(touched.map(_.toLong))))
      .orElse(readBuckets(Some(touched)))

    // Lazy pre-image: the superseded version's files stay on disk until the
    // NEXT mutation (deferred GC flushes then), and the engine consumes old
    // rows synchronously within this ingest cycle (reference does lookup+emit
    // in one transaction — combiner.c:1402-1638) — so reading them re-scans
    // the pre-merge bucket files instead of paying a snapshot job here.
    val old = if (!needOldRows) None else existingTouched.map(semiOnKeys(up))

    val exBOpt = existingTouched.map(ex =>
      ex.withColumn(BucketCol, bucketOf).select(up.columns.map(col): _*))
    val merged0 = exBOpt match {
      case None => up
      case Some(exB) =>
        val aggs = stateCols(updates, reAgg)
        exB.unionByName(up)
          .groupBy((keyCols :+ BucketCol).map(col): _*)
          .agg(aggs.head, aggs.tail: _*)
    }
    val merged = constrain.map(f => f(merged0, exBOpt)).getOrElse(merged0)

    val version = manifest.map(_.version + 1).getOrElse(0L)
    val outDir = s"$root/v$version"
    // Partition-dir write, shuffled only on the touched groups. Task count
    // scales with group volume (~200k groups/task), not bucket count: a
    // small batch coalesces (narrow — no extra exchange, one task commit)
    // while a full-scale merge fans out with a hash repartition so each
    // touched bucket is written by one task.
    val writeTasks = math.max(1,
      math.min(touched.size, 1 + (groupsTouched / 200000L).toInt))
    val arranged =
      if (writeTasks <= 2) merged.coalesce(writeTasks)
      else merged.repartition(writeTasks, col(BucketCol))
    phase(lastCombinerMs = _)(clustered(arranged)
      .write.partitionBy(BucketCol).mode("overwrite").parquet(outDir))

    // A constraint filter can leave a touched bucket with NO output rows
    // (its only group was brand-new and violating): the partitionBy write
    // produced no dir for it, so it must not enter the manifest.
    val effTouched =
      if (constrain.isEmpty) touched else touched.intersect(writtenBuckets(outDir))
    val newBuckets = manifest.map(_.buckets).getOrElse(Map.empty) ++
      effTouched.map(b => b -> s"v$version/$BucketCol=$b").toMap
    writeManifest(Manifest(version, newBuckets, small = false,
      applied.orElse(manifest.get.applied)))
    // Defer deleting superseded version dirs (see deferGcOldVersions): the
    // returned newRows (and the caller's lazily-evaluated delta, which for
    // LIMIT CVs joins against the pre-merge state) still reference this
    // cycle's inputs; deleting now would FAILED_READ_FILE on cache eviction.
    deferGcOldVersions(manifest.get.buckets, newBuckets)
    refreshCache()

    // lazy: building the post-image DataFrame costs a driver-side file
    // listing — changes-disabled CVs never pay it
    val newRows = () =>
      readBuckets(Some(effTouched)).map(semiOnKeys(up)).getOrElse(updates.limit(0))
    (old, newRows, groupsTouched)
    } finally {
      // merge has run (or failed) — the cache has no later consumer either way
      if (selfPersist) updates.unpersist()
    }
  }

  /** Small-state merge: union the full (cached) state with the batch
    * partials, re-aggregate, and rewrite the whole state as ONE parquet file
    * in a flat `v<N>` dir — one task, no shuffle: the union is coalesced to
    * a single partition, so the group-by needs no Exchange and the merge
    * and the write run in the same task. The buckets present come from an
    * observe() on that write job; the manifest maps each to the flat dir.
    * The batch partials are self-persisted (mirroring the large path) so
    * the count, the semi-joins, and the merge all read one materialized
    * evaluation — a non-deterministic batch can never report old/new key
    * sets inconsistent with what was merged — and the count doubles as the
    * empty-batch short-circuit (a zero-row micro-batch must not rewrite the
    * state or bump the version).
    */
  private def smallMerge(
      m: Manifest,
      updates: DataFrame,
      up: DataFrame,
      reAgg: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)],
      needOldRows: Boolean,
      applied: Option[(String, Long)]): (Option[DataFrame], () => DataFrame, Long) = {
    val selfPersist = updates.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (selfPersist) updates.persist()
    try {
      val groupsTouched = phase(lastWorkerMs = _)(updates.count()) // materializes the cache
      if (groupsTouched == 0L) {
        lastCombinerMs = 0L
        val empty = updates.limit(0)
        return (if (needOldRows) Some(empty) else None, () => empty, 0L)
      }
      // A deleteWhere/TTL pass (or a fully-filtered first batch) can leave a
      // manifest whose bucket map is empty — treat missing state as empty
      // rather than crashing, and fall through to a plain re-agg write.
      val existingOpt = cachedState.orElse(readBuckets(None))

      // Lazy pre-image: superseded version files stay on disk until the NEXT
      // mutation (deferred GC), and the engine consumes old rows synchronously
      // within this ingest cycle — no snapshot job needed.
      val old = if (needOldRows) existingOpt.map(semiOnKeys(up)) else None

      // The union chain MUST start from `up`: the write below runs on the
      // session of the Dataset heading the chain, and `updates` may come from
      // a different session than the store's (combine_table passes
      // caller-built partials).
      val exBOpt = existingOpt.map(existing =>
        existing.withColumn(BucketCol, bucketOf).select(up.columns.map(col): _*))
      val unioned = exBOpt match {
        case Some(exB) => up.unionByName(exB)
        case None => up
      }
      val aggs = stateCols(updates, reAgg)
      val merged0 = unioned.coalesce(1)
        .groupBy((keyCols :+ BucketCol).map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      val merged = constrain.map(f => f(merged0, exBOpt)).getOrElse(merged0)

      val rel = s"v${m.version + 1}"
      val obs = org.apache.spark.sql.Observation()
      phase(lastCombinerMs = _)(clustered(merged.coalesce(1)
          .observe(obs, collect_set(col(BucketCol)).as("buckets")).drop(BucketCol))
        .write.mode("overwrite").parquet(s"$root/$rel"))
      val written: Set[Int] = observed(obs, loadState(up.sparkSession, Seq(rel))
          .select(bucketOf).distinct()
          .collect().map(_.getLong(0).toInt).toSet)(
        _("buckets").asInstanceOf[scala.collection.Seq[Long]].map(_.toInt).toSet)
      // full rewrite: the manifest is replaced wholesale by this version
      val newBuckets = written.map(_ -> rel).toMap
      val bytes = dirBytes(rel)
      sizedVersion = (m.version + 1, bytes)
      writeManifest(Manifest(m.version + 1, newBuckets, small = bytes < SmallStateBytes,
        applied.orElse(m.applied)))
      deferGcOldVersions(m.buckets, newBuckets)
      refreshCache()
      val newRows = () =>
        readBuckets(Some(written)).map(semiOnKeys(up)).getOrElse(updates.limit(0))
      (old, newRows, groupsTouched)
    } finally {
      // merge has run (or failed) — the cache has no later consumer either way
      if (selfPersist) updates.unpersist()
    }
  }

  /** An observed metric with a timeout fallback: if the optimizer pruned
    * the observed subtree (AQE empty-relation propagation on a zero-row
    * batch can delete the CollectMetrics node), the metric never arrives and
    * a bare get() would block forever. The fallback recomputes it.
    */
  private def observed[T](obs: org.apache.spark.sql.Observation,
      fallback: => T)(pick: Map[String, Any] => T): T = {
    // Poll the observation's completion handle with a bounded deadline
    // instead of Await-ing an uninterruptible obs.get Future (which leaked
    // one blocked global-EC thread per pruned-observation batch); get() is
    // only called once the metric has already arrived, so it never blocks.
    val fut = obs.future
    val deadlineNs = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadlineNs) {
      if (fut.isCompleted) return pick(obs.get)
      Thread.sleep(5)
    }
    fallback
  }

  private def writtenBuckets(outDir: String): Set[Int] =
    sfs.list(outDir).filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt).toSet

  /** First commit into an empty store: single write job; touched buckets
    * come from the partition dirs the write produced, the group count from
    * an observe() metric riding the same job.
    */
  private def firstWrite(up0: DataFrame, applied: Option[(String, Long)])
      : (Option[DataFrame], () => DataFrame, Long) = {
    val outDir = s"$root/v0"
    // constraint-violating rows never materialize (no prior state to keep)
    val up = constrain.map(f => f(up0, None)).getOrElse(up0)
    val obs = org.apache.spark.sql.Observation()
    // one fused job computes partials AND writes: no separate worker phase
    lastWorkerMs = 0L
    // Two narrow tasks, not a numBuckets-wide bucket shuffle: a store's
    // FIRST batch is one micro-batch's groups (bounded by micro-batch
    // sizing even at scale), and per-task commit overhead dominates a
    // 32-way fan-out of tiny files — measured 4-6x the flat-write floor.
    // Subsequent large merges size tasks by group volume (see writeTasks).
    phase(lastCombinerMs = _)(clustered(
        up.observe(obs, org.apache.spark.sql.functions.count(lit(1)).as("n"))
          .coalesce(math.min(2, numBuckets)))
      .write.partitionBy(BucketCol).mode("overwrite").parquet(outDir))
    val groupsTouched = observed(obs, up.count())(_("n").asInstanceOf[Long])
    val written = writtenBuckets(outDir)
    val bytes = written.toSeq.map(b => dirBytes(s"v0/$BucketCol=$b")).sum
    sizedVersion = (0L, bytes)
    writeManifest(Manifest(0L, written.map(b => b -> s"v0/$BucketCol=$b").toMap,
      small = bytes < SmallStateBytes, applied))
    refreshCache()
    val newRows = () => read().getOrElse(up.limit(0).drop(BucketCol))
    (None, newRows, groupsTouched)
  }

  /** Append-only commit: write the batch as a new segment, no merge. The
    * hidden (batch, row) sequence preserves arrival order across batches —
    * batch seq = manifest version (already a persisted per-commit counter),
    * row seq = partition-monotonic id within the batch — so read-time
    * LIMIT/OFFSET in arrival order needs no global sequence bottleneck.
    *
    * Segment count is bounded by size-tiered compaction: past
    * [[maxAppendSegments]] the smallest half of the segments is rewritten
    * into one, amortizing to O(log) rewrites per row — the same shape as an
    * LSM / Delta OPTIMIZE small-file compaction.
    */
  private def appendWrite(updates: DataFrame, needOldRows: Boolean,
      applied: Option[(String, Long)]): (Option[DataFrame], () => DataFrame, Long) = {
    val manifest = readManifest()
    val version = manifest.map(_.version + 1).getOrElse(0L)
    val newSeg = manifest
      .flatMap(_.buckets.keysIterator.maxOption).map(_ + 1).getOrElse(0)
    // Arrival-order contract: CROSS-batch order is exact (batch seq = the
    // persisted manifest version). WITHIN a batch the row sequence is
    // partition-index-dominated and not stable under task retry with a
    // nondeterministic upstream — best-effort, matching what "arrival
    // order" can even mean for rows that arrived in one parallel batch.
    // (The reference's $pk sequence serializes every row through one
    // counter; a distributed blind append deliberately does not. Callers
    // needing total order within a batch should carry their own sequence
    // column.)
    val up = updates
      .withColumn(StateStore.PkBatchCol, lit(version))
      .withColumn(StateStore.PkRowCol, monotonically_increasing_id())
    knownSchema = Some(up.schema)
    val segRel = s"v$version/$BucketCol=$newSeg"
    val obs = org.apache.spark.sql.Observation()
    lastWorkerMs = 0L
    phase(lastCombinerMs = _)(clustered(up
      .observe(obs, count(lit(1)).as("n")))
      .write.mode("overwrite").parquet(s"$root/$segRel"))
    val n = observed(obs, up.count())(_("n").asInstanceOf[Long])
    if (n == 0L) {
      // nothing arrived: drop the empty segment, no manifest bump
      sfs.deleteRecursively(s"$root/v$version")
      val empty = up.limit(0)
      return (if (needOldRows) Some(empty) else None, () => empty, 0L)
    }
    var buckets = manifest.map(_.buckets).getOrElse(Map.empty) + (newSeg -> segRel)
    if (buckets.size > maxAppendSegments) {
      val byBytes = buckets.toSeq
        .map { case (b, rel) => (b, rel, dirBytes(rel)) }.sortBy(_._3)
      val toMerge = byBytes.take(buckets.size / 2)
      val compactId = newSeg + 1
      val compactRel = s"v$version/$BucketCol=$compactId"
      val tasks = math.max(1, (toMerge.map(_._3).sum / (128L * 1024 * 1024)).toInt)
      clustered(spark.read.schema(up.schema)
        .parquet(toMerge.map(t => s"$root/${t._2}"): _*)
        .coalesce(tasks)).write.mode("overwrite").parquet(s"$root/$compactRel")
      buckets = (buckets -- toMerge.map(_._1)) + (compactId -> compactRel)
    }
    writeManifest(Manifest(version, buckets, small = false,
      applied.orElse(manifest.flatMap(_.applied))))
    // keep every version dir still holding a live segment; a compacted-away
    // segment inside a still-live version dir lingers until that dir's last
    // segment compacts too (bounded: compaction favors the smallest dirs)
    deferGcOldVersions(manifest.map(_.buckets).getOrElse(Map.empty), buckets)
    // NO state cache for append stores: state is O(events), not O(groups) —
    // persisting it in executor memory would be an unbounded cache.
    // newRows reads the segment by its physical path, NOT its manifest id:
    // this commit's compaction may already have merged the segment away
    // (its files linger under the still-live version dir, and the engine
    // consumes newRows synchronously within this ingest cycle).
    val segPath = s"$root/$segRel"
    val writtenSchema = up.schema
    // read back on the commit's session: a small batch's changes emit
    // stays interpreted with the rest of its commit
    val newRows = () => updates.sparkSession.read.schema(writtenSchema).parquet(segPath)
    (if (needOldRows) Some(up.limit(0)) else None, newRows, n)
  }

  /** Drop state rows matching the predicate (TTL reaper — reaper.c:49-352).
    * Rewrites only buckets that still hold matching rows.
    *
    * @param pruneLtMicros optional prune hint `(column, boundMicros)`
    *        guaranteeing that only rows with `column < bound` (a timestamp,
    *        micros since epoch) can match the predicate. Candidate buckets
    *        are then selected from parquet FOOTER min statistics — a no-op
    *        reaper pass (the overwhelmingly common case at a 1 s cadence)
    *        opens ZERO bucket files instead of scanning the whole state.
    *        Footer reads are driver-side metadata-only and cached per
    *        (immutable) version file, so steady state is O(new files) per
    *        pass, not O(state).
    * @param renames (internalName, userName) pairs: the predicate is
    *        resolved against a view of the state with these columns renamed
    *        (matrel DML addresses single-state columns by their plain agg
    *        names — cont_matrel.sql's `DELETE FROM v_mrel WHERE count…`);
    *        the stored schema keeps the internal names.
    * @return per-pass counters — `scannedBuckets` is what the pruning spec
    *         asserts on (and what a capacity dashboard would chart).
    */
  def deleteWhere(predicate: org.apache.spark.sql.Column,
      pruneLtMicros: Option[(String, Long)] = None,
      renames: Seq[(String, String)] = Nil): StateStore.DeleteStats =
    this.synchronized {
    flushPendingGc()
    def toUser(df: DataFrame): DataFrame = renamed(df, renames, toUserNames = true)
    def toInternal(df: DataFrame): DataFrame = renamed(df, renames, toUserNames = false)
    readManifest() match {
      case None => StateStore.DeleteStats(0, 0, 0)
      case Some(m) =>
        val total = m.buckets.size
        val candidates: Set[Int] = pruneLtMicros match {
          case Some((cn, bound)) =>
            // footers are read per distinct dir: a flat dir serves many buckets
            val mayMatch = m.buckets.values.toSet.filter(dirMayMatchLt(_, cn, bound))
            m.buckets.collect { case (b, rel) if mayMatch(rel) => b }.toSet
          case None => m.buckets.keySet.toSet
        }
        if (candidates.isEmpty) return StateStore.DeleteStats(total, 0, 0)
        val cur = toUser(readBuckets(Some(candidates))
          .getOrElse(return StateStore.DeleteStats(total, 0, 0)))
        val affected = cur.where(predicate).withColumn(BucketCol, rowBucket)
          .select(BucketCol).distinct().collect().map(_.getLong(0).toInt).toSet
        if (affected.isEmpty) return StateStore.DeleteStats(total, candidates.size, 0)
        val keep = toInternal(toUser(readBuckets(Some(affected)).get)
          .where(!coalesce(predicate, lit(false))))
          .withColumn(BucketCol, rowBucket)
        val version = m.version + 1
        clustered(keep.repartition(math.max(affected.size, 1), col(BucketCol)))
          .write.partitionBy(BucketCol).mode("overwrite").parquet(s"$root/v$version")
        // buckets that became empty still get a manifest entry only if files exist
        val written = writtenBuckets(s"$root/v$version")
        val newBuckets = (m.buckets -- affected) ++
          written.map(b => b -> s"v$version/$BucketCol=$b").toMap
        // deletes only shrink state: a small store stays small, and a large
        // store stays on the pruned path (no re-measuring walk)
        writeManifest(Manifest(version, newBuckets, small = m.small, m.applied))
        deferGcOldVersions(m.buckets, newBuckets)
        refreshCache()
        StateStore.DeleteStats(total, candidates.size, affected.size)
    }
  }

  /** Rewrite state rows matching the predicate with the given assignments
    * (direct matrel UPDATE under matrels_writable — cont_matrel.sql:12-23).
    * Assignment/predicate columns use the USER-facing names from `renames`;
    * the stored schema keeps internal names. Group-key columns cannot be
    * reassigned (bucket placement hashes them). Only buckets holding
    * matching rows are rewritten.
    *
    * @return number of rows updated
    */
  def updateWhere(set: Seq[(String, org.apache.spark.sql.Column)],
      predicate: org.apache.spark.sql.Column,
      renames: Seq[(String, String)] = Nil): Long = this.synchronized {
    flushPendingGc()
    require(set.nonEmpty, "UPDATE requires at least one assignment")
    require(set.map(_._1).distinct.size == set.size,
      "multiple assignments to the same column")
    val badKeys = set.map(_._1).filter(keyCols.contains)
    require(badKeys.isEmpty,
      s"cannot update group-key columns: ${badKeys.mkString(", ")}")
    // hidden infrastructure columns (arrival sequence, raw SW timestamp,
    // grouping ids) are immutable under DML — keyed stores protect theirs
    // via keyCols, append stores have no keys so guard by the reserved
    // prefix (user-facing state columns surface through `renames`)
    val badHidden = set.map(_._1).filter(c =>
      c.startsWith("__") && !c.startsWith("__state_"))
    require(badHidden.isEmpty,
      s"cannot update hidden columns: ${badHidden.mkString(", ")}")
    def toUser(df: DataFrame): DataFrame = renamed(df, renames, toUserNames = true)
    def toInternal(df: DataFrame): DataFrame = renamed(df, renames, toUserNames = false)
    readManifest() match {
      case None => 0L
      case Some(m) =>
        val cur = toUser(readBuckets(None).getOrElse(return 0L))
        set.foreach { case (n, _) =>
          require(cur.columns.contains(n), s"state has no column $n") }
        val pred = coalesce(predicate, lit(false))
        val affected = cur.where(pred).withColumn(BucketCol, rowBucket)
          .select(BucketCol).distinct().collect().map(_.getLong(0).toInt).toSet
        if (affected.isEmpty) return 0L
        val sub = toUser(readBuckets(Some(affected)).get)
        val nUpdated = sub.where(pred).count()
        // one select, all assignments against the OLD row (PG UPDATE
        // semantics: `SET a = b, b = a` swaps); types pinned to the stored
        // column type so the matrel schema can't drift
        val setMap = set.toMap
        val marked = sub.withColumn("__upd", pred)
        val updated = marked.select(sub.columns.map { c =>
          setMap.get(c) match {
            case Some(e) =>
              when(col("__upd"), e.cast(sub.schema(c).dataType))
                .otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
        // assigned columns lose their combine-kind metadata through the
        // when/otherwise projection — re-stamp before persisting
        val out = restampMeta(toInternal(updated)).withColumn(BucketCol, rowBucket)
        val version = m.version + 1
        clustered(out.repartition(math.max(affected.size, 1), col(BucketCol)))
          .write.partitionBy(BucketCol).mode("overwrite").parquet(s"$root/v$version")
        val written = writtenBuckets(s"$root/v$version")
        val newBuckets = (m.buckets -- affected) ++
          written.map(b => b -> s"v$version/$BucketCol=$b").toMap
        writeManifest(Manifest(version, newBuckets, small = m.small, m.applied))
        deferGcOldVersions(m.buckets, newBuckets)
        refreshCache()
        nUpdated
    }
  }

  // ---- footer-stat bucket pruning (deleteWhere prune hint) ----

  // (file, column) → Some(min micros) | None = stats unusable for pruning.
  // Version files are immutable once written, so entries never go stale;
  // flushPendingGc drops entries for deleted version dirs.
  private val footerMinCache = mutable.Map.empty[(String, String), Option[Long]]

  /** Can any row of this state dir have `colName < boundMicros`? Conservative:
    * missing/unusable stats answer true (the dir's buckets get scanned).
    */
  private def dirMayMatchLt(rel: String, colName: String, boundMicros: Long): Boolean = {
    val dir = s"$root/$rel"
    // sfs.list closes its directory handle eagerly: this runs per bucket
    // per reaper pass (1 s cadence) — leaked descriptors reach EMFILE
    val files = sfs.list(dir).filter(_.endsWith(".parquet"))
    files.exists { name =>
      val f = s"$dir/$name"
      footerMinCache.getOrElseUpdate((f, colName),
        readFooterMinMicros(f, colName)) match {
        case None => true // unknown → must scan
        case Some(min) => min < boundMicros
      }
    }
  }

  /** Min of a timestamp column across a parquet file's row groups, in
    * micros since epoch, from footer statistics only (no data pages read).
    * None when stats are absent or the physical/logical type is not a
    * stats-bearing timestamp (e.g. INT96). Long.MaxValue when the file has
    * no non-null values (nothing can match).
    */
  private def readFooterMinMicros(file: String, colName: String): Option[Long] = try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    // a scheme-less path must resolve against the LOCAL fs (plain roots
    // are POSIX by the StoreFs contract), never fs.defaultFS — on a
    // cluster with defaultFS=hdfs:// an unqualified path would silently
    // miss every footer and disable reaper pruning
    val hPath =
      if (graft.io.StoreFs.hasScheme(file))
        new org.apache.hadoop.fs.Path(file)
      else new org.apache.hadoop.fs.Path(
        java.nio.file.Paths.get(file).toUri)
    val in = HadoopInputFile.fromPath(hPath,
      spark.sessionState.newHadoopConf())
    val r = ParquetFileReader.open(in)
    try {
      var min = Long.MaxValue
      val it = r.getFooter.getBlocks.iterator()
      while (it.hasNext) {
        val block = it.next()
        val cc = block.getColumns.asScala.find(_.getPath.toDotString == colName)
          .getOrElse(return None)
        val st = cc.getStatistics
        if (st == null) return None
        if (st.hasNonNullValue) {
          val unitScaled = cc.getPrimitiveType.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              val raw = st.genericGetMin match {
                case l: java.lang.Long => l.longValue()
                case _ => return None
              }
              t.getUnit match {
                case TimeUnit.MICROS => raw
                case TimeUnit.MILLIS => raw * 1000L
                case TimeUnit.NANOS => raw / 1000L
              }
            case _ => return None // INT96 / non-timestamp: no usable stats
          }
          min = math.min(min, unitScaled)
        } else if (block.getRowCount > 0 &&
            (!st.isNumNullsSet || st.getNumNulls < block.getRowCount)) {
          return None // rows present but stats silent about them
        }
      }
      Some(min)
    } finally r.close()
  } catch { case _: Exception => None } // unreadable footer → scan the bucket

  def truncate(): Unit = this.synchronized {
    // drain any in-flight background version-dir deletion first: this walk
    // traverses the SAME tree the deleter is removing entries from, and a
    // racing walk throws NoSuchFileException mid-traversal
    quiesceGc()
    pendingGc = Map.empty // everything below root dies right here
    cachedState.foreach(_.unpersist())
    cachedState = None
    cacheWarm = false
    sfs.deleteRecursively(root)
  }

  /** Version dirs no manifest names any more → the System.nanoTime() after
    * which a mutation may delete them. A dir the superseded manifest named
    * was PUBLISHED: a concurrent reader may have planned a scan of it (an
    * overlay built before this commit runs its action after it), so it is
    * kept for [[StateStore.GcGraceNs]]. An orphan no manifest ever named (a
    * crashed write's dir) has no readers and is due at the next mutation.
    */
  private var pendingGc: Map[String, Long] = Map.empty

  // last background deletion handed to the shared GC thread; relocate()
  // joins it before moving the tree
  private var gcInFlight: Option[java.util.concurrent.Future[_]] = None

  private def deferGcOldVersions(prev: Map[Int, String], next: Map[Int, String]): Unit = {
    def dirsOf(bs: Map[Int, String]) = bs.values.map(_.takeWhile(_ != '/')).toSet
    val (published, keep) = (dirsOf(prev), dirsOf(next))
    val now = System.nanoTime()
    pendingGc = sfs.list(root)
      .filter(n => n.startsWith("v") && !keep.contains(n))
      .map { n =>
        val dir = s"$root/$n"
        dir -> pendingGc.getOrElse(dir,
          if (published(n)) now + StateStore.GcGraceNs else now)
      }.toMap
  }

  /** Hand due superseded version dirs to the shared deletion thread. The
    * footer-stat cache is scrubbed synchronously (cheap map filter, and a
    * stale entry would silently mis-prune); the file walks — the actual I/O,
    * tens of ms per batch on a wide bucket layout — come off the ingest hot
    * path. Mutations are store-serialized and the GC pool is single-threaded,
    * so deletions stay ordered behind the commit that superseded them.
    */
  private def flushPendingGc(): Unit = {
    val now = System.nanoTime()
    val (due, waiting) = pendingGc.partition { case (_, at) => at - now <= 0 }
    if (due.isEmpty) return
    val batch = due.keySet
    pendingGc = waiting
    footerMinCache.filterInPlace { case ((path, _), _) =>
      !batch.exists(d => path.startsWith(d + "/") || path == d)
    }
    val deleter = sfs
    gcInFlight = Some(StateStore.gcPool.submit(new Runnable {
      override def run(): Unit = batch.foreach { dir =>
        // per-dir isolation: one dir's transient IO failure must not leak
        // the REST of the batch (pendingGc no longer references them) —
        // and failures are reported, not swallowed into quiesce joins
        try deleter.deleteRecursively(dir)
        catch { case e: Exception =>
          System.err.println(s"[graft] background GC failed to delete $dir: $e")
        }
      }
    }))
  }
}

object StateStore {
  /** Default small-state threshold (see the `SmallStateBytes` doc). */
  val DefaultSmallStateBytes: Long = 64L * 1024 * 1024

  /** Below this many state bytes a small store's work runs interpreted
    * (see StateStore `smallSpark`). Above it, interpreting a merge costs
    * more than compiling it: at ~0.27 MB of `count/sum/avg` state
    * (10k groups) an interpreted small merge beat codegen with a warm or a
    * cleared codegen cache; at 0.75 MB it ran 10–40% slower than warm and
    * 30% faster than cold codegen; at 2.4 MB it matched cold codegen and
    * ran 1.7–2.2× warm; at 7 MB and 24 MB it lost to both (PERF_NOTES §44).
    */
  val InterpretedStateBytes: Long = 1L * 1024 * 1024

  /** How long a superseded published version dir outlives the commit that
    * superseded it: longer than an overlay read takes from plan to finish. */
  private[cv] val GcGraceNs: Long = 10L * 1000 * 1000 * 1000

  /** Shared single-thread daemon for deferred version-dir deletion: one
    * thread keeps deletions serialized per JVM (orderings within a store
    * already hold because mutations are store-serialized).
    */
  private[cv] val gcPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-state-gc"); t.setDaemon(true); t
    })

  /** Hidden hash-bucket column of the state layout; frames handed to the
    * [[StateStore!.constrain]] hook carry it.
    */
  val BucketCol = "__bucket"

  /** Hidden arrival-sequence columns of append-only stores (the reference's
    * `$pk` sequence, cont_limit.sql): order rows by (batch, row). Batch ids
    * are dense; row ids are partition-monotonic within a batch — a total
    * arrival order without a global sequence bottleneck.
    */
  val PkBatchCol = "__pk_batch"
  val PkRowCol = "__pk_row"

  /** Counters from one deleteWhere pass: how many buckets exist, how many
    * survived footer-stat pruning and were actually scanned, and how many
    * held matching rows and were rewritten.
    */
  final case class DeleteStats(
      totalBuckets: Int, scannedBuckets: Int, rewrittenBuckets: Int)
}
