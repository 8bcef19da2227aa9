package graft.streaming



import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.cv.ContViewEngine
import graft.functions.GraftFunctions
import graft.sketch.BloomFilter

/** The one batch lifecycle of the streaming near-dup gates
  * ([[SimHashNearDupGate]], [[CosineNearDupGate]], [[JaccardNearDupGate]]):
  * a banded (bucket, id [, sketch]) index in range shards joined first,
  * driver-resident bloom/CMS filters fed by one bounded per-batch collect,
  * bloom regrow at compaction, and at-least-once delivery (sink before
  * store append). A subclass supplies only the payload geometry: how to
  * compute it, bucket it, decode it, and compare it — on executors for the
  * stored layout and on the driver for the per-batch decision, with ONE
  * implementation of each piece of math shared between the two sides.
  *
  * Two store shapes share the lifecycle. SPLIT-STORE gates (cosine,
  * jaccard) keep an (id, payload) store beside the index, read only for
  * surfaced candidate ids; the inline sketch is a conservative prefilter.
  * INDEX-ONLY gates (SimHash — [[exactSketch]]) store the whole payload
  * as the inline sketch, so a sketch-admissible index match IS the
  * decision: no payload store, no phase-2 fetch, no id pool.
  *
  * Per-batch flow (zero shuffles — see PERF_NOTES §9): collect the
  * batch's (orderCol, payload) pairs; derive bucket keys, the occupancy
  * cap (CMS as of batch START) and the bloom hits on the driver; pair
  * within the batch by bucket group; read the file-range-pruned,
  * in-set-filtered index for candidate (batch row, store id) pairs; fetch
  * ONLY the candidate payloads (id in-set + file-range prune) and verify
  * with the exact similarity; forward survivors through a narrow in-set
  * filter; append the stores from what the driver already holds.
  *
  * A RESIDENT hot tier ([[ResidentIndex]] + [[ResidentPayloads]],
  * PERF_NOTES §16) sits above the store reads: the per-core index slice
  * and (on the payload-writing core) the id→payload pool, kept in exact
  * sync by the commit hooks, rebuilt from the stores at bootstrap, and
  * byte-budget-bounded. Within budget, phase 1 is in-memory lookups and
  * phase 2 in-memory exact verification — zero store reads per batch and
  * per-batch cost flat in corpus size; on overflow the tier deactivates
  * loudly and the disk paths below run unchanged (the documented
  * fallback regime: O(store) per batch once candidate keys span every
  * range shard).
  * Suppression is "seen"-based and single-shot recomputable; `orderCol`
  * must be unique per stream (shared gate contract).
  *
  * SHARDING (`shardId`/`shardCount`): banded LSH emits one key per
  * band/table POSITION, and a core owns positions ≡ shardId (mod
  * shardCount) — every bucket collision is decided by exactly one core,
  * so G cores' suppressed-set union equals the unsharded set exactly.
  * A sharded core stores only its index-slice (and, for core 0, the
  * SHARED payload store); the batch lifecycle is driven by
  * [[ShardedNearDupGate]] through the [[ShardableGateCore]] hooks — the
  * unsharded gate is the same composition at G=1.
  *
  * `payloadDir`/`payloadPrefix`/`payloadColName` name the payload store
  * (unused — null — for an index-only gate); `idxPrefix`/`skColName` name
  * the index files and its inline sketch column, so each gate keeps the
  * on-disk layout it has always written.
  */
private[graft] abstract class IndexedNearDupGate[P](
    eng: ContViewEngine,
    val name: String,
    orderCol: String,
    sink: String,
    payloadDir: String,
    idxDir: String,
    payloadPrefix: String,
    payloadColName: String,
    idxPrefix: String,
    skColName: String,
    bloomP: Double,
    bloomN0: Int,
    maxBucketSize: Int,
    compactEvery: Int,
    shardId: Int = 0,
    shardCount: Int = 1,
    delivery: String = StreamDedupGate.AtLeastOnce,
    ttlMillis: Long = 0L,
    ttlColumn: String = "",
    backend: String = StreamDedupGate.DriverBackend,
    stateParts: Int = 0,
    residentMb: Long = -1L) extends ShardableGateCore {

  require(shardCount >= 1 && shardId >= 0 && shardId < shardCount,
    s"bad shard assignment $shardId/$shardCount")
  require(delivery == StreamDedupGate.AtLeastOnce ||
    delivery == StreamDedupGate.ExactlyOnce,
    s"unknown delivery mode '$delivery'")
  require(ttlMillis >= 0, s"negative ttl $ttlMillis")
  require(ttlMillis == 0 || ttlColumn.nonEmpty,
    "a windowed gate needs the event-time column: pass ttlColumn")
  require(backend == StreamDedupGate.DriverBackend ||
    backend == StreamDedupGate.ExecutorBackend,
    s"unknown state backend '$backend'")
  require(backend == StreamDedupGate.DriverBackend || shardCount == 1,
    "the executor backend IS the scale-out — it does not compose with " +
      "driver-thread core sharding")

  /** EXECUTOR STATE BACKEND — `backend = "executor"`
    * ([[ExecutorGateIndex]]): phase 1 runs against bucket-partitioned
    * executor-local shards (index entries + sketch digests + event times
    * off the driver heap); the driver keeps NO corpus-sized state — no
    * bucket bloom (the shards answer every under-cap key from memory),
    * no hot tier, no payload pool — only the opt-in CMS occupancy cap
    * and the bounded per-batch rows. Phase 2 fetches candidate payloads
    * from the id-partitioned [[ExecutorPayloadPool]] (misses fall back
    * to the id-pruned store read); payload deltas drain to the shards
    * EVERY batch, even candidate-free ones, so the driver's pending
    * queue stays O(batch). Decision semantics are bit-identical to the
    * driver paths. */
  private val executorBackend = backend == StreamDedupGate.ExecutorBackend

  /** Per-core resident budget: the gate-level `resident_mb` DDL option
    * (catalog-replayed) beats the process-wide env default. The payload
    * pool (core 0) gets the full per-gate figure. */
  private val residentBudgetBytes: Long =
    if (executorBackend) 0L
    else (if (residentMb >= 0) residentMb << 20
          else ResidentIndex.budgetBytes) / shardCount
  private val payloadBudgetBytes: Long =
    if (executorBackend) 0L
    else if (residentMb >= 0) residentMb << 20 else ResidentIndex.budgetBytes

  /** WINDOWED (TTL) MODE — `ttlMillis` > 0 (the near-dup form of
    * [[StreamDedupGate]]'s windowed contract, reaper.c:49-352 semantics):
    * an earlier arrival suppresses a later similar one only when its
    * event time (`ttlColumn`, micros) lies inside the trailing window —
    * suppressed(d) ⇔ ∃ earlier similar d' with d'.ts > d.ts − ttl. Every
    * arrival is stored with its ts (seen-based as ever, so re-crawled
    * content refreshes its own suppressor window), compaction REAPS index
    * and payload rows older than (max seen ts − ttl) — the store, and
    * with it the resident tier, is bounded by the WINDOW instead of the
    * stream's lifetime — and the resident reap mirrors the disk reap at
    * the same fold. Rows with a NULL event time pass through un-stored
    * (an incomparable time can't window). Same watermark caveat as the
    * exact gate: an event arriving more than ttl behind the max seen
    * time may find its suppressor already reaped. Composes with
    * exactly-once delivery (the full-batch spool carries the ts column,
    * so recovery re-derives the windowed appends too). */
  private val ttlEnabled = ttlMillis > 0
  private val ttlMicros = ttlMillis * 1000L
  private var maxSeenTsMicros = Long.MinValue

  @inline private def microsToTs(m: Long): java.sql.Timestamp = {
    val sec = Math.floorDiv(m, 1000000L)
    val t = new java.sql.Timestamp(sec * 1000L)
    t.setNanos((m - sec * 1000000L).toInt * 1000)
    t
  }

  private val exactlyOnce = delivery == StreamDedupGate.ExactlyOnce
  /** The epoch-spool protocol (exactly-once mode; see [[GateEpochs]]) —
    * the unsharded composition; sharded gates run the wrapper's. An
    * index-only gate's payload column is sink payload (`fp`) and stays. */
  private[graft] lazy val epochs = new GateEpochs(eng, name, sink,
    GateStore.child(GateStore.parentOf(idxDir), "spool"), Seq(this),
    dropCols = Seq("__p"))

  private[streaming] override def storeRoots: Seq[String] =
    Seq(idxDir) ++ (if (writesPayload) Seq(payloadDir) else Nil)
  /** Deferred-commit pipeline (at-least-once unsharded batches): store
    * appends + compaction of batch N overlap batch N+1's prepare/collect;
    * [[CommitPipeline]] documents the ordering contract. */
  private val pipeline = new CommitPipeline(s"$name-$shardId", storeRoots)
  /** Test/stats seam: the gate's deferred-commit pipeline (failpoint +
    * lost-commit counter — see [[CommitPipeline]]). */
  private[graft] def commitPipeline: CommitPipeline = pipeline
  private val ingestLock = new Object

  /** Barrier for callers about to read or delete the durable stores
    * (engine drop path, probes): joins any deferred commit. */
  private[graft] def drainCommits(): Unit = pipeline.drain()

  /** Deliver any epoch the last crash interrupted RIGHT NOW (instead of
    * at the next batch head — a quiet stream would otherwise withhold a
    * spool-committed epoch's rows indefinitely). Must not be called while
    * holding engine locks. No-op in at-least-once mode. */
  def recover(): Unit =
    if (exactlyOnce) { pipeline.drain(); synchronized(epochs.recoverPending()) }

  /** The payload column (nullable → row passes through unstored) computed
    * over the transform's projected columns, named `__p`. */
  protected def payloadCol: Column
  /** Executor-side bucket keys of a payload column (the stored layout). */
  protected def keysCol(payload: Column): Column
  /** Driver-side payload decode from a collected row's position 1. */
  protected def payloadOf(r: Row): P
  /** Driver-side bucket keys — the same math as [[keysCol]]. */
  protected def keysOf(p: P): Array[Long]
  /** Whether the batch collect evaluates [[keysCol]]/[[sketchColOf]] in
    * the collect job (executors) instead of [[keysOf]]/[[sketchOf]] on the
    * driver. Turn on for gates whose key math is real per-row compute
    * (cosine's SRP projections); leave off where the key bytes shipped
    * would cost more than the driver math saved (bit slices, band folds).
    * Either way the stored keys are identical — the seeding path writes
    * the index through [[keysCol]] already. */
  protected def keysInCollect: Boolean = false
  /** Whether the inline sketch IS the payload and [[sketchAdmissible]] IS
    * [[similar]] (SimHash: the fingerprint at Hamming radius maxDist). An
    * exact-sketch gate decides every store match in phase 1: it writes no
    * payload store, runs no phase-2 fetch, and its resident tier and
    * executor shards keep no id pool (16-byte entries). Its batch frame
    * carries the payload under [[skColName]], which reaches the sink. */
  protected def exactSketch: Boolean = false
  /** The batch frame's payload column: internal `__p`, or the sink-visible
    * sketch column of an exact-sketch gate. */
  private val pCol = if (exactSketch) skColName else "__p"
  /** Rows of the previous live collected batch (−1 before the first), the
    * input-derived signal [[prepareBatch]]'s task sizing adapts to. */
  @volatile private var lastCollectedRows: Long = -1L
  /** The exact similarity predicate (driver-side). */
  protected def similar(a: P, b: P): Boolean
  /** Executor-side form of [[similar]] for the distributed verify fallback
    * (pruned payload slice beyond the driver byte bound): a boolean Column
    * over (full-precision batch payload, store payload decoded by
    * [[readPayloadCol]]). Must agree with [[similar]]. */
  protected def similarCol(batchPayload: Column, storePayload: Column): Column
  /** Full-precision external form of a batch payload (the distributed
    * fallback ships it; matches what the driver path compares). */
  protected def externalPayloadOf(p: P): Any
  /** The external Spark type [[externalPayloadOf]] produces. */
  protected def externalPayloadType: org.apache.spark.sql.types.DataType
  /** The payload-store value column (may change precision for storage). */
  protected def storedPayloadCol: Column = col(pCol)
  /** The payload-store read column, decoded back for [[payloadOf]]. */
  protected def readPayloadCol(c: Column): Column = c
  /** Driver-side form of [[storedPayloadCol]] for one payload (the
    * per-batch append is built from the rows the driver already holds —
    * no executor recompute of the payload/key expressions). */
  protected def storedPayloadOf(p: P): Any
  /** The external Spark type [[storedPayloadOf]] produces. */
  protected def storedPayloadType: org.apache.spark.sql.types.DataType
  /** The gate family's `graft_gate_stats` kind (also the per-batch
    * observation-name prefix). */
  private[graft] def kind: String

  // ---- resident hot tier (see ResidentIndex scaladoc) --------------------

  /** Compact resident form of a payload (stored precision — verification
    * through the pool must agree with the disk round-trip). */
  protected def residentPayloadOf(p: P): AnyRef
  /** Decode a payload-store ROW (position 1 = the raw stored column) to
    * the resident form — the pool-rebuild read. */
  protected def residentPayloadOfRow(r: Row): AnyRef
  /** Back to the comparison form [[similar]] runs on. */
  protected def payloadOfResident(a: AnyRef): P
  /** Approximate heap bytes of one resident payload (budget accounting). */
  protected def residentPayloadBytes(a: AnyRef): Int

  /** Optional per-row index SKETCH: a compact (64-bit) similarity digest
    * stored inline in the (bucket, id) index and compared BEFORE any
    * payload fetch, so phase-2 cost tracks true near-dups instead of
    * bucket coincidences — bucket-mates are verified payload-free at
    * 8 bytes a row. [[sketchColOf]] (executor, stored layout) and
    * [[sketchOf]] (driver) must compute the same digest;
    * [[sketchAdmissible]]/[[sketchAdmissibleCol]] must accept every true
    * near-pair at the gate's threshold (a conservative prefilter — any
    * miss it introduces multiplies the gate's recall floor and must be
    * documented by the subclass). None (the default) stores no sketch. */
  protected def sketchColOf: Option[Column => Column] = None
  /** Driver-side digest of a batch payload — same math as [[sketchColOf]]. */
  protected def sketchOf(p: P): Long = 0L
  /** Driver-side prefilter: may the two digests belong to a near-pair? */
  protected def sketchAdmissible(a: Long, b: Long): Boolean = true
  /** Executor-side form of [[sketchAdmissible]] (distributed fallback). */
  protected def sketchAdmissibleCol(a: Column, b: Column): Column = lit(true)

  /** Sharded cores read their stores through a CLONED session (shared
    * SparkContext, isolated SQLConf): concurrent cores each scope their
    * own parquet In-pushdown raise (GateStore.withInPushdown mutates
    * session conf — a shared session would race), and isolated conf also
    * avoids cross-core planner-state contention. The unsharded gate keeps
    * the engine session (no concurrency, and its plans stay visible to
    * session-level debugging). */
  private lazy val coreSession =
    if (shardCount == 1) eng.spark else eng.spark.newSession()

  // null on the executor backend — NO corpus-sized driver structure exists
  // there at all, and an accidental probe/add fails loudly instead of
  // silently regrowing to store size
  private var bloom: BloomFilter =
    if (executorBackend) null else BloomFilter.empty(bloomP, bloomN0)
  private var bloomN = bloomN0
  /** Spec seam: the driver bucket bloom (must be null on the executor
    * backend — the round-12 overclaim this nulling closes). */
  private[graft] def driverBloomForSpec: BloomFilter = bloom
  // Hot-bucket guard (opt-in, the SimHash.nearDuplicates cap's streaming
  // form): a boilerplate-heavy crawl floods banded buckets and candidate
  // generation goes quadratic in the flood. With a cap, buckets whose SEEN
  // occupancy exceeds it stop generating candidates. Occupancy is a driver
  // CountMinSketch (overestimates only ⇒ may exclude a near-cap bucket
  // early, never lets a flooded one through) read as of batch START, so a
  // batch's own rows don't cap each other and the admitted set stays
  // deterministic. Recall contract: a pair agreeing ONLY in flooded
  // buckets is missed — chosen explicitly by setting the cap.
  private val bucketCounts: graft.sketch.CountMinSketch =
    if (maxBucketSize == Int.MaxValue) null
    else graft.sketch.CountMinSketch.empty()
  private var batches = 0L
  private var admitted = 0L
  private var suppressed = 0L

  // Resident hot tier: the per-core index slice (ord → residentIds pool)
  // and, on the payload-writing core, the shared payload pool. The parquet
  // stores stay the durable truth; these are budget-bounded caches kept in
  // exact sync by the commit hooks (and rebuilt from disk after the bulk
  // seeding path marks them stale). resident.active=false ⇒ the original
  // disk paths run unchanged. An exact-sketch gate's decision needs no
  // store ids: its entries carry an ord only when windowed (ts pool).
  private val resident = new ResidentIndex(hasOrd = !exactSketch || ttlEnabled,
    residentBudgetBytes) // 0 (disabled) on the executor backend
  private val residentIds = new scala.collection.mutable.ArrayBuffer[Any]()
  // per-ord event time (micros) — windowed mode only; aligned with
  // residentIds when the gate keeps ids
  private val residentTs = new scala.collection.mutable.ArrayBuffer[Long]()
  // budget bytes charged per pool slot (id object + boxes, or one ts)
  private val poolSlotBytes = if (exactSketch) 8 else 48
  private val payloadPool: ResidentPayloads =
    if (writesPayload && !executorBackend)
      new ResidentPayloads(payloadBudgetBytes) else null
  private var residentStale = false

  /** Executor-partitioned phase-1 state (executor backend only); lazy so
    * the subclass's sketch geometry is initialized before `sketchColOf`
    * is consulted. */
  private lazy val execIdx: ExecutorGateIndex =
    if (!executorBackend) null
    else new ExecutorGateIndex(eng.spark, idxDir,
      if (stateParts > 0) stateParts else ExecutorGateIndex.defaultParts(eng.spark),
      ttlEnabled, withIds = !exactSketch,
      auxCol = sketchColOf.map(_ => skColName))
  /** Probe/spec seam: the distributed index (null on the driver backend). */
  private[graft] def executorIndex: ExecutorGateIndex = execIdx
  /** (backend, resolved executor shard count — 0 on the driver tier):
    * the `graft_gate_stats` placement columns. */
  private[graft] def backendInfo: (String, Int) =
    (backend, if (execIdx == null) 0 else execIdx.parts)
  /** Probe/spec seam: the executor payload pool (null on the driver
    * backend and on non-payload-writing cores). */
  private[graft] def executorPayloads: ExecutorPayloadPool = execPay

  /** Executor-resident payload pool (executor backend, payload-writing
    * core): phase 2's candidate fetch becomes memory lookups on the
    * shards, payloads ship back ONLY for candidates, and the exact
    * verification stays [[similar]] on the driver — one implementation of
    * the math. The stored-form decoder is inferred from
    * [[storedPayloadType]] (an array copy, mirrored nowhere). */
  private lazy val execPay: ExecutorPayloadPool =
    if (!executorBackend || !writesPayload) null
    else {
      val dec = storedPayloadType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _) => LongsPayload
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => FloatsPayload
        case other => throw new IllegalStateException(
          s"no executor payload decoder for stored type $other")
      }
      new ExecutorPayloadPool(eng.spark, payloadDir,
        if (stateParts > 0) stateParts
        else ExecutorGateIndex.defaultParts(eng.spark),
        payloadColName, dec)
    }

  /** The executor probe's popcount cutoff over the inline sketch digests —
    * must accept every pair [[sketchAdmissible]] accepts (64 ≡ pass-all
    * for a sketchless gate). Subclasses with a sketch override with their
    * calibrated cutoff. */
  protected def executorSketchCutoff: Int = 64

  /** Test/probe seam: (tier active, index entries, ~budget bytes, pool
    * slots — ids, or timestamps for an exact-sketch gate — payload-pool
    * active) — the TTL pool-compaction specs assert the budget SHRINKS
    * with the window instead of accreting dead slots. */
  private[graft] def residentStats: (Boolean, Int, Long, Int, Boolean) =
    synchronized((resident.active, resident.size, resident.approxBytes,
      if (exactSketch) residentTs.length else residentIds.length,
      payloadPool == null || payloadPool.active))

  /** A new resident pool slot for one stored document: its id (phase 2
    * fetches by id) unless the sketch is exact, its event time when
    * windowed; -1 when the entry needs neither. */
  private def newOrd(id: Any, tsMicros: Long): Int =
    if (exactSketch && !ttlEnabled) -1
    else {
      if (!exactSketch) residentIds += id
      if (ttlEnabled) residentTs += tsMicros
      resident.addExtraBytes(poolSlotBytes)
      math.max(residentIds.length, residentTs.length) - 1
    }

  /** Bulk (non-driver) store writes invalidate the resident tier; the next
    * decide (or bootstrap) rebuilds it from disk inside the gate's lock. */
  private def rebuildResident(): Unit = {
    residentStale = false
    if (resident.active) {
      resident.reset()
      // both pools clear together, unconditionally: a rebuild over an
      // EMPTY store (e.g. a reap folded everything away) must not leave
      // stale timestamps behind an empty id pool — the next live append
      // pairs ord = residentIds.length with residentTs.length
      residentIds.clear()
      residentTs.clear()
      val files = GateStore.files(idxDir)
      if (files.nonEmpty) {
        val df = coreSession.read.parquet(files: _*)
        val n = df.count()
        if (n * (if (exactSketch) 16 else 24) > residentBudgetBytes) {
          System.err.println(s"[graft] ${getClass.getSimpleName}($name): " +
            s"index slice at $n entries exceeds the resident budget — " +
            "running on the O(store)/batch disk path. " +
            IndexedNearDupGate.overflowAdvice)
          resident.deactivate()
        } else {
          // an exact-sketch gate reads no ids, so each windowed ENTRY gets
          // its own ts slot; the others share one slot per document id
          val ordOf = new java.util.HashMap[Any, Integer]()
          val cols = Seq(col("bucket")) ++ (if (exactSketch) Nil else Seq(col("id"))) ++
            sketchColOf.map(_ => col(skColName)) ++
            (if (ttlEnabled) Seq(unix_micros(col("ts"))) else Nil)
          val skPos = cols.length - (if (ttlEnabled) 2 else 1)
          val tsPos = cols.length - 1
          val it = df.select(cols: _*).toLocalIterator()
          while (it.hasNext && resident.active) {
            val r = it.next()
            val ts = if (ttlEnabled) r.getLong(tsPos) else 0L
            val ord =
              if (exactSketch) newOrd(null, ts)
              else ordOf.computeIfAbsent(r.get(1),
                id => Integer.valueOf(newOrd(id, ts))).intValue
            resident.add(r.getLong(0),
              if (sketchColOf.isEmpty) 0L else r.getLong(skPos), ord)
            ()
          }
          resident.mergeDelta()
        }
      }
    }
    if (payloadPool != null && payloadPool.active) {
      payloadPool.reset()
      val files = GateStore.files(payloadDir)
      if (files.nonEmpty) {
        val it = coreSession.read.parquet(files: _*)
          .select(col("id"), col(payloadColName)).toLocalIterator()
        while (it.hasNext && payloadPool.active) {
          val r = it.next()
          if (!r.isNullAt(0)) {
            val p = residentPayloadOfRow(r)
            payloadPool.put(r.get(0), p, residentPayloadBytes(p))
          }
        }
      }
    }
  }

  @inline private def ensureResident(): Unit =
    if (residentStale) traced("resident-rebuild")(rebuildResident())

  /** (batches, admitted survivors, suppressed near-duplicates) so far
    * (sharded cores don't count — their wrapper does). */
  def stats: (Long, Long, Long) = synchronized((batches, admitted, suppressed))

  // ---- key-position ownership --------------------------------------------

  @inline private def writesPayload: Boolean = shardId == 0 && !exactSketch

  /** The core's slice of a payload's banded keys (all of them at G=1). */
  private def sliceOwned(ks: Array[Long]): Array[Long] =
    if (shardCount == 1) ks
    else {
      val out = new Array[Long]((ks.length - shardId + shardCount - 1) / shardCount)
      var i = shardId
      var k = 0
      while (i < ks.length) { out(k) = ks(i); k += 1; i += shardCount }
      out
    }

  /** Executor-side form of [[ownedKeysOf]]. */
  private def ownedKeysCol(payload: Column): Column = {
    val ks = keysCol(payload)
    if (shardCount == 1) ks
    else filter(ks, (_, i) => i % lit(shardCount) === lit(shardId))
  }

  private[streaming] def bootstrap(): Unit = {
    // same-JVM restart fixtures: wait out any deferred commit an abandoned
    // instance of this store still has in flight (a real crash would just
    // lose it — at-least-once)
    CommitPipeline.drainRoots(storeRoots)
    bootstrapLocked()
  }

  private def bootstrapLocked(): Unit = synchronized {
    val files = GateStore.files(idxDir)
    if (shardCount == 1 && writesPayload && files.isEmpty &&
        GateStore.files(payloadDir).nonEmpty)
      throw new IllegalStateException(
        s"$name: payload store at $payloadDir exists without its " +
          s"(bucket, id) index at $idxDir — a pre-split-layout store; " +
          "rebuild the index (one pass re-keying the payloads) before " +
          "restarting this gate")
    if (files.nonEmpty)
      require(eng.spark.read.parquet(files: _*).columns.contains("bucket"),
        s"$name: index store at $idxDir predates the exploded (bucket, id, " +
          "...) layout — re-band it (one pass re-exploding the stored " +
          "payloads) before restarting this gate")
    if (files.nonEmpty && !executorBackend) {
      // right-size FIRST (metadata-only count): a corpus-sized index under
      // the construction-time design n would run the filter saturated
      // until the next compaction regrew it
      bloomN = GateStore.bloomSizeFor(
        eng.spark.read.parquet(files: _*).count(), bloomN)
      val keys = eng.spark.read.parquet(files: _*).select(col("bucket"))
      val row =
        if (bucketCounts == null)
          keys.agg(GraftFunctions.bloom_agg(col("bucket"), bloomP, bloomN).as("b"))
            .collect()(0)
        else
          keys.agg(GraftFunctions.bloom_agg(col("bucket"), bloomP, bloomN).as("b"),
            GraftFunctions.freq_agg(col("bucket")).as("c")).collect()(0)
      bloom = BloomFilter.empty(bloomP, bloomN)
      bloom.union(BloomFilter.deserialize(row.getAs[Array[Byte]]("b")))
      if (bucketCounts != null)
        bucketCounts.merge(
          graft.sketch.CountMinSketch.deserialize(row.getAs[Array[Byte]]("c")))
    } else if (files.nonEmpty && bucketCounts != null) {
      // executor backend: no driver bloom at all (the shards answer every
      // under-cap key from memory); only the opt-in CMS cap rebuilds
      val row = eng.spark.read.parquet(files: _*).select(col("bucket"))
        .agg(GraftFunctions.freq_agg(col("bucket")).as("c")).collect()(0)
      bucketCounts.merge(
        graft.sketch.CountMinSketch.deserialize(row.getAs[Array[Byte]]("c")))
    }
    batches = storeMaxBatch
    if (ttlEnabled) {
      val fs = GateStore.files(idxDir)
      if (fs.nonEmpty) {
        val r = eng.spark.read.parquet(fs: _*)
          .agg(max(unix_micros(col("ts")))).collect()(0)
        if (!r.isNullAt(0)) maxSeenTsMicros = r.getLong(0)
      }
    }
    rebuildResident() // restart resumes the hot tier from the stores
    if (exactlyOnce && shardCount == 1) {
      // store half only — sink delivery at the next batch head (the DDL
      // replay path holds the engine's registration lock here)
      epochs.recoverStores()
      batches = math.max(batches, epochs.maxEpoch())
    }
  }

  /** Append pre-keyed rows straight into the seen-stores (bloom/CMS
    * updated, nothing forwarded) — the scale-probe's seeding hook. */
  private[graft] def seedStore(rows: DataFrame): Unit = {
    pipeline.drain() // no interleaving with a deferred batch commit
    seedStoreLocked(rows)
  }

  private def seedStoreLocked(rows: DataFrame): Unit = synchronized {
    batches += 1
    val keyed = rows.withColumn(pCol, payloadCol)
      .where(col(pCol).isNotNull && col(orderCol).isNotNull)
      .persist()
    try {
      appendStores(keyed)
      residentStale = true // bulk write bypassed the hot tier — rebuild lazily
      if (executorBackend) {
        execIdx.invalidate() // ... and the exec shards
        if (execPay != null) execPay.invalidate()
      }
    } finally { keyed.unpersist(); () }
  }

  private def appendStores(keyed0: DataFrame): Unit = {
    // payloads first, index second: a crash in between leaves payloads
    // with no index entry, which the batch's retry re-appends (duplicates
    // are tolerated downstream of every store read). Null order ids are
    // never stored — see decideBatch.
    val keyed1 = keyed0.where(col(orderCol).isNotNull)
    val keyed = if (!ttlEnabled) keyed1
      else keyed1.where(col(ttlColumn).isNotNull)
    val tsCols: Seq[Column] =
      if (ttlEnabled) Seq(col(ttlColumn).cast("timestamp").as("ts")) else Nil
    if (writesPayload) GateStore.append(
      keyed.select(Seq(col(orderCol).as("id"),
        storedPayloadCol.as(payloadColName)) ++ tsCols: _*),
      payloadDir, payloadPrefix, batches, sortCol = Some("id"))
    // the payload append above materialized the persisted frame; the index
    // append and the driver-filter bucket collect are now independent reads
    // of the executor cache — run them as CONCURRENT jobs (guide §2.6:
    // overlap independent jobs) instead of back-to-back. The payload-first
    // crash invariant is untouched; a crash between/among the two leaves
    // either an index-less payload (re-appended on retry) or a filter-less
    // index (the bloom is rebuilt from the index at the next compact/
    // bootstrap — both already-tolerated states of the bulk-seed path).
    // executor backend with no occupancy cap: no driver filter exists, so
    // the O(seed) bucket collect is skipped entirely. The overlap is only
    // sound when the payload append above MATERIALIZED the persisted frame
    // — without it the two jobs race to populate the cache and compute the
    // same partitions twice, losing the overlap's point (the results stay
    // correct either way); payload-less gates run the two jobs in sequence.
    val needFilters = !executorBackend || bucketCounts != null
    val sc = keyed.sparkSession.sparkContext
    // propagate the caller's job group (thread-local) so a bench probe
    // deadline's cancelJobGroup still reaches the overlapped job; a caller
    // with NO group gets a private one so the failure path below can still
    // cancel the overlapped job (not just interrupt its await thread)
    val callerGroup = sc.getLocalProperty("spark.jobGroup.id")
    val overlapGroup =
      if (callerGroup != null) callerGroup
      else s"graft-gate-seed-$name-${System.nanoTime()}"
    val collectFut: Option[java.util.concurrent.Future[Array[Long]]] =
      if (!needFilters || !writesPayload) None
      else {
        val desc = sc.getLocalProperty("spark.job.description")
        val interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
        Some(seedPool.submit(() => {
          sc.setJobGroup(overlapGroup,
            if (desc == null) "" else desc,
            interruptOnCancel = callerGroup == null || interrupt == "true")
          try keyed.select(explode(ownedKeysCol(col(pCol))).as("bucket"))
            .collect().map(_.getLong(0))
          finally sc.clearJobGroup()
        }))
      }
    // the overlapped collect must not outlive a failure in the index append
    // or the ttl agg below: a leaked background job would keep running
    // after seedStoreLocked's finally unpersists `keyed` (forcing a full
    // recompute) and would poison exactly what a bench probe deadline
    // measures next — cancel-or-await on every exit path
    var seedOk = false
    try {
      val idxCols = Seq(explode(ownedKeysCol(col(pCol))).as("bucket"),
        col(orderCol).as("id")) ++
        sketchColOf.map(f => f(col(pCol)).as(skColName)) ++ tsCols
      GateStore.append(
        keyed.select(idxCols: _*),
        idxDir, idxPrefix, batches, sortCol = Some("bucket"))
      if (ttlEnabled) {
        val r = keyed.agg(max(unix_micros(col(ttlColumn).cast("timestamp"))))
          .collect()(0)
        if (!r.isNullAt(0) && r.getLong(0) > maxSeenTsMicros)
          maxSeenTsMicros = r.getLong(0)
      }
      seedOk = true
    } finally {
      collectFut match {
        case Some(f) if !seedOk =>
          // failure path: CANCEL the overlapped job (group cancel — an
          // interrupt on the await thread alone would orphan the running
          // job) and AWAIT it so nothing of this seed chunk is still
          // running when the caller sees the exception; the overlap's own
          // failure is secondary — swallowed
          // (no f.cancel: a cancelled FutureTask's get() returns
          // immediately WITHOUT waiting for the worker — the group cancel
          // is what stops the job, and the bounded get is the real await)
          sc.cancelJobGroup(overlapGroup)
          try { f.get(30, java.util.concurrent.TimeUnit.SECONDS); () }
          catch { case _: Throwable => () }
        case _ => ()
      }
    }
    if (needFilters && collectFut.isEmpty)
      // payload-less path: sequential bucket collect over the frame the
      // index append just materialized
      updateFilters(keyed
        .select(explode(ownedKeysCol(col(pCol))).as("bucket"))
        .collect().map(_.getLong(0)))
    collectFut.foreach { f =>
      // surface the ORIGINAL failure, not the ExecutionException wrapper
      val buckets =
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException
              if e.getCause != null => throw e.getCause
        }
      updateFilters(buckets)
    }
  }

  // one shared lazy worker for the seed-path overlap above (bulk seeding is
  // rare and serialized under the gate monitor — a single daemon thread
  // suffices and dies with the JVM)
  private lazy val seedPool = java.util.concurrent.Executors
    .newSingleThreadExecutor(r => {
      val t = new Thread(r, s"graft-gate-seed-$name"); t.setDaemon(true); t
    })

  /** Driver-side filter update from the batch's bucket keys (with
    * multiplicity, for the CMS): every stored row's buckets are exactly
    * this multiset, so the bloom ⊇ store invariant stays exact. Executor
    * backend: no bloom (the shards ARE the membership state); only the
    * opt-in CMS occupancy cap updates. */
  private def updateFilters(buckets: Array[Long]): Unit = {
    if (executorBackend && bucketCounts == null) return
    var i = 0
    val seen =
      if (executorBackend) null else new java.util.HashSet[java.lang.Long]()
    while (i < buckets.length) {
      val b = buckets(i)
      if (seen != null && seen.add(b)) bloom.add(b)
      if (bucketCounts != null) bucketCounts.add(b)
      i += 1
    }
  }

  // opt-in phase timing on stderr (GRAFT_GATE_TRACE=1) — dev diagnosis only
  private val trace = sys.env.get("GRAFT_GATE_TRACE").contains("1")
  @inline protected final def traced[T](label: String)(f: => T): T =
    if (!trace) f
    else {
      val t0 = System.nanoTime()
      val out = f
      System.err.println(f"[gate-trace] $name%s $label%s ${(System.nanoTime() - t0) / 1e3}%.0f us")
      out
    }

  // ---- the batch lifecycle (ShardableGateCore) ---------------------------

  /** Per-batch decision state handed from [[decideBatch]] to
    * [[verifySharedPairs]] and the commit hooks (the wrapper forwards
    * survivors in between). `pairs` maps candidate STORE ids to the batch
    * row indices they must be exact-verified against — phase 2 runs once
    * over the union across cores (the payload store is shared). */
  private[streaming] final class BatchCtx(
      private[streaming] val keyed: DataFrame,
      private[streaming] val rows: Array[(Any, P)],
      private[streaming] val rowKeys: Array[Array[Long]],
      private[streaming] val rowSks: Array[Long],
      private[streaming] val sup: java.util.HashSet[Any],
      private[streaming] val pairs: java.util.HashMap[Any, java.util.HashSet[Integer]],
      private[streaming] val rowTs: Array[Long] = null,
      private[streaming] val storeTs: java.util.HashMap[Any, java.lang.Long] = null)

  private[streaming] def prepareBatch(batch: DataFrame,
      obs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val base = batch.drop("arrival_timestamp")
    val observed = obs.fold(base)(o => base.observe(o, count(lit(1)).as("rows")))
    val projected = observed.withColumn(pCol, payloadCol)
    // Scale-adaptive task sizing for the per-batch jobs (round 19, guide
    // §2.2/§6): every row of this frame lands on the driver via the batch
    // collect anyway, so tasks beyond ~rowsPerTask rows each add scheduler
    // round-trips (the dominant slice of the serial batch collect at probe
    // scale: 64 sub-200-row tasks) without any parallelism benefit. Target
    // = ceil(previous batch's collected rows / rowsPerTask) — derived from
    // observed input, not a local-mode constant; coalesce() never raises a
    // frame's partition count, so an oversized target only no-ops. With no
    // usable history — the first batch, or an empty/fully-filtered one,
    // which says nothing about the next burst's size — the caller's
    // partitioning stays: coalesce(1) after an empty batch would run a
    // whole burst through one task.
    val prev = lastCollectedRows
    val perTask = IndexedNearDupGate.CollectRowsPerTask
    val shaped =
      if (prev <= 0) projected
      else projected.coalesce(
        ((prev + perTask - 1) / perTask).min(Int.MaxValue.toLong).toInt)
    shaped.persist()
  }

  /** Batch rows plus the FULL banded key set and sketch per row, computed
    * ONCE — sharded cores slice positions out of `fullKeys` instead of
    * re-running the plane/band math G times. */
  private[streaming] final class CollectedRows(
      private[streaming] val rows: Array[(Any, P)],
      private[streaming] val fullKeys: Array[Array[Long]],
      private[streaming] val sks: Array[Long],
      private[streaming] val tss: Array[Long]) // micros; null when unwindowed

  /** The live batch collect (this gate's and the sharded wrapper's
    * onBatch): [[collectRows]], recording the row count that sizes the
    * next batch's tasks. */
  private[streaming] def collectBatchRows(keyed: DataFrame): AnyRef = {
    val c = collectRows(keyed)
    lastCollectedRows = c.rows.length.toLong
    c
  }

  private def collectRows(keyed: DataFrame): CollectedRows =
    traced("collect") {
      // rows with a null order id pass through, are never stored and
      // never suppress: the suppression filter could not target them, and
      // a stored null id could not be fetched back by the candidate-id
      // pushdown — excluding them keeps every code path consistent
      // (orderCol is contractually unique and non-null anyway)
      // windowed mode also drops null-event-time rows (they pass through
      // un-stored — an incomparable time can't window) and collects micros
      val base = keyed.where(col(pCol).isNotNull && col(orderCol).isNotNull)
      val filtered = if (!ttlEnabled) base
        else base.where(col(ttlColumn).isNotNull)
      // keysInCollect (round 19): gates whose key/sketch math is real
      // per-row compute (the cosine gate's SRP dot products) evaluate it
      // INSIDE the collect job — the executors run the exact same
      // expression the seeding path already writes the index with
      // (keysCol/sketchColOf ≡ keysOf/sketchOf is a store invariant) — so
      // the driver stops being the single thread doing O(batch · dim ·
      // tables · bits) flops per batch (guide §5: the driver should do
      // almost no data work). Gates with trivial key math (bit slices,
      // band folds) keep the driver spelling: shipping their key arrays
      // would cost more in collect bytes than the driver math saves.
      val distKeys = keysInCollect
      val keyCols =
        if (!distKeys) Nil
        else Seq(keysCol(col(pCol)).as("__ks")) ++
          sketchColOf.map(f => f(col(pCol)).as("__sk")).toSeq
      val cols = Seq(col(orderCol), col(pCol)) ++ keyCols ++
        (if (ttlEnabled)
          Seq(unix_micros(col(ttlColumn).cast("timestamp"))) else Nil)
      val collected = filtered.select(cols: _*).collect()
      val rows = collected.map(r => (r.get(0), payloadOf(r)))
      val tsPos = cols.length - 1
      if (distKeys) {
        val skPos = if (sketchColOf.isEmpty) -1 else 3
        new CollectedRows(rows,
          collected.map { r =>
            val s = r.getSeq[Long](2)
            val out = new Array[Long](s.length)
            var i = 0
            while (i < out.length) { out(i) = s(i); i += 1 }
            out
          },
          if (skPos < 0) null else collected.map(_.getLong(skPos)),
          if (!ttlEnabled) null else collected.map(_.getLong(tsPos)))
      } else
        new CollectedRows(rows, rows.map(r => keysOf(r._2)),
          if (sketchColOf.isEmpty) null else rows.map(r => sketchOf(r._2)),
          if (!ttlEnabled) null else collected.map(_.getLong(tsPos)))
    }

  private[streaming] def suppressedOf(ctx: AnyRef): java.util.HashSet[Any] =
    ctx.asInstanceOf[BatchCtx].sup

  private[streaming] def survivorsOf(keyed: DataFrame,
      sup: java.util.HashSet[Any]): DataFrame =
    // the internal payload column goes; an exact-sketch gate's (`fp`) is
    // the sink payload its DDL declares and stays
    GateStore.exceptIds(keyed, orderCol, sup.toArray).drop("__p")

  private[streaming] def orderColName: String = orderCol

  private[streaming] override def storeMaxBatch: Long =
    math.max(GateStore.maxBatch(idxDir, idxPrefix),
      if (writesPayload) GateStore.maxBatch(payloadDir, payloadPrefix) else 0L)

  private[streaming] override def commitRecovered(spooled: DataFrame,
      epoch: Long): Unit = synchronized {
    val needPay = writesPayload &&
      GateStore.maxBatch(payloadDir, payloadPrefix) < epoch
    val needIdx = GateStore.maxBatch(idxDir, idxPrefix) < epoch
    if (batches < epoch) batches = epoch
    if (needPay || needIdx) {
      // the spool carries the payload column — re-derive keys/sketches
      // with the same driver math as a live batch and replay the commit
      // hooks (a replay's size says nothing about the live stream's)
      val collected = collectRows(spooled)
      val ctx = new BatchCtx(spooled, collected.rows,
        collected.fullKeys.map(sliceOwned), collected.sks,
        new java.util.HashSet[Any](),
        new java.util.HashMap[Any, java.util.HashSet[Integer]](),
        rowTs = collected.tss)
      if (needPay) commitPayloadBatch(ctx)
      if (needIdx) commitIndexBatch(ctx)
    }
  }

  private[streaming] def decideBatch(keyed: DataFrame, rows0: AnyRef): AnyRef =
    synchronized { traced("decide") {
      batches += 1
      ensureResident()
      val s = coreSession
      val collected = rows0.asInstanceOf[CollectedRows]
      val rows = collected.rows
      val rowKeys: Array[Array[Long]] = collected.fullKeys.map(sliceOwned)
      val rowSks: Array[Long] = collected.sks
      val overCapSet: java.util.HashSet[java.lang.Long] = {
        val set = new java.util.HashSet[java.lang.Long]()
        if (bucketCounts != null) {
          val seen = new java.util.HashSet[java.lang.Long]()
          rowKeys.foreach(_.foreach { b =>
            if (seen.add(b) && bucketCounts.estimate(b) > maxBucketSize) set.add(b)
          })
        }
        set
      }
      // within-batch: group rows by under-cap owned bucket, verify within
      // groups (exact similarity — sketch prefiltering is for STORE
      // candidates; in-memory payloads verify directly)
      val suppressedSet = new java.util.HashSet[Any]()
      locally {
        val byBucket = new java.util.HashMap[java.lang.Long, java.util.ArrayList[Integer]]()
        var i = 0
        while (i < rows.length) {
          rowKeys(i).foreach { b =>
            if (!overCapSet.contains(b))
              byBucket.computeIfAbsent(b, _ => new java.util.ArrayList[Integer]()).add(i)
          }
          i += 1
        }
        byBucket.forEach { (_, list) =>
          if (list.size >= 2) {
            var a = 0
            while (a < list.size) {
              var b = a + 1
              while (b < list.size) {
                val (ia, ib) = (list.get(a), list.get(b))
                // windowed mode: the EARLIER arrival (by orderCol) is the
                // suppressor, and only if its event time falls inside the
                // target's trailing window
                @inline def inWindow(sup: Int, tgt: Int): Boolean =
                  !ttlEnabled ||
                    collected.tss(sup) > collected.tss(tgt) - ttlMicros
                if (similar(rows(ia)._2, rows(ib)._2)) {
                  if (GateStore.lt(rows(ia)._1, rows(ib)._1)) {
                    if (inWindow(ia, ib)) { suppressedSet.add(rows(ib)._1); () }
                  } else if (GateStore.lt(rows(ib)._1, rows(ia)._1)) {
                    if (inWindow(ib, ia)) { suppressedSet.add(rows(ia)._1); () }
                  }
                }
                b += 1
              }
              a += 1
            }
          }
        }
      }
      val pairs = new java.util.HashMap[Any, java.util.HashSet[Integer]]()
      val storeTs: java.util.HashMap[Any, java.lang.Long] =
        if (ttlEnabled) new java.util.HashMap[Any, java.lang.Long]() else null
      // one sketch-admissible store match (batch row ri vs stored entry id
      // at event time ts): an exact sketch decides it here — in window ⇒ ri
      // is suppressed; otherwise the pair queues for phase-2 verification
      // against the stored payload (the window checked there)
      def matched(ri: Int, id: Any, ts: Long): Unit =
        if (exactSketch) {
          if (!ttlEnabled || ts > collected.tss(ri) - ttlMicros)
            suppressedSet.add(rows(ri)._1)
          ()
        } else {
          if (ttlEnabled) {
            val prev = storeTs.get(id)
            if (prev == null || ts > prev.longValue) storeTs.put(id, ts)
          }
          pairs.computeIfAbsent(id, _ => new java.util.HashSet[Integer]())
            .add(ri)
          ()
        }
      if (resident.active) {
        // hot tier: the whole phase-1 candidate generation is in-memory
        // lookups — O(batch keys · log store), zero store reads; the
        // sketch prefilter applies in place, and windowed mode prunes
        // out-of-window candidates before they ever reach phase 2
        traced("phase1-resident") {
          var i = 0
          while (i < rows.length) {
            val ri = i
            rowKeys(ri).foreach { b =>
              if (!overCapSet.contains(b))
                resident.foreachMatch(b) { (sk, ord) =>
                  if ((rowSks == null || sketchAdmissible(rowSks(ri), sk)) &&
                      (!ttlEnabled ||
                        residentTs(ord) > collected.tss(ri) - ttlMicros))
                    matched(ri, if (exactSketch) null else residentIds(ord),
                      if (ttlEnabled) residentTs(ord) else 0L)
                }
            }
            i += 1
          }
        }
      } else if (executorBackend) traced("phase1-exec") {
        // distributed phase 1: ship (rowIdx, bucket, sketch[, ts]) for ALL
        // under-cap keys — no driver bloom prefilter (the shards answer
        // misses from memory at the same O(batch) job cost, and a
        // corpus-sized driver filter is exactly what this backend exists
        // to remove); the shards return the sketch-admissible in-window
        // candidate (row, store id) pairs — or, for an exact sketch, the
        // suppressed rows themselves — O(batch) out, O(candidates) back,
        // state stays on the executors
        val probes =
          new scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long)]()
        var i = 0
        while (i < rows.length) {
          rowKeys(i).foreach { b =>
            if (!overCapSet.contains(b))
              probes += ((i, b, if (rowSks == null) 0L else rowSks(i),
                if (ttlEnabled) collected.tss(i) else 0L))
          }
          i += 1
        }
        execIdx.probe(probes.toArray, batches, executorSketchCutoff,
          if (ttlEnabled) ttlMicros else 0L).foreach { case (ri, id, ts) =>
          // id-less (exact-sketch) shards answer in-window hits directly
          if (exactSketch) { suppressedSet.add(rows(ri)._1); () }
          else matched(ri, id, ts)
        }
      } else diskPhase1(s, rowKeys, rowSks, overCapSet, matched)
      new BatchCtx(keyed, rows, rowKeys, rowSks, suppressedSet, pairs,
        collected.tss, storeTs)
    } }

  /** Phase 1 against the on-disk index (the resident tier inactive):
    * bloom gate → file-range prune → in-set-filtered read, driver or
    * distributed by slice bytes. */
  private def diskPhase1(s: org.apache.spark.sql.SparkSession,
      rowKeys: Array[Array[Long]], rowSks: Array[Long],
      overCapSet: java.util.HashSet[java.lang.Long],
      matched: (Int, Any, Long) => Unit): Unit = {
      val idxF = GateStore.storeFiles(idxDir)
      // candidate map: bloom-positive under-cap bucket -> batch row indices
      val candByBucket =
        new java.util.HashMap[java.lang.Long, java.util.ArrayList[Integer]]()
      if (idxF.nonEmpty) {
        var i = 0
        while (i < rowKeys.length) {
          rowKeys(i).foreach { b =>
            if (!overCapSet.contains(b) && bloom.contains(b))
              candByBucket.computeIfAbsent(b, _ => new java.util.ArrayList[Integer]()).add(i)
          }
          i += 1
        }
      }
      val hitKeys: Array[Long] = {
        val arr = new Array[Long](candByBucket.size)
        val it = candByBucket.keySet().iterator(); var k = 0
        while (it.hasNext) { arr(k) = it.next(); k += 1 }
        arr
      }
      if (trace) System.err.println(
        s"[gate-trace] $name phase1-hitkeys ${hitKeys.length}")
      val keyPush = hitKeys.length <= GateStore.maxPushdownKeys
      val idxPaths =
        if (hitKeys.isEmpty) Array.empty[String]
        else if (keyPush) GateStore.pruned(idxF, hitKeys)
        else idxF.map(_.path)
      if (idxPaths.nonEmpty) {
        // phase 1: candidate (batch row, store id) pairs from the pruned
        // (bucket, id) index — the payload bytes stay unread. Driver path
        // (key set pushable AND pruned slice under the byte bound): collect
        // the in-set-filtered index rows and pair on the driver. Fallback:
        // the index must NOT be collected wholesale — ship the (bucket,
        // batch-row) hits as a broadcast LocalRelation, join the index
        // distributed, and collect only the surviving deduplicated pairs
        // (bounded by true candidate pairs, not store size).
        val idxBytes = GateStore.bytesOf(idxPaths)
        val idxReadCols =
          Seq(col("bucket"), col("id")) ++
            (if (rowSks == null) Nil else Seq(col(skColName))) ++
            (if (ttlEnabled) Seq(unix_micros(col("ts"))) else Nil)
        val tsPos = idxReadCols.length - 1
        if (keyPush && idxBytes <= GateStore.maxDriverVerifyBytes) traced("phase1") {
          val fetched = GateStore.withInPushdown(s, hitKeys.length)(
            s.read.parquet(idxPaths: _*)
              .where(GateStore.inSetCol(col("bucket"), hitKeys.toSeq))
              .select(idxReadCols: _*)
              .collect())
          if (trace)
            System.err.println(s"[gate-trace] $name phase1-rows ${fetched.length}")
          fetched.foreach { r =>
              val cands = candByBucket.get(r.getLong(0))
              if (cands != null) {
                // sketch prefilter: a bucket-mate whose inline digest rules
                // out the pair never reaches the payload fetch
                var k = 0
                while (k < cands.size) {
                  val i = cands.get(k)
                  if (rowSks == null || sketchAdmissible(rowSks(i), r.getLong(2)))
                    matched(i, r.get(1), if (ttlEnabled) r.getLong(tsPos) else 0L)
                  k += 1
                }
              }
            }
        } else traced("phase1-dist") {
          val hitRows = new java.util.ArrayList[Row]()
          candByBucket.forEach { (b, list) =>
            list.forEach(i => {
              hitRows.add(
                if (rowSks == null) Row(b.longValue, i.intValue)
                else Row(b.longValue, i.intValue, rowSks(i.intValue)))
              ()
            })
          }
          val hitFields = Seq(
            org.apache.spark.sql.types.StructField("bucket",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("__ri",
              org.apache.spark.sql.types.IntegerType, nullable = false)) ++
            (if (rowSks == null) Nil
             else Seq(org.apache.spark.sql.types.StructField("__rsk",
               org.apache.spark.sql.types.LongType, nullable = false)))
          val hitDf = s.createDataFrame(hitRows,
            org.apache.spark.sql.types.StructType(hitFields))
          // no over-cap filter needed: the inner join restricts to
          // candByBucket's buckets, which exclude over-cap ones already;
          // the in-set filter still narrows the scan when pushable
          val idx0 = s.read.parquet(idxPaths: _*)
          val idx = if (keyPush)
            idx0.where(GateStore.inSetCol(col("bucket"), hitKeys.toSeq)) else idx0
          val joined0 = broadcast(hitDf).join(idx, Seq("bucket"))
          val joined = if (rowSks == null) joined0
            else joined0.where(sketchAdmissibleCol(col("__rsk"), col(skColName)))
          val selCols = Seq(col("__ri"), col("id")) ++
            (if (ttlEnabled) Seq(unix_micros(col("ts")).as("__ts")) else Nil)
          GateStore.withInPushdown(s, hitKeys.length)(
            joined.select(selCols: _*)
              .distinct().collect()).foreach { r =>
              matched(r.getInt(0), r.get(1), if (ttlEnabled) r.getLong(2) else 0L)
            }
        }
      }
  }

  /** Phase 2, run ONCE over the union of every core's candidate pairs:
    * fetch ONLY the candidate payloads from the SHARED (id, payload)
    * store, id set pushed into the scan; verify exact similarity on the
    * driver when the pruned slice is under the byte bound, else verify
    * DISTRIBUTED (broadcast the batch payloads against the store scan and
    * collect only the suppressed row indices) — the store is never
    * collected unfiltered to the driver, and never read more than once
    * per batch however many cores contributed candidates. */
  private[streaming] override def verifySharedPairs(
      ctxs: Seq[AnyRef]): java.util.HashSet[Any] = traced("phase2") {
    val out = new java.util.HashSet[Any]()
    val first = ctxs.head.asInstanceOf[BatchCtx]
    val rows = first.rows
    val rowTs = first.rowTs
    val pairs = new java.util.HashMap[Any, java.util.HashSet[Integer]]()
    val storeTs = new java.util.HashMap[Any, java.lang.Long]()
    ctxs.foreach { c =>
      val ctx = c.asInstanceOf[BatchCtx]
      ctx.pairs.forEach { (id, ris) =>
        pairs.computeIfAbsent(id, _ => new java.util.HashSet[Integer]())
          .addAll(ris)
        ()
      }
      if (ctx.storeTs != null) storeTs.putAll(ctx.storeTs)
    }
    if (pairs.isEmpty) {
      // executor backend: drain the buffered payload deltas even with no
      // candidates — on a low-duplicate stream the driver's pending queue
      // would otherwise accumulate full-precision payloads for up to
      // compactEvery batches (GBs for embeddings), quietly rebuilding the
      // corpus-sized driver state this backend removes
      if (execPay != null)
        execPay.fetch(Array.empty[Any], synchronized(batches))
      return out
    }
    // windowed mode: a candidate only suppresses rows whose trailing
    // window contains its stored event time (same check all three verify
    // paths apply — the resident phase-1 already prefiltered, re-checking
    // is free; the disk paths may not have)
    @inline def winOk(id: Any, i: Int): Boolean =
      !ttlEnabled || {
        val t = storeTs.get(id)
        t != null && t.longValue > rowTs(i) - ttlMicros
      }
    // hot tier first: candidates whose payload is pooled verify in memory
    // (stored-precision round trip identical to the disk fetch); only the
    // remainder — none, while the pool is active and in sync — pays a read
    if (payloadPool != null && payloadPool.active) {
      val it = pairs.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val pr = payloadPool.get(e.getKey)
        if (pr != null) {
          val pS = payloadOfResident(pr)
          e.getValue.forEach { i =>
            if (rows(i)._1 != null && winOk(e.getKey, i) &&
                similar(rows(i)._2, pS)) out.add(rows(i)._1)
            ()
          }
          it.remove()
        }
      }
      if (pairs.isEmpty) return out
    }
    // executor payload tier (executor backend): fetch ONLY the candidates'
    // payloads from the id-partitioned shards — memory lookups, no parquet
    // read — and verify with the gate's own exact predicate; pool misses
    // (rare: a rebuild racing a fold) fall through to the disk fetch
    if (execPay != null && !pairs.isEmpty) {
      val fetched = execPay.fetch(pairs.keySet().toArray, synchronized(batches))
      val it = pairs.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val pr = fetched.get(e.getKey)
        if (pr != null) {
          val pS = payloadOfResident(pr)
          e.getValue.forEach { i =>
            if (rows(i)._1 != null && winOk(e.getKey, i) &&
                similar(rows(i)._2, pS)) out.add(rows(i)._1)
            ()
          }
          it.remove()
        }
      }
      if (pairs.isEmpty) return out
    }
    val s = coreSession
    val payF = GateStore.storeFiles(payloadDir)
    val idArr = pairs.keySet().toArray
    if (trace) System.err.println(
      s"[gate-trace] $name phase2-cands ${idArr.length}")
    val idPush = idArr.length <= GateStore.maxPushdownKeys
    val payPaths =
      if (idPush && idArr.forall(_.isInstanceOf[Long]))
        GateStore.pruned(payF, idArr.map(_.asInstanceOf[Long]).sorted)
      else payF.map(_.path)
    val payBytes = GateStore.bytesOf(payPaths)
    if (payPaths.isEmpty) ()
    else if (idPush && payBytes <= GateStore.maxDriverVerifyBytes) {
      val vs0 = s.read.parquet(payPaths: _*)
      val vs = vs0.where(GateStore.inSetCol(col("id"), idArr.toSeq))
      GateStore.withInPushdown(s, idArr.length)(
        vs.select(col("id"), readPayloadCol(col(payloadColName)))
          .collect()).foreach { r =>
          val cands = pairs.get(r.get(0))
          if (cands != null) {
            val pS = payloadOf(r)
            cands.forEach { i =>
              // a null order id can never be suppressed (nothing can
              // target it downstream) — it passes through, matching
              // the documented null semantics of every gate filter
              if (rows(i)._1 != null && winOk(r.get(0), i) &&
                  similar(rows(i)._2, pS))
                out.add(rows(i)._1)
              ()
            }
          }
        }
    } else traced("phase2-dist") {
      // (store id, batch row) pairs and batch payloads ride in TWO
      // broadcast relations joined in sequence — a combined
      // pairs×payload relation would broadcast each batch payload
      // once per candidate pair (measured 24 s/batch at a hot
      // 100× store before the split; ~0.5 s after)
      val keyed = first.keyed
      val idType = keyed.schema(keyed.schema.fieldIndex(orderCol)).dataType
      val candRows = new java.util.ArrayList[Row]()
      val riSet = new java.util.HashSet[Integer]()
      pairs.forEach { (idS, ris) =>
        ris.forEach { i =>
          if (rows(i)._1 != null && winOk(idS, i)) {
            candRows.add(Row(idS, i.intValue)); riSet.add(i); ()
          }
        }
      }
      val payRows = new java.util.ArrayList[Row](riSet.size)
      riSet.forEach(i => { payRows.add(Row(i.intValue, externalPayloadOf(rows(i)._2))); () })
      val candDf = s.createDataFrame(candRows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("__ri",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
      val batchDf = s.createDataFrame(payRows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__ri",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("__bp", externalPayloadType))))
      val store0 = s.read.parquet(payPaths: _*)
      val store = if (idPush)
        store0.where(GateStore.inSetCol(col("id"), idArr.toSeq)) else store0
      GateStore.withInPushdown(s, idArr.length)(
        store.join(broadcast(candDf), Seq("id"))
          .join(broadcast(batchDf), Seq("__ri"))
          .where(similarCol(col("__bp"), readPayloadCol(col(payloadColName))))
          .select(col("__ri")).distinct()
          .collect()).foreach(r => { out.add(rows(r.getInt(0))._1); () })
    }
    out
  }

  private[streaming] def commitPayloadBatch(ctx0: AnyRef): Unit =
    synchronized { traced("append-pay") {
      val ctx = ctx0.asInstanceOf[BatchCtx]
      // the append is BUILT on the driver from the rows already in hand —
      // a LocalRelation write, no second execution of the payload
      // expression over the batch (seedStore keeps the distributed path
      // for its bulk chunks); null payloads can't pair and are not stored
      if (writesPayload && ctx.rows.nonEmpty) {
        val idType =
          ctx.keyed.schema(ctx.keyed.schema.fieldIndex(orderCol)).dataType
        val pay = new java.util.ArrayList[Row](ctx.rows.length)
        var pi = 0
        while (pi < ctx.rows.length) {
          val r = ctx.rows(pi)
          pay.add(
            if (!ttlEnabled) Row(r._1, storedPayloadOf(r._2))
            else Row(r._1, storedPayloadOf(r._2), microsToTs(ctx.rowTs(pi))))
          pi += 1
        }
        val payFields = Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField(payloadColName,
            storedPayloadType)) ++
          (if (!ttlEnabled) Nil
           else Seq(org.apache.spark.sql.types.StructField("ts",
             org.apache.spark.sql.types.TimestampType)))
        val paySchema = org.apache.spark.sql.types.StructType(payFields)
        // driver-direct parquet write (round 13 — the index store's r11
        // treatment extended to array payloads): skips a whole Spark job
        // per batch AND the one-task LocalRelation closure that shipped
        // every payload through the scheduler; exotic id/payload types
        // fall back to the Spark write
        if (!GateStore.appendLocal(pay, paySchema, payloadDir,
            payloadPrefix, batches, sortCol = Some("id")))
          GateStore.append(coreSession.createDataFrame(pay, paySchema),
            payloadDir, payloadPrefix, batches, sortCol = Some("id"))
        // hot-tier mirror (skip when stale: the pending rebuild re-reads
        // the store, which now includes this append)
        if (payloadPool != null && payloadPool.active && !residentStale)
          ctx.rows.foreach { r =>
            val p = residentPayloadOf(r._2)
            payloadPool.put(r._1, p, residentPayloadBytes(p))
          }
      }
      // executor payload shards: buffer this batch's (id, payload) delta
      // (EVERY batch, even empty — the applied-batch range is contiguous)
      if (execPay != null)
        execPay.bufferDelta(batches,
          ctx.rows.map(r => (r._1, residentPayloadOf(r._2))))
    } }

  private[streaming] def commitIndexBatch(ctx0: AnyRef): Unit =
    synchronized { traced("append-idx") {
      val ctx = ctx0.asInstanceOf[BatchCtx]
      if (ctx.rows.nonEmpty) {
        val idType =
          ctx.keyed.schema(ctx.keyed.schema.fieldIndex(orderCol)).dataType
        val idx = new java.util.ArrayList[Row](
          ctx.rowKeys.iterator.map(_.length).sum)
        // flat preallocated-array row build: the Seq-concat + varargs Row
        // spelling allocated ~6 objects per index entry, and this loop runs
        // |batch|×bands times on the commit thread — at 64k entries/batch
        // it was a measurable slice of the deferred commit whose duration
        // bounds the pipeline's overlap window (GRAFT_GATE_TRACE medians:
        // append-idx 340 ms, of which the parquet write itself only 170)
        val hasSk = ctx.rowSks != null
        val arity = 2 + (if (hasSk) 1 else 0) + (if (ttlEnabled) 1 else 0)
        var i = 0
        while (i < ctx.rows.length) {
          val tsOrNull: Any =
            if (!ttlEnabled) null else microsToTs(ctx.rowTs(i))
          val id = ctx.rows(i)._1
          val sk: Any = if (hasSk) java.lang.Long.valueOf(ctx.rowSks(i)) else null
          val ks = ctx.rowKeys(i)
          var j = 0
          while (j < ks.length) {
            val arr = new Array[Any](arity)
            arr(0) = java.lang.Long.valueOf(ks(j))
            arr(1) = id
            var c = 2
            if (hasSk) { arr(c) = sk; c += 1 }
            if (ttlEnabled) arr(c) = tsOrNull
            idx.add(new org.apache.spark.sql.catalyst.expressions.GenericRow(arr))
            j += 1
          }
          i += 1
        }
        val idxFields = Seq(
          org.apache.spark.sql.types.StructField("bucket",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("id", idType)) ++
          (if (ctx.rowSks == null) Nil
           else Seq(org.apache.spark.sql.types.StructField(skColName,
             org.apache.spark.sql.types.LongType, nullable = false))) ++
          (if (!ttlEnabled) Nil
           else Seq(org.apache.spark.sql.types.StructField("ts",
             org.apache.spark.sql.types.TimestampType)))
        if (!idx.isEmpty) {
          val schema = org.apache.spark.sql.types.StructType(idxFields)
          // driver-direct parquet write — no Spark job (see appendLocal);
          // exotic id types fall back to the LocalRelation write
          traced("append-idx-write") {
            if (!GateStore.appendLocal(idx, schema, idxDir, idxPrefix, batches,
                sortCol = Some("bucket")))
              GateStore.append(coreSession.createDataFrame(idx, schema),
                idxDir, idxPrefix, batches, sortCol = Some("bucket"))
          }
        }
        // hot-tier mirror from the keys already in hand (skip when stale —
        // the pending rebuild covers this append from disk)
        if (resident.active && !residentStale) {
          var i = 0
          while (i < ctx.rows.length && resident.active) {
            if (ctx.rowKeys(i).nonEmpty) {
              val ord = newOrd(ctx.rows(i)._1,
                if (ttlEnabled) ctx.rowTs(i) else 0L)
              val sk = if (ctx.rowSks == null) 0L else ctx.rowSks(i)
              ctx.rowKeys(i).foreach(b => { resident.add(b, sk, ord); () })
            }
            i += 1
          }
          if (!resident.active)
            System.err.println(s"[graft] ${getClass.getSimpleName}($name): " +
              "resident hot tier overflowed its byte budget mid-stream — " +
              "now on the O(store)/batch disk path. " +
              IndexedNearDupGate.overflowAdvice)
        }
        if (ttlEnabled) {
          var i = 0
          while (i < ctx.rows.length) {
            if (ctx.rowTs(i) > maxSeenTsMicros) maxSeenTsMicros = ctx.rowTs(i)
            i += 1
          }
        }
      }
      if (executorBackend) {
        // buffer this batch's delta for the distributed shards; it rides
        // the NEXT probe job (after this durable append — the required
        // order). Buffer EVERY batch, even empty, to keep the shards'
        // applied-batch range contiguous. Id-less shards get no ids.
        val delta = new scala.collection.mutable.ArrayBuffer[
          ExecutorGateIndex.DeltaRow]()
        var i = 0
        while (i < ctx.rows.length) {
          val sk = if (ctx.rowSks == null) 0L else ctx.rowSks(i)
          val ts = if (ttlEnabled) ctx.rowTs(i) else 0L
          val id = if (exactSketch) null else ctx.rows(i)._1
          ctx.rowKeys(i).foreach(b =>
            delta += ExecutorGateIndex.DeltaRow(b, sk, ts, id))
          i += 1
        }
        execIdx.bufferDelta(batches, delta.toArray)
      }
      traced("filters")(updateFilters(ctx.rowKeys.flatten))
    } }

  private[streaming] def maybeCompact(): Unit =
    if (compactEvery > 0 && synchronized(batches) % compactEvery == 0) compact()

  private[streaming] def compactNow(): Unit = compact()

  private[streaming] def onBatch(batch: DataFrame): Unit = ingestLock.synchronized { traced("onbatch-total") {
    if (exactlyOnce) { pipeline.drain(); synchronized(epochs.recoverPending()) }
    val obs = new org.apache.spark.sql.Observation(
      s"${kind}_${name}_${System.nanoTime()}")
    val keyed = prepareBatch(batch, Some(obs))
    var deferred = false
    try {
      // prepare + collect run OUTSIDE the gate monitor: they are pure
      // per-batch math, and this is where they overlap the previous
      // batch's deferred store commit (CommitPipeline)
      val rows = collectBatchRows(keyed)
      pipeline.drain() // decisions serialize on the committed store state
      val ctx = decideBatch(keyed, rows).asInstanceOf[BatchCtx]
      ctx.sup.addAll(verifySharedPairs(Seq(ctx)))
      val total = obs.get("rows").asInstanceOf[Long]
      val n = total - ctx.sup.size
      synchronized { admitted += n; suppressed += total - n }
      if (exactlyOnce) synchronized {
        // epoch protocol (GateEpochs): spool is THE commit point; store
        // appends and the sink delivery replay from it after any crash —
        // the spool ordering is the batch's durability, so exactly-once
        // never defers
        val epoch = batches // decideBatch advanced it to this batch
        epochs.failpoint("before-spool")
        epochs.spool(epoch, keyed, orderCol, ctx.sup)
        epochs.failpoint("after-spool")
        commitPayloadBatch(ctx)
        commitIndexBatch(ctx)
        epochs.failpoint("after-store")
        epochs.deliverAndMark(epoch, knownNonEmpty = Some(n > 0))
      } else {
        // sink BEFORE store append (at-least-once under failure-retry —
        // see StreamDedupGate's delivery contract)
        if (n > 0) eng.insertInto(sink, survivorsOf(keyed, ctx.sup))
        if (CommitPipeline.enabled) {
          deferred = true
          pipeline.submit({ () =>
            try { commitPayloadBatch(ctx); commitIndexBatch(ctx); maybeCompact() }
            finally { keyed.unpersist(); () }
          }, label = s"batch ${synchronized(batches)}")
        } else { commitPayloadBatch(ctx); commitIndexBatch(ctx) }
      }
    } finally { if (!deferred) { keyed.unpersist(); () } }
    if (!deferred) maybeCompact()
  } }

  /** Fold the stores into range shards — the index by bucket, the
    * payloads by id — and regrow the driver bloom when the index outgrew
    * its design size, so the fast path survives unbounded streams.
    * Crash-safe without a manifest (duplicated rows change nothing). */
  def compact(): Unit = {
    pipeline.drain() // no fold under a still-in-flight append (no-op on
    // the pipeline's own thread — the cadence fold runs inside the task)
    compactLocked()
  }

  private def compactLocked(): Unit = synchronized {
    // windowed mode: fold-time reap of rows older than (max seen ts − ttl)
    // on BOTH stores, mirrored into the resident tier — the state is
    // bounded by the window, not the stream's lifetime (reaper.c:49-352)
    val reap: Option[Column] =
      if (ttlEnabled && maxSeenTsMicros != Long.MinValue)
        Some(col("ts") > lit(microsToTs(maxSeenTsMicros - ttlMicros)))
      else None
    val tsCols = if (ttlEnabled) Seq("ts") else Nil
    if (writesPayload) GateStore.compact(eng.spark, payloadDir, payloadPrefix,
      Seq("id", payloadColName) ++ tsCols, batches, sortCol = Some("id"),
      rowFilter = reap)
    val idxCols = Seq("bucket", "id") ++
      sketchColOf.map(_ => skColName) ++ tsCols
    val n = GateStore.compact(eng.spark, idxDir, idxPrefix, idxCols,
      batches, sortCol = Some("bucket"), rowFilter = reap)
    if (ttlEnabled && maxSeenTsMicros != Long.MinValue && resident.active) {
      // resident mirror of the disk reap, WITH pool compaction: reaped
      // ords are remapped away so ids/timestamps/payloads and the byte
      // accounting shrink with the window — a monotonic budget would
      // deactivate the tier on dead slots alone over a long stream (the ts
      // pool spans every ord; the id pool, when kept, is aligned with it)
      val cutoff = maxSeenTsMicros - ttlMicros
      val remap = new Array[Int](residentTs.length)
      val nIds = new scala.collection.mutable.ArrayBuffer[Any]()
      val nTs = new scala.collection.mutable.ArrayBuffer[Long]()
      var i = 0
      while (i < residentTs.length) {
        if (residentTs(i) > cutoff) {
          remap(i) = nTs.length
          if (!exactSketch) nIds += residentIds(i)
          nTs += residentTs(i)
        } else {
          remap(i) = -1
          // pool eviction is by id: a re-crawled doc whose OLD ord reaps
          // while a newer one survives just falls back to the disk fetch
          // for that id (pool miss is always correct, never wrong)
          if (payloadPool != null)
            payloadPool.remove(residentIds(i), residentPayloadBytes _)
        }
        i += 1
      }
      residentIds.clear(); residentIds ++= nIds
      residentTs.clear(); residentTs ++= nTs
      resident.retainRemap(remap, nTs.length.toLong * poolSlotBytes)
    }
    // the fold rewrote the store files (and reaped, when windowed): the
    // executor shards rebuild from the new snapshot at the next probe —
    // and there is no driver bloom to regrow on that backend
    if (executorBackend) {
      execIdx.invalidate()
      if (execPay != null) execPay.invalidate()
      return
    }
    if (n > bloomN) {
      bloomN = GateStore.bloomSizeFor(n, bloomN)
      System.err.println(s"[graft] ${getClass.getSimpleName}($name): index at " +
        s"$n keys outgrew the bloom design size; regrowing filter to n=$bloomN")
      bloom = GateStore.buildBloom(eng.spark, idxDir, "bucket", bloomP, bloomN)
    }
  }
}

private[streaming] object IndexedNearDupGate {
  /** Target collected rows per task of the per-batch jobs: small enough
    * that the payload/key expressions still spread across a cluster for
    * real batch sizes, large enough that a bounded driver-collected batch
    * is not split into hundreds of sub-millisecond tasks. */
  val CollectRowsPerTask: Long = 2000L

  /** What an operator should DO about a resident-budget overflow, in
    * preference order — the distributed tier is the designed scale path
    * (its probes stay flat past any driver budget: BENCH `gate_exec_*`
    * vs the disk regime's `gate_large_store_*` 0.4 slope). */
  val overflowAdvice: String =
    "Recreate the gate with backend = 'executor' to shard this state " +
      "across the cluster (probes stay flat past any driver budget — " +
      "BENCH gate_exec_* vs gate_large_store_*), or raise resident_mb / " +
      "GRAFT_GATE_RESIDENT_MB, shard the gate, or window it with a ttl."
}
