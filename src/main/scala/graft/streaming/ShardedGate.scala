package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cv.ContViewEngine

/** The per-batch lifecycle a gate core exposes to the ONE batch loop,
  * [[ShardedGate]]: every gate kind (exact, near-dup, contamination) is a
  * core, an unsharded gate is the loop over one core, and a sharded gate
  * the loop over G key-slice cores — one implementation of every phase:
  *
  *  1. [[prepareBatch]]    — project the gate's columns, observe the input
  *                           row count, persist (once, shared by every core);
  *  2. [[collectBatchRows]] — ONE bounded driver collect (once, shared);
  *  3. [[decideBatch]]     — the suppression decision over the core's OWN
  *                           key slice, returning an opaque ctx;
  *  4. (loop)              — union the suppressed sets, flag survivors with
  *                           [[withAdmitted]], then forward them to the sink
  *                           (at-least-once: sink before store append) or
  *                           spool the flagged batch ([[GateEpochs]]);
  *  5. [[commitPayloadBatch]] — the shared payload-store append (core 0
  *                           only — payloads are NOT duplicated per core);
  *  6. [[commitIndexBatch]] — the core's own store append + driver filter
  *                           updates;
  *  7. [[maybeCompact]]    — per-core compaction cadence.
  *
  * The loop owns the batch number: [[decideBatch]] and [[seedStore]]
  * receive it and the core's store appends for that batch carry it, so a
  * spooled epoch and the store batches it produced share one number
  * ([[commitRecovered]] compares them).
  *
  * A core is built only by [[ShardedGate.open]]; callers hold the loop.
  */
private[graft] trait ShardableGateCore {
  /** The gate family's `graft_gate_stats` kind. */
  private[graft] def kind: String
  /** (backend, resolved executor shard count — 0 on the driver tier): the
    * `graft_gate_stats` placement columns. */
  private[graft] def backendInfo: (String, Int)

  private[streaming] def prepareBatch(batch: DataFrame,
      obs: org.apache.spark.sql.Observation): DataFrame
  private[streaming] def collectBatchRows(keyed: DataFrame): AnyRef
  private[streaming] def decideBatch(keyed: DataFrame, rows: AnyRef,
      batch: Long): AnyRef
  /** Verify work that reads SHARED state (the split-store gates' payload
    * fetch): run ONCE by the loop over every core's merged candidates —
    * per-core verification of a shared store would multiply the read by
    * G. Returns additional suppressed ids; default none. */
  private[streaming] def verifySharedPairs(ctxs: Seq[AnyRef]): java.util.HashSet[Any] =
    new java.util.HashSet[Any]()
  private[streaming] def suppressedOf(ctx: AnyRef): java.util.HashSet[Any]
  /** Rows the survivor predicate ([[withAdmitted]]) drops — the batch
    * admits its input row count minus this. Default: one row per
    * suppressed order id. */
  private[streaming] def droppedOf(ctxs: Seq[AnyRef],
      sup: java.util.HashSet[Any]): Long = sup.size.toLong
  /** `keyed` plus the boolean [[GateEpochs.AdmittedCol]] flag — THE
    * survivor predicate: the at-least-once forward filters on it and the
    * exactly-once spool stores it, so both delivery modes forward the same
    * rows. Default: the order id is not in `sup` (NULL ids always
    * admitted), via [[GateStore.withAdmittedFlag]]. */
  private[streaming] def withAdmitted(keyed: DataFrame, ctxs: Seq[AnyRef],
      sup: java.util.HashSet[Any]): DataFrame =
    GateStore.withAdmittedFlag(keyed, orderColName, sup.toArray,
      GateEpochs.AdmittedCol)
  private[streaming] def orderColName: String
  private[streaming] def commitPayloadBatch(ctx: AnyRef): Unit = ()
  private[streaming] def commitIndexBatch(ctx: AnyRef): Unit = ()
  /** Exactly-once recovery hook ([[GateEpochs]]): re-derive this core's
    * store appends for `epoch` from the spooled full batch — skipping any
    * store already at or past it. Stateless gates need nothing. */
  private[streaming] def commitRecovered(spooled: DataFrame, epoch: Long): Unit = ()
  /** Pre-spool half of the exactly-once RETRY-DEDUP WINDOW, for cores
    * whose decisions are STATELESS (the contamination gate): add ids the
    * window has seen in recent epochs to `sup` (an upstream's crash-retry
    * of an already-delivered epoch would otherwise be re-admitted — the
    * stateful gates get this suppression from their seen-stores for
    * free), and return this batch's id set for [[rememberRetryIds]].
    * The remember MUST wait for the spool commit point: remembering
    * before it would suppress the retry of a batch that crashed PRE-spool
    * — dropping the batch outright. Stateful cores return null. */
  private[streaming] def retrySuppress(keyed: DataFrame,
      sup: java.util.HashSet[Any]): java.util.HashSet[Any] = null
  /** Post-spool half: remember epoch `epoch`'s ids in the retry window. */
  private[streaming] def rememberRetryIds(ids: java.util.HashSet[Any],
      epoch: Long): Unit = ()
  /** Highest batch number persisted in this core's stores (the loop's
    * batch-counter floor on restart). */
  private[streaming] def storeMaxBatch: Long = 0L
  private[streaming] def maybeCompact(): Unit = ()
  private[streaming] def compactNow(): Unit = ()
  /** Append pre-keyed rows straight into the core's stores as batch
    * `batch` (filters updated, nothing forwarded) — the scale probes' way
    * of standing up a 10×/100× store without the join path. */
  private[streaming] def seedStore(rows: DataFrame, batch: Long): Unit = ()
  /** The core's durable store directories — the [[CommitPipeline]]
    * cross-instance drain keys (same-JVM restart fixtures). */
  private[streaming] def storeRoots: Seq[String] = Nil
  /** Resume from the persisted store (filters, batch floor) at open. */
  private[streaming] def bootstrap(): Unit

  /** Key slices of the gate this core belongs to (1 = unsharded). */
  private[streaming] def shardCount: Int
  /** The engine's session. */
  protected def engineSession: SparkSession
  /** Sharded cores read their stores through a CLONED session (shared
    * SparkContext, isolated SQLConf): concurrent cores each scope their
    * own parquet In-pushdown raise (GateStore.withInPushdown mutates
    * session conf — a shared session would race), and isolated conf also
    * avoids cross-core planner-state contention. The unsharded gate keeps
    * the engine session (no concurrency, and its plans stay visible to
    * session-level debugging). */
  protected final lazy val coreSession: SparkSession =
    if (shardCount == 1) engineSession else engineSession.newSession()
}

/** THE gate batch loop: G ≥ 1 key-slice cores ([[ShardableGateCore]])
  * deciding each batch jointly. At G = 1 it is the unsharded gate — decide
  * and commit run inline on the calling thread. At G ≥ 2 it is the
  * horizontal scale-out of the single-driver decision loop: ownership is
  * by KEY (exact gate: key hash; near-dup gates: banded key position;
  * contamination: gram hash), so every collision — within the batch or
  * against the store — is decided by exactly one core and the union of
  * the cores' suppressed sets equals the unsharded gate's exactly. Each
  * core owns its own store slice and driver filters (at 1/G the size);
  * a split-store near-dup gate's (id, payload) store is SHARED and written
  * once per batch by core 0.
  *
  * What scales: per-core store slices, driver filters, driver-side pairing
  * loops, and the candidate reads all shrink by G, and the G decisions run
  * on independent threads (independent Spark jobs — on a cluster, each
  * core's reads fan out to executors concurrently). What does not: the
  * one batch collect and the one survivor forward, both bounded by batch
  * size.
  *
  * DELIVERY. At-least-once: the survivors reach the sink BEFORE any store
  * append, and the appends of batch N run on the [[CommitPipeline]] thread
  * while batch N+1 prepares and collects; decisions still serialize on the
  * committed store state. Exactly-once: each batch is an epoch of
  * [[GateEpochs]] — the spool is the commit point, nothing defers.
  *
  * Restart: a re-created gate on the same store root re-binds bootstrapped
  * cores; the shard count is stamped into the store root and a mismatched
  * reopen is refused (slices would silently mix).
  *
  * Every gate kind's `create` returns this loop; `cores` exposes the
  * kind's cores (test seams).
  */
final class ShardedGate[+C <: ShardableGateCore] private (
    eng: ContViewEngine,
    val name: String,
    sink: String,
    private[graft] val cores: Seq[C],
    root: String,
    delivery: String) {

  require(delivery == StreamDedupGate.AtLeastOnce ||
    delivery == StreamDedupGate.ExactlyOnce,
    s"unknown delivery mode '$delivery' (expected " +
      s"'${StreamDedupGate.AtLeastOnce}' or '${StreamDedupGate.ExactlyOnce}')")

  private val exactlyOnce = delivery == StreamDedupGate.ExactlyOnce
  /** ONE spool for the whole gate — the batch is decided jointly, so the
    * epoch protocol runs at loop level and recovery replays each core's
    * store slice from the same spooled batch. */
  private[graft] lazy val epochs = new GateEpochs(eng, name, sink,
    GateStore.child(root, "spool"), cores, ShardedGate.InternalCols)

  // G ≥ 2 only: the cores' decisions and commits run concurrently
  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
    cores.size,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-gate-$name-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  private val pipeline =
    new CommitPipeline(name, cores.flatMap(_.storeRoots).distinct)
  /** Test/stats seam: see [[CommitPipeline]]. */
  private[graft] def commitPipeline: CommitPipeline = pipeline
  private val ingestLock = new Object

  private var batches = 0L
  private var admitted = 0L
  private var suppressed = 0L

  locally {
    // store-half recovery (delivery at the next batch head — the DDL
    // replay path may hold the engine's registration lock here), and the
    // batch-counter floor: restart must not reuse a committed epoch or
    // store batch number
    if (exactlyOnce) epochs.recoverStores()
    batches = math.max(if (exactlyOnce) epochs.maxEpoch() else 0L,
      cores.map(_.storeMaxBatch).max)
  }

  /** (batches, admitted survivors, suppressed rows) so far. */
  def stats: (Long, Long, Long) = synchronized((batches, admitted, suppressed))

  def shardCount: Int = cores.size
  private[graft] def kind: String = cores.head.kind
  private[graft] def backendInfo: (String, Int) = cores.head.backendInfo

  private def inPool[T](fs: Seq[() => T]): Seq[T] =
    if (cores.size == 1) fs.map(_())
    else {
      val futs = fs.map(f => pool.submit(
        new java.util.concurrent.Callable[T] { def call(): T = f() }))
      futs.map(_.get())
    }

  /** Barrier for callers about to read or delete the durable stores
    * (engine drop path, probes): joins any deferred commit. */
  private[graft] def drainCommits(): Unit = pipeline.drain()

  /** Deliver any epoch the last crash interrupted RIGHT NOW (instead of
    * at the next batch head — a quiet stream would otherwise withhold a
    * spool-committed epoch's rows indefinitely). Serialized with batches
    * (a batch between its spool and its delivery is an epoch without a
    * marker — recovering it concurrently would deliver it twice). Must not
    * be called while holding engine locks. No-op in at-least-once mode. */
  def recover(): Unit =
    if (exactlyOnce) ingestLock.synchronized {
      pipeline.drain(); synchronized(epochs.recoverPending())
    }

  private[streaming] def onBatch(batch: DataFrame): Unit =
    ingestLock.synchronized { GateTrace(name, "batch") {
      recover() // the previous crash's pending epoch, at the batch head
      val epoch = synchronized { batches += 1; batches }
      val obs = new org.apache.spark.sql.Observation(
        s"gate_${name}_${System.nanoTime()}")
      val keyed = cores.head.prepareBatch(batch, obs)
      var deferred = false
      try {
        // prepare + collect overlap the previous batch's deferred commit
        val rows = GateTrace(name, "collect")(cores.head.collectBatchRows(keyed))
        pipeline.drain() // decisions serialize on the committed store state
        val ctxs = GateTrace(name, "decide")(
          inPool(cores.map(c => () => c.decideBatch(keyed, rows, epoch))))
        val sup = new java.util.HashSet[Any]()
        cores.zip(ctxs).foreach { case (c, ctx) => sup.addAll(c.suppressedOf(ctx)) }
        // shared-store verification (split-store gates): one payload fetch
        // over the union of every core's candidates
        sup.addAll(GateTrace(name, "verify")(cores.head.verifySharedPairs(ctxs)))
        // retry-dedup window (stateless-decision cores, exactly-once only):
        // suppress re-fed ids from recent epochs BEFORE counting/spooling;
        // the window state lives on core 0 — row identity is gate-wide,
        // not key-sliced, so one core's window covers the joint decision
        val retryIds =
          if (exactlyOnce) cores.head.retrySuppress(keyed, sup) else null
        val total = obs.get("rows").asInstanceOf[Long]
        val n = total - cores.head.droppedOf(ctxs, sup)
        def count(): Unit = synchronized { admitted += n; suppressed += total - n }
        val flagged = cores.head.withAdmitted(keyed, ctxs, sup)
        // shared payload lands FIRST (core 0), store slices second — an
        // index entry must never outlive a crash its payload didn't survive
        def commit(): Unit = {
          GateTrace(name, "commit-pay")(cores.head.commitPayloadBatch(ctxs.head))
          GateTrace(name, "commit-idx")(inPool(
            cores.zip(ctxs).map { case (c, ctx) => () => c.commitIndexBatch(ctx) }))
          ()
        }
        if (exactlyOnce) {
          epochs.failpoint("before-spool")
          epochs.spool(epoch, flagged)
          count() // after the commit point: a pre-spool crash's retry counts once
          // remember only AFTER the spool commit point (see retrySuppress)
          if (retryIds != null) cores.head.rememberRetryIds(retryIds, epoch)
          epochs.failpoint("after-spool")
          commit()
          epochs.failpoint("after-store")
          epochs.deliverAndMark(epoch, knownNonEmpty = Some(n > 0))
        } else {
          count()
          // sink BEFORE store append (at-least-once under failure-retry)
          if (n > 0) GateTrace(name, "sink")(
            eng.insertInto(sink, GateEpochs.admittedOf(flagged, ShardedGate.InternalCols)))
          deferred = true
          pipeline.submit({ () =>
            try { commit(); inPool(cores.map(c => () => c.maybeCompact())); () }
            finally { keyed.unpersist(); () }
          }, label = s"batch $epoch")
        }
      } finally { if (!deferred) { keyed.unpersist(); () } }
      if (!deferred) { inPool(cores.map(c => () => c.maybeCompact())); () }
    } }

  /** Probe seeding hook: stand up a pre-populated store without the join
    * path (every core appends its slice; core 0 the shared payloads). */
  private[graft] def seedStore(rows: DataFrame): Unit = {
    pipeline.drain() // no interleaving with a deferred batch commit
    val batch = synchronized { batches += 1; batches }
    // G ≥ 2: every core reads its slice of the same rows — compute them once
    val shared = if (cores.size == 1) rows else rows.persist()
    try cores.foreach(_.seedStore(shared, batch))
    finally if (cores.size > 1) { shared.unpersist(); () }
  }

  /** Fold every core's per-batch store files into range shards (also runs
    * on each core's compaction cadence). */
  def compact(): Unit = {
    pipeline.drain() // no fold under a still-in-flight append
    inPool(cores.map(c => () => c.compactNow())); ()
  }
}

private[graft] object ShardedGate {
  /** Internal batch columns a core may add ([[IndexedNearDupGate]]'s
    * payload, [[ContaminationGate]]'s gram hashes): dropped before the
    * sink (Spark's drop ignores absent names; an exact-sketch gate's `fp`
    * and the exact gate's `h` are sink payload and stay). */
  val InternalCols: Seq[String] = Seq("__p", "__gh")

  /** The one open step of every gate kind's `create`: check `shards` and
    * the backend, resolve the gate root and stamp `shards_<G>` on it, build
    * and bootstrap core k over `<root>/<sub>` (G = 1) or
    * `<root>/s<k>of<G>/<sub>` (G ≥ 2), stamping `stamp` on each core dir,
    * then build the loop and register it as transform `name`'s output
    * function. `core(root, dir, k)` is the kind's core constructor.
    *
    * The catalog replays a transform BARE (a callback can't persist): if
    * that is what createContTransform idempotently returned, the rebind
    * re-attaches this loop so the gate does not sit silently dead. */
  private[streaming] def open[C <: ShardableGateCore](eng: ContViewEngine,
      name: String, selectSql: String, sink: String, storeRoot: String,
      shards: Int, delivery: String, backend: String, sub: String,
      stamp: Option[String])(core: (String, String, Int) => C): ShardedGate[C] = {
    require(shards >= 1, s"gate $name: shards must be >= 1, got $shards")
    require(shards == 1 || backend != StreamDedupGate.ExecutorBackend,
      "backend = 'executor' does not compose with shards >= 2")
    val root = GateStore.gateRoot(storeRoot, name)
    val sfs = graft.io.StoreFs.forRoot(root)
    sfs.mkdirs(root)
    GateStore.stampGeometry(root, s"shards_$shards")
    val cores = (0 until shards).map { k =>
      val slice =
        if (shards == 1) root else GateStore.child(root, s"s${k}of$shards")
      // the gate spools once, at its root: a per-core spool is no longer
      // read, so one still holding an undelivered epoch refuses the open
      if (shards > 1)
        GateEpochs.refuseOrphanedSpool(GateStore.child(slice, "spool"), name)
      val dir = GateStore.child(slice, sub)
      sfs.mkdirs(dir)
      stamp.foreach(GateStore.stampGeometry(dir, _))
      val c = core(root, dir, k)
      c.bootstrap() // resume from a persisted store after an engine restart
      c
    }
    val gate = new ShardedGate(eng, name, sink, cores, root, delivery)
    eng.createContTransform(name, selectSql,
      outputFunc = Some(gate.onBatch _), emitChanges = false)
    eng.rebindTransformOutput(name, gate.onBatch _)
    gate
  }
}

/** Opt-in per-phase wall time on stderr (`GRAFT_GATE_TRACE=1`), read once:
  * the gate loop's phase labels and [[IndexedNearDupGate]]'s inner ones. */
private[streaming] object GateTrace {
  private val on: Boolean = sys.env.get("GRAFT_GATE_TRACE").contains("1")

  @inline def apply[T](gate: String, label: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      val out = f
      System.err.println(
        f"[gate-trace] $gate%s $label%s ${(System.nanoTime() - t0) / 1e3}%.0f us")
      out
    }

  /** A count instead of a time (candidate keys, rows read). */
  def count(gate: String, label: String, n: Long): Unit =
    if (on) System.err.println(s"[gate-trace] $gate $label $n")
}
