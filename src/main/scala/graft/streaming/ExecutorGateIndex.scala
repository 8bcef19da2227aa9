package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._

/** EXECUTOR-DISTRIBUTED gate state: one store-backed piece of a streaming
  * gate's decision state, partitioned across long-lived executor-local
  * shards — the scale-out past the single-driver ceiling of
  * [[ResidentIndex]] (whose byte budget, G-thread sharding and
  * O(store)/batch disk fallback all live in ONE driver JVM). Reference
  * anchor: pipelinedb's combiner tier — a separately scalable process pool
  * receiving group-hash-routed state updates (config.c:300-306
  * `num_combiners` 1-1024; combiner_receiver.c:160-177 group-hash routing)
  * — re-expressed in Spark's execution model: state shards live where
  * tasks run, the driver only routes and coordinates.
  *
  * This class is the protocol; a [[ShardKind]] is what one tier keeps and
  * answers. Three kinds exist: [[IndexKind]] (the near-dup bucket index),
  * [[PayloadKind]] (phase 2's stored payloads) and [[SeenKind]] (exact-gate
  * and contamination membership).
  *
  * SHAPE. The kind routes every delta and query to one of P shards. Each
  * shard lives in the JVM-global [[ExecutorGateState]] registry keyed by
  * (store path, kind, shard id), so it SURVIVES across Spark jobs. Per
  * query the driver ships the query rows plus the deltas buffered since
  * the last query, runs ONE P-partition job, and collects only the answers:
  * the corpus-sized state never moves, per-batch traffic is bounded by the
  * batch, and memory scales with the CLUSTER (P shards across executor
  * heaps), not with one driver budget.
  *
  * CONSISTENCY. The parquet store remains the durable source of truth;
  * shards are caches REBUILDABLE from it. Every shard carries (generation,
  * applied delta number). The generation is this instance's nonce plus its
  * invalidation count, so a gate restart, a compaction fold or a bulk seed
  * ([[invalidate]]) orphans every shard. This instance numbers its own
  * deltas: [[bufferDelta]] is called at the durable append, and the gate
  * drains its commit pipeline before deciding, so every delta below the
  * number a query expects is already durable. A task whose shard is
  * missing, from another generation, or not exactly at the floor reports
  * STALE instead of answering; the driver then runs one rebuild job — a
  * single distributed store scan shuffled to the shards, loading every
  * shard in one pass — and retries, at most twice. A rebuild therefore
  * always reproduces at least what the shards knew — modulo a LOST durable
  * append, the gate family's accepted at-least-once loss class.
  *
  * PLACEMENT. Query tasks prefer the executor that last hosted their shard
  * (`getPreferredLocations`, recorded per job — the same pinning Structured
  * Streaming's StateStoreRDD gets from its coordinator); a task scheduled
  * elsewhere self-heals with one rebuild. On local[n] all shards share the
  * JVM and the pin is trivially satisfied.
  */
private[graft] final class ExecutorShards[S <: AnyRef, D: ClassTag, Q, A](
    spark: SparkSession,
    storeDir: String,
    val parts: Int,
    kind: ShardKind[S, D, Q, A]) {

  require(parts >= 1, s"need at least one state partition, got $parts")

  private val storeKey = s"$storeDir#${kind.tag}"
  private val marker = s"_owner_${kind.tag}"
  private val nonce = java.util.UUID.randomUUID().toString.take(8)
  ExecutorShards.stampOwner(storeDir, marker, nonce)
  ExecutorGateState.registerLiveDir(storeKey)
  private var invalidations = 0L
  private def gen: String = s"$nonce:$invalidations"
  private var needRebuild = true // bootstrap starts from the store

  // last-known executor host of each shard (next job's preferred location)
  private val shardHosts = new Array[String](parts)

  // deltas not yet applied to the shards, numbered appliedFloor+1 .. seq;
  // depth ≤ 1 in steady flow
  private var seq = 0L
  private val pending = new ArrayBuffer[Array[D]]()
  private var appliedFloor = 0L // shards sit exactly here between queries

  /** Spec seam: rebuild jobs run so far (bootstrap included). */
  @volatile private[graft] var rebuilds = 0

  /** Buffer one durable append's entries; they ride the next query job.
    * Call AFTER the append is durable (a failed append must fail the batch
    * without the shards learning its entries). */
  def bufferDelta(entries: Array[D]): Unit = synchronized {
    seq += 1
    pending += entries
    ()
  }

  /** Spec seam: undrained delta batches on the driver. A gate that queries
    * every batch keeps this ≤ 1. */
  private[graft] def pendingDepthForSpec: Int = synchronized(pending.size)

  /** The durable store changed shape under the shards (bulk seed,
    * compaction reap, crash recovery): drop the delta buffer and force a
    * rebuild at the next query. */
  def invalidate(): Unit = synchronized {
    pending.clear()
    invalidations += 1
    needRebuild = true
  }

  /** Answer `queries` on the shards after applying every buffered delta:
    * the concatenation of each shard's [[ShardKind.answer]]. */
  def query(queries: Array[Q]): Seq[A] = synchronized {
    ExecutorShards.checkOwner(storeDir, marker, nonce, kind.tag)
    if (needRebuild) rebuild()
    val deltas = pending.toSeq
    pending.clear()
    val floor = appliedFloor
    appliedFloor = seq
    var out = run(queries, deltas, floor)
    var attempts = 0
    while (out.isLeft && attempts < 2) {
      // an executor moved/lost its shard (never on local[n] — and the
      // executor-granular pin makes a repeat rare on a cluster): rebuild
      // heals every shard, then the query must answer
      System.err.println(s"[graft] executor shards $storeKey: shards " +
        s"${out.swap.getOrElse(Nil).mkString(",")} stale; rebuilding from the store")
      rebuild()
      out = run(queries, Nil, seq)
      attempts += 1
    }
    out.getOrElse(throw new IllegalStateException(
      s"shards ${out.swap.getOrElse(Nil)} stale after $attempts rebuilds — store $storeKey"))
  }

  /** One query job. Left(stale shard ids) if any shard could not answer. */
  private def run(queries: Array[Q], deltas: Seq[Array[D]],
      floor: Long): Either[Seq[Int], Seq[A]] = {
    val (sKey, p, kd, expectGen, expectApplied) = (storeKey, parts, kind, gen, seq)
    // group driver-side (batch-bounded); grouping keeps delta order
    val qs = Array.fill(p)(new ArrayBuffer[Q]())
    queries.foreach(q => qs(kd.queryShard(q, p)) += q)
    val ds = Array.fill(p)(new ArrayBuffer[D]())
    deltas.foreach(_.foreach(d => ds(kd.deltaShard(d, p)) += d))
    val tasks = Array.tabulate(p)(k => ShardTask(qs(k).toVector, ds(k).toVector))
    val rdd = new GateTaskRDD(spark.sparkContext, tasks, shardHosts.clone())
    val results = try rdd.mapPartitionsWithIndex { (k, it) =>
      val task = it.next()
      val shard = ExecutorGateState.shardFor(sKey, k, kd)
      val answer = shard.synchronized {
        if (shard.gen != expectGen || shard.applied != floor) None
        else {
          // apply the shipped deltas in order, then advance to the query's
          // number (a shard with no routed entries advances too)
          val s = shard.state.asInstanceOf[S]
          task.deltas.foreach(kd.applyDelta(s, _))
          shard.applied = expectApplied
          Some(kd.answer(s, task.queries))
        }
      }
      Iterator.single((k, ExecutorGateState.taskLocation, answer))
    }.collect() finally rdd.destroy()
    results.foreach { case (k, host, _) => shardHosts(k) = host }
    val stale = results.collect { case (k, _, None) => k }.toSeq
    if (stale.nonEmpty) Left(stale) else Right(results.toSeq.flatMap(_._3.get))
  }

  /** Rebuild every shard from the durable store in ONE distributed pass:
    * scan the parquet files, shuffle each row to its shard, load each
    * partition into a fresh executor-local state. O(store) read + one
    * shuffle — the bootstrap cost, paid at restart/compaction/seed, never
    * per batch. */
  private def rebuild(): Unit = {
    invalidations += 1 // orphan any shard the job does not reach
    rebuilds += 1
    val (sKey, p, kd, expectGen, expectApplied) = (storeKey, parts, kind, gen, seq)
    val files = GateStore.files(storeDir)
    val rows =
      if (files.isEmpty) spark.sparkContext.emptyRDD[(Int, D)]
      else spark.read.parquet(files.toSeq: _*).select(kd.columns: _*).rdd
        .map { r => val d = kd.decode(r); (kd.deltaShard(d, p), d) }
    val hosts = rows.partitionBy(new HashPartitioner(p))
      .mapPartitionsWithIndex { (k, it) =>
        val s = kd.newState()
        it.foreach { case (_, d) => kd.applyDelta(s, d) }
        kd.seal(s)
        val shard = ExecutorGateState.shardFor(sKey, k, kd)
        shard.synchronized {
          shard.state = s
          shard.gen = expectGen
          shard.applied = expectApplied
        }
        Iterator.single((k, ExecutorGateState.taskLocation))
      }.collect()
    hosts.foreach { case (k, host) => shardHosts(k) = host }
    appliedFloor = expectApplied
    pending.clear()
    needRebuild = false
  }

  /** Test seam: orphan one shard's registry entry (wrong generation), as
    * an executor loss / task migration would — the next query must detect
    * it, rebuild from the store, and still answer correctly. */
  private[graft] def poisonShard(k: Int): Unit =
    ExecutorGateState.shardFor(storeKey, k, kind).gen = "poisoned"

  /** Total entries across shards (probe/spec telemetry). */
  def totalEntries: Long = {
    val (sKey, p, kd) = (storeKey, parts, kind)
    val rdd = new GateTaskRDD(spark.sparkContext,
      Array.fill(p)(ShardTask(Vector.empty[Q], Vector.empty[D])), shardHosts.clone())
    try rdd.mapPartitionsWithIndex { (k, _) =>
      Iterator.single(kd.size(ExecutorGateState.shardFor(sKey, k, kd).state.asInstanceOf[S]))
    }.collect().sum finally rdd.destroy()
  }
}

/** One shard's per-task payload: its query rows and its deltas, in order. */
private[graft] final case class ShardTask[Q, D](queries: Vector[Q], deltas: Vector[D])

private[graft] object ExecutorShards {

  type Index = ExecutorShards[IndexShard, IndexKind.Entry, IndexKind.Probe, IndexKind.Hit]
  type Payloads = ExecutorShards[java.util.HashMap[Any, AnyRef],
    (Any, AnyRef), Any, (Any, AnyRef)]
  type Seen = ExecutorShards[java.util.HashMap[Any, java.lang.Long],
    (Any, java.lang.Long), Any, (Any, java.lang.Long)]

  /** The shard count: the gate's `state_parts` when set (> 0), else ~one
    * shard per 2 cores, which keeps query tasks short while leaving
    * scheduler slots for the scan work. On a real cluster `state_parts`
    * would be sized to executors × cores. */
  def partsFor(spark: SparkSession, stateParts: Int): Int =
    if (stateParts > 0) stateParts
    else math.max(4, spark.sparkContext.defaultParallelism / 2)

  /** Owner-nonce stamp: two LIVE instances sharing a store path have
    * different nonces, so interleaved queries would ping-pong full
    * O(store) rebuilds (each instance's generation orphans the other's
    * shards) rather than erroring. Each instance stamps its nonce at
    * construction; a query finding someone else's stamp fails FAST with
    * the real diagnosis. Restart fixtures are unaffected — the abandoned
    * instance is never queried again. The marker is not `.parquet`, so
    * store scans/compaction never see it. */
  private def stampOwner(dir: String, marker: String, nonce: String): Unit =
    graft.io.StoreFs.forRoot(dir).writeString(
      GateStore.child(dir, marker), nonce)

  private def checkOwner(dir: String, marker: String,
      nonce: String, what: String): Unit = {
    val fs = graft.io.StoreFs.forRoot(dir)
    val f = GateStore.child(dir, marker)
    val cur =
      if (!fs.exists(f)) {
        // the whole store dir gone = the gate was DROPPED while this
        // instance lived (dropContTransform deletes root/<name> wholesale)
        // — this instance is the stale one; fail with that diagnosis
        // instead of letting stampOwner throw NoSuchFileException
        if (!fs.exists(dir))
          throw new IllegalStateException(
            s"executor $what shards at $dir: the store directory was deleted " +
              "(gate dropped?) while this instance was live — drop this instance")
        // marker alone deleted out-of-band (store dir cleaned/recreated
        // while instances live): RE-STAMP this caller's nonce instead of
        // assuming ownership, so another live instance still fails fast on
        // its next query rather than silently reverting to rebuild ping-pong
        stampOwner(dir, marker, nonce)
        nonce
      }
      else fs.readString(f)
    if (cur != nonce) throw new IllegalStateException(
      s"executor $what shards at $dir were superseded by another live instance " +
        s"(owner stamp $cur != this instance's $nonce): two gates share one " +
        "store path — drop this instance, or give each its own store")
  }
}

/** What one executor shard tier keeps and answers — the per-kind part of
  * [[ExecutorShards]]: routing, shard state, delta apply, query answer,
  * and the columns and decode of the rebuild scan. Serializable: it rides
  * every task closure, so it holds configuration only. */
private[graft] abstract class ShardKind[S <: AnyRef, D, Q, A] extends Serializable {
  /** Registry-key suffix; the owner marker is `_owner_<tag>`. */
  def tag: String
  def newState(): S
  def deltaShard(d: D, parts: Int): Int
  def queryShard(q: Q, parts: Int): Int
  def applyDelta(s: S, d: D): Unit
  /** Runs once after a rebuild applied every stored row. */
  def seal(s: S): Unit = ()
  def answer(s: S, queries: Vector[Q]): Seq[A]
  def size(s: S): Long
  def columns: Seq[Column]
  def decode(r: Row): D
}

/** Per-shard state of the near-dup bucket index: a [[ResidentIndex]]
  * (sorted main run + hashed delta — the driver hot tier's LSM layout)
  * plus id/ts pools addressed by its ord. Unbudgeted by DESIGN: a shard
  * holds store/P entries and the real bound is the executor heap × the
  * cluster's executor count — the point of the tier. */
private[graft] final class IndexShard(ttlEnabled: Boolean, withIds: Boolean) {
  val idx = new ResidentIndex(hasOrd = ttlEnabled || withIds, Long.MaxValue)
  val ts = new ArrayBuffer[Long]()
  val ids = new ArrayBuffer[Any]()
}

/** The near-dup gates' (bucket key → 64-bit aux [, store id, event time])
  * probe state, sharded by floorMod(bucket, P) (bucket keys are banded
  * hashes — uniform by construction).
  *
  * The aux word is the gate's inline similarity digest and ONE predicate
  * serves the whole family — popcount(auxBatch ^ auxStore) ≤ cutoff: the
  * SimHash fingerprint at Hamming radius maxDist, the jaccard parity
  * sketch and the cosine SRP sketch at their calibrated cutoffs (a
  * sketchless gate passes cutoff 64 ≡ every bucket-mate). Two answer
  * modes: `withIds = false` answers (rowIdx, null, 0) for a suppressed row
  * (the SimHash decision is aux-complete; a row may repeat across
  * buckets); `withIds = true` answers every sketch-admissible in-window
  * (rowIdx, store id, store tsMicros) pair for the owning gate's exact
  * payload verification (the split-store gates). A probe is (rowIdx,
  * bucket, aux, tsMicros); `ttlMicros` = 0 is unwindowed. */
private[graft] final case class IndexKind(ttlEnabled: Boolean, withIds: Boolean,
    auxCol: Option[String], cutoff: Int, ttlMicros: Long)
  extends ShardKind[IndexShard, IndexKind.Entry, IndexKind.Probe, IndexKind.Hit] {
  import IndexKind._

  def tag: String = "idx"
  def newState(): IndexShard = new IndexShard(ttlEnabled, withIds)
  def deltaShard(e: Entry, parts: Int): Int =
    java.lang.Math.floorMod(e.bucket, parts.toLong).toInt
  def queryShard(q: Probe, parts: Int): Int =
    java.lang.Math.floorMod(q._2, parts.toLong).toInt

  def applyDelta(s: IndexShard, e: Entry): Unit = {
    if (ttlEnabled) s.ts += e.ts
    if (withIds) s.ids += e.id
    s.idx.add(e.bucket, e.aux,
      if (ttlEnabled || withIds) math.max(s.ts.length, s.ids.length) - 1 else -1)
    ()
  }
  override def seal(s: IndexShard): Unit = s.idx.mergeDelta()

  def answer(s: IndexShard, probes: Vector[Probe]): Seq[Hit] = {
    val out = Vector.newBuilder[Hit]
    probes.foreach { case (rowIdx, b, aux, ts) =>
      var done = false
      s.idx.foreachMatch(b) { (sAux, ord) =>
        if (!done && java.lang.Long.bitCount(sAux ^ aux) <= cutoff &&
            (ttlMicros == 0L || s.ts(ord) > ts - ttlMicros)) {
          if (!withIds) { out += ((rowIdx, null, 0L)); done = true }
          else out += ((rowIdx, s.ids(ord), if (ttlMicros == 0L) 0L else s.ts(ord)))
        }
      }
    }
    out.result()
  }
  def size(s: IndexShard): Long = s.idx.size.toLong

  def columns: Seq[Column] = Seq(col("bucket"),
    auxCol.map(col).getOrElse(lit(0L)).cast("long")) ++
    (if (withIds) Seq(col("id")) else Nil) ++
    (if (ttlEnabled) Seq(unix_micros(col("ts"))) else Nil)
  def decode(r: Row): Entry = Entry(r.getLong(0), r.getLong(1),
    if (ttlEnabled) r.getLong(if (withIds) 3 else 2) else 0L,
    if (withIds) r.get(2) else null)
}

private[graft] object IndexKind {
  /** One exploded index entry: id is null when the gate is aux-complete. */
  final case class Entry(bucket: Long, aux: Long, ts: Long, id: Any)
  type Probe = (Int, Long, Long, Long)
  type Hit = (Int, Any, Long)
}

/** A (key → value) shard tier routed by key hash: a query is a key, the
  * answer is (key, value) for each PRESENT key. */
private[graft] abstract class MapKind[V <: AnyRef]
  extends ShardKind[java.util.HashMap[Any, V], (Any, V), Any, (Any, V)] {
  def newState(): java.util.HashMap[Any, V] = new java.util.HashMap[Any, V]()
  def deltaShard(d: (Any, V), parts: Int): Int = queryShard(d._1, parts)
  def queryShard(key: Any, parts: Int): Int =
    java.lang.Math.floorMod(if (key == null) 0 else key.hashCode, parts)
  def applyDelta(s: java.util.HashMap[Any, V], d: (Any, V)): Unit = {
    s.put(d._1, d._2); ()
  }
  def answer(s: java.util.HashMap[Any, V], keys: Vector[Any]): Seq[(Any, V)] =
    keys.flatMap(k => Option(s.get(k)).map(k -> _))
  def size(s: java.util.HashMap[Any, V]): Long = s.size.toLong
}

/** Phase 2's payload pool for the split-store gates: (store id →
  * stored-precision payload) — a long array, or a float array when
  * `floats`. The candidate payload FETCH becomes memory lookups instead of
  * an id-pruned parquet read whose cost creeps toward O(store) as candidate
  * ids span every range shard; only the CANDIDATES' payloads ship back,
  * and verification stays the gate's own exact `similar` on the driver —
  * one implementation of the math. An id the pool cannot answer falls back
  * to the gate's disk fetch: a pool miss is always correct, never wrong. */
private[graft] final case class PayloadKind(payloadCol: String, floats: Boolean)
  extends MapKind[AnyRef] {
  def tag: String = "pay"
  def columns: Seq[Column] = Seq(col("id"), col(payloadCol))
  def decode(r: Row): (Any, AnyRef) = (r.get(0),
    if (floats) r.getSeq[Float](1).toArray else r.getSeq[Long](1).toArray)
}

/** The exact dedup gate's membership tier: (key → max seen-time micros;
  * Long.MinValue unwindowed — presence is the signal). Replaces the gate's
  * two corpus-scale driver structures at once: the Bloom filter (billions
  * of keys at 100 TB = GB-scale driver bits) and the pruned store-presence
  * read; only the PRESENT keys ship back (bounded by true duplicates).
  * `keyCol` names the store's key column: "h" for the dedup gate's
  * seen-keys store, "gh" for the contamination gate's STATIC reference-gram
  * store (which never buffers a delta — membership only). */
private[graft] final case class SeenKind(keyCol: String, ttlEnabled: Boolean)
  extends MapKind[java.lang.Long] {
  def tag: String = "seen"
  override def applyDelta(s: java.util.HashMap[Any, java.lang.Long],
      d: (Any, java.lang.Long)): Unit = {
    val prev = s.get(d._1)
    if (prev == null || d._2.longValue > prev.longValue) s.put(d._1, d._2)
    ()
  }
  def columns: Seq[Column] =
    Seq(col(keyCol)) ++ (if (ttlEnabled) Seq(unix_micros(col("ts"))) else Nil)
  def decode(r: Row): (Any, java.lang.Long) = (r.get(0), java.lang.Long.valueOf(
    if (ttlEnabled && !r.isNullAt(1)) r.getLong(1) else Long.MinValue))
}

/** Executor-side shard registry — JVM-global so state outlives jobs. One
  * writer at a time per shard (the gate serializes its batches; rebuild
  * and query both take the shard monitor). */
private[graft] object ExecutorGateState {

  /** One shard: the consistency header plus the kind's state (replaced
    * wholesale by a rebuild). */
  final class Shard(@volatile var state: AnyRef) {
    @volatile var gen: String = ""
    @volatile var applied: Long = Long.MinValue
  }

  private val shards = new ConcurrentHashMap[String, Shard]()

  /** The running task's pin target, at EXECUTOR granularity (Spark's
    * `executor_<host>_<id>` TaskLocation form): the registry is per-JVM,
    * so a host-level pin would be satisfied by the WRONG executor when
    * two share a host — the shard would read as permanently stale. Local
    * mode pins by host (one JVM; locality is trivially satisfied). */
  def taskLocation: String = {
    val env = org.apache.spark.SparkEnv.get
    val host = env.blockManager.blockManagerId.host
    if (env.executorId == "driver") host
    else s"executor_${host}_${env.executorId}"
  }

  def shardFor(storeKey: String, k: Int, kind: ShardKind[_ <: AnyRef, _, _, _]): Shard =
    shards.computeIfAbsent(s"$storeKey#$k", _ => new Shard(kind.newState()))

  /** Store dirs with LIVE executor-tier instances constructed by THIS
    * driver — lets the drop path skip the cluster-wide sweep job for the
    * (common) gates that never used the executor backend. */
  private val liveDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[streaming] def registerLiveDir(dir: String): Unit = {
    liveDirs.add(dir); ()
  }

  /** Store dirs whose drop sweep gave up before reaching every executor
    * (value = executors missed by the LATEST give-up wave — an
    * APPROXIMATION: a retry that misses a different executor overwrites
    * the count, so the number says "how behind is the newest attempt",
    * not "exactly which JVMs still leak"): each missed JVM's registry
    * keeps the dropped gates' generation-fenced shards (never read
    * again, but heap-resident) until executor recycle OR a later sweep.
    * EVERY subsequent [[dropDistributedUnder]] — including one whose own
    * dir has no executor shards — retries the pending dirs in its tasks
    * and clears them once a wave reaches the whole cluster, so the leak
    * SELF-HEALS at the next drop of any gate instead of persisting
    * silently. Surfaced (as the missed-executor sum) via
    * `graft_gate_stats.pendingRemoteDrops`. */
  private val pendingDropDirs =
    new ConcurrentHashMap[String, Integer]()
  def pendingRemoteDrops: Long =
    pendingDropDirs.values().stream().mapToLong(_.toLong).sum()
  /** Test seams: spoof the cluster's executor count (forces the sweep to
    * miss "executors" no wave can reach) / reset the session state. */
  private[graft] var spoofExecutorCount: Option[Int] = None
  private[graft] def resetPendingRemoteDrops(): Unit = {
    pendingDropDirs.clear(); ()
  }

  /** Drop-path eviction across the WHOLE cluster: sweep this JVM's
    * registry, then — when the dropped store ever had executor-tier
    * instances and the master is not local — run one short job with a
    * task per core slot so every executor JVM sweeps its own registry
    * (at stage submit the scheduler fills every free slot in one wave,
    * so ≥ totalSlots instantaneous tasks reach every executor; the
    * visited-executor check retries the rare miss). Without this, a
    * dropped gate's REMOTE shards — generation-fenced, so never read
    * again — would wait for executor recycle to free their heap.
    * Reference anchor: the reaper/terminate path frees per-CQ combiner
    * state (scheduler.c:584-698), it does not leak it until process
    * exit. */
  def dropDistributedUnder(spark: SparkSession, dir: String): Unit = {
    dropUnder(dir)
    val prefix = if (dir.endsWith("/")) dir else dir + "/"
    var had = false
    val it = liveDirs.iterator()
    while (it.hasNext) {
      val d = it.next()
      if (d == dir || d.startsWith(prefix) || d.startsWith(dir + "#")) {
        it.remove(); had = true
      }
    }
    val sc = spark.sparkContext
    // run the sweep when THIS dir had executor-tier shards, OR when a
    // previous sweep left pending debt — otherwise a cluster that never
    // drops another executor-backed gate would keep the leaked shards
    // until executor recycle, making the "self-heal" conditional on
    // unrelated future work
    if (sc.isLocal || (!had && pendingDropDirs.isEmpty)) return
    def executors(): Int = spoofExecutorCount.getOrElse(
      math.max(0, sc.statusTracker.getExecutorInfos.length - 1))
    // this sweep also retries every dir a PREVIOUS sweep gave up on --
    // the task payload is a name list, so piggybacking costs nothing
    val dirs: Seq[String] =
      dir +: pendingDropDirs.keySet().toArray(Array.empty[String]).toSeq
    val visited = scala.collection.mutable.Set[String]()
    var attempts = 0
    while (attempts < 3 && visited.size < executors()) {
      val slots = math.max(sc.defaultParallelism, executors() * 2) * 2
      visited ++= sc.parallelize(0 until slots, slots).mapPartitions { _ =>
        dirs.foreach(ExecutorGateState.dropUnder)
        Iterator.single(org.apache.spark.SparkEnv.get.executorId)
      }.collect()
      attempts += 1
    }
    val missed = executors() - visited.size
    if (missed <= 0) {
      // full-cluster wave: every pending dir was swept everywhere, so any
      // previously-leaked dead shards are gone -- the counter self-heals
      if (!pendingDropDirs.isEmpty) {
        pendingDropDirs.clear()
        System.err.println(s"[graft] drop sweep for $dir reached all " +
          s"${executors()} executors; previously-pending drops cleared " +
          "(graft_gate_stats.pendingRemoteDrops back to 0)")
      }
    } else {
      // LOUD give-up: a sweep that never reached every executor leaves
      // heap-resident (dead) shards there until recycle OR a later full
      // sweep (the retry above) -- record it and name what we know,
      // instead of exiting without a trace. Record only dirs that ever
      // HELD executor shards (this dir when had, plus the already-pending
      // debt) -- a shard-less dir riding the retry piggyback must not
      // inflate the counter
      val record = (if (had) Seq(dir) else Nil) ++ dirs.drop(1)
      record.foreach(d => pendingDropDirs.put(d, Integer.valueOf(missed)))
      System.err.println(s"[graft] drop sweep for $dir gave up after " +
        s"$attempts waves: reached ${visited.size} of ${executors()} " +
        s"executors (ids ${visited.toSeq.sorted.mkString(",")}) -- $missed " +
        "executor(s) keep dead shards until recycle or the next full " +
        "sweep (graft_gate_stats.pendingRemoteDrops)")
    }
  }

  /** Drop-path eviction, THIS JVM only: free every shard registered under
    * a store-root prefix (the engine deletes `root/<gate>/` wholesale).
    * Executor tasks of [[dropDistributedUnder]]'s sweep job call this in
    * their own JVMs. */
  def dropUnder(dir: String): Unit = {
    val prefix = if (dir.endsWith("/")) dir else dir + "/"
    val it = shards.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k.startsWith(prefix) || k.startsWith(dir + "#")) it.remove()
    }
  }

  /** Test seam: live registry entries under a store-root prefix. */
  private[graft] def registeredUnder(dir: String): Int = {
    val prefix = if (dir.endsWith("/")) dir else dir + "/"
    var n = 0
    shards.keySet().forEach(k =>
      if (k.startsWith(prefix) || k.startsWith(dir + "#")) n += 1)
    n
  }
}


/** An RDD whose P partitions each carry ONE pre-grouped task payload and
  * prefer the executor that last hosted their shard — the minimal form of
  * Structured Streaming's StateStoreRDD placement contract. No shuffle:
  * the payload is batch-bounded, grouped on the driver, and ships as ONE
  * BROADCAST of the per-shard array — partitions carry only their index,
  * so tasks serialize small (kilobytes) however large the batch; probe
  * slices riding the Partition objects instead were serialized through
  * the scheduler per task (measured "task of very large size (1696 KiB)"
  * warnings at 5k-row batches — tens of MB of driver→executor closure
  * traffic per 100k-row batch). Callers MUST [[destroy]] after the job —
  * one probe per batch would otherwise leak a broadcast per batch. */
private[graft] final class GateTaskRDD[T: scala.reflect.ClassTag](
    sc: SparkContext,
    @transient private val payload: Array[T],
    hosts: Array[String])
  extends RDD[T](sc, Nil) {

  private val bc = sc.broadcast(payload)

  override def getPartitions: Array[Partition] =
    payload.indices.map(i => new GateTaskPartition(i): Partition).toArray

  override def compute(split: Partition, context: TaskContext): Iterator[T] =
    Iterator.single(bc.value(split.index))

  override def getPreferredLocations(split: Partition): Seq[String] = {
    val h = hosts(split.index)
    if (h == null || h.isEmpty) Nil else Seq(h)
  }

  /** Release the batch's broadcast blocks — driver AND executor copies.
    * In Spark 4 the no-arg `Broadcast.destroy()` delegates to
    * `destroy(blocking = false)` (verified in spark-core 4.1.2 bytecode:
    * `destroy()` loads iconst_0), so this is an async message, not a
    * per-job synchronous round-trip — unlike `unpersist(false)`, which
    * frees only executor copies and leaves the DRIVER block to linger
    * until the Broadcast object is GC'd and ContextCleaner reaps it. */
  def destroy(): Unit = bc.destroy()
}

private final class GateTaskPartition(override val index: Int)
  extends Partition
