package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cv.ContViewEngine
import graft.sketch.BloomFilter

/** Streaming exact-dedup gate: a continuous transform that forwards only the
  * FIRST occurrence of each content key ever seen on a stream, in arrival
  * order — the incremental form of the batch `q_dedup_exact` operator, and
  * the step a production ingest pipeline runs so duplicate documents never
  * reach downstream state at all.
  *
  * Semantics (deterministic given batch order and a unique `orderCol`):
  *  - within a batch, the row with the lowest `orderCol` wins its key
  *    (ties on `orderCol` are broken arbitrarily — feed a unique id);
  *  - across batches, a key admitted once is never admitted again;
  *  - a row whose key evaluates to NULL is ALWAYS forwarded and never
  *    stored (an incomparable key can't deduplicate — same policy as the
  *    near-dup gates, whose null fingerprints generate no candidates);
  *  - survivors are forwarded to `sink` with the key attached as `h`.
  *
  * DELIVERY — two modes (reference anchor: stream_insert_level,
  * microbatch.h:33-56 — at-least-once is the throughput default,
  * `sync_commit`'s durability handshake maps to the exactly-once spool):
  *
  *  - `at_least_once` (default): the sink forward runs BEFORE the
  *    seen-store append, so a batch that fails mid-gate can be retried
  *    without losing documents; the retried batch's survivors may reach
  *    the sink twice (detectable downstream via `h`), but a document can
  *    never be silently suppressed by state its failed delivery left
  *    behind.
  *  - `exactly_once`: each batch is an epoch of the gate family's one
  *    spool protocol, [[GateEpochs]] — the flagged batch is spooled by ONE
  *    atomic rename, then the seen-keys append, the sink delivery, and a
  *    `delivered_<E>` marker follow, and recovery re-derives the keys (or
  *    the windowed (h, max ts) rows) of any undelivered epoch from its
  *    spool. The plain and the windowed gate run the same protocol.
  *    Residual windows are [[GateEpochs]]' (the sink ack window), plus
  *    null-KEY rows, which carry no identity and stay at-least-once under
  *    upstream re-feed.
  *
  * Mechanics, sized for the 100-TB regime:
  *  - The seen-key store is APPEND-ONLY key-column parquet (a dedup set
  *    only grows): each batch whose survivors are non-empty appends ONE
  *    file via temp-write + atomic rename — no read-modify-write of
  *    existing state, so per-batch write cost is O(new keys), never
  *    O(corpus). Auto-compaction (`compactEvery`) folds the per-batch
  *    files so listing/footer overhead stays bounded indefinitely.
  *  - A driver-resident Bloom filter gates the expensive path, and it
  *    STAYS driver-resident: the batch's distinct keys are collected once
  *    (bounded by batch size — megabytes at worst) and probed on the
  *    driver, because shipping a corpus-sized filter (megabytes once
  *    regrown) into every executor task as a literal costs more than the
  *    scan it saves. Keys whose probe misses are DEFINITELY new (no false
  *    negatives) and skip the store entirely; a batch of genuinely fresh
  *    content costs zero store reads. The per-batch filter update is a
  *    driver-side add of the same collected keys — every non-null batch
  *    key ends up stored-or-already-stored, so the bloom ⊇ store
  *    invariant is exact.
  *  - Bloom-positive candidates prune the store read twice: at FILE level
  *    against the range-stamped compaction shards (GateStore.pruned) and
  *    at ROW level via an in-set filter, so the anti-join's store side is
  *    bounded by the batch's candidate keys, not the corpus. The filter
  *    regrows at compaction (exact store count known there), so the fast
  *    path survives unbounded streams.
  *
  * The batch lifecycle is [[ShardedGate]]'s (this class is its
  * [[ShardableGateCore]]): batches are serialized on the gate — the
  * engine's sync and async ingest paths already order batches, and the
  * gate's first-wins guarantee is only meaningful under an ordered feed.
  *
  * Restart: `create` on an engine whose catalog already replayed this
  * transform re-binds the callback and `bootstrap` rebuilds the bloom from
  * the persisted store — suppression resumes exactly. (The DDL spelling,
  * `outputfunc = dedup_gate(...)`, replays without any re-run of user
  * code: ContViewEngine.createGateTransform.)
  *
  * Reference anchor: the transform surface is pipelinedb's CREATE VIEW with
  * action=transform + output function (commands.c:219-253); the dedup
  * semantics layered on it are beyond-ref (training-data pipeline).
  */
final class StreamDedupGate private[streaming] (
    eng: ContViewEngine,
    val name: String,
    keySql: String,
    orderCol: String,
    storeDir: String,
    bloomP: Double,
    bloomN0: Int,
    compactEvery: Int,
    ttlMillis: Long = 0L,
    ttlColumn: String = "",
    backend: String = StreamDedupGate.DriverBackend,
    stateParts: Int = 0,
    shardId: Int = 0,
    private[streaming] val shardCount: Int = 1) extends ShardableGateCore {

  require(ttlMillis >= 0, s"negative ttl $ttlMillis")
  require(ttlMillis == 0 || ttlColumn.nonEmpty,
    "a windowed gate needs the event-time column: pass ttlColumn")
  require(backend == StreamDedupGate.DriverBackend ||
    backend == StreamDedupGate.ExecutorBackend,
    s"unknown state backend '$backend'")

  /** EXECUTOR STATE BACKEND — `backend = "executor"`
    * ([[SeenKind]] shards): the seen-key membership moves to
    * key-hash-partitioned executor-local shards, replacing BOTH
    * corpus-scale driver structures at once — the Bloom filter (GB-scale
    * bits at 100-TB key counts) and the pruned store-presence read. Per
    * batch: one P-partition job shipping the batch's distinct keys +
    * the previous batch's delta, only the PRESENT keys (true duplicates)
    * coming back. Decision semantics bit-identical to the driver path. */
  private val executorBackend = backend == StreamDedupGate.ExecutorBackend

  /** WINDOWED (TTL) MODE — `ttlMillis` > 0: a key suppresses a later
    * arrival only if it was SEEN (admitted or suppressed — seen-based,
    * like the whole family) within the trailing window: suppressed(d) ⇔
    * ∃ earlier arrival d' with the same key and d'.ts > d.ts − ttl, where
    * ts is `ttlColumn` (event time — deterministic and oracle-mirrorable,
    * unlike the wall clock). Every arrival refreshes its key's seen-time,
    * so the store records (h, max ts per key per batch) for ALL rows —
    * O(batch distinct keys) per append, like the near-dup gates — and
    * compaction REAPS rows older than (max seen ts − ttl), keeping the
    * store bounded by the window instead of the stream's lifetime
    * (reaper.c:49-352's TTL semantics on the gate store). Rows with a
    * NULL event time pass through un-stored (an incomparable time can't
    * window), mirroring the null-key rule. Caveat, documented not hidden:
    * the reaper assumes event time roughly tracks arrival — an event
    * arriving more than `ttl` behind the max seen time may find its
    * suppressor already reaped (the standard watermark trade). */
  private val ttlEnabled = ttlMillis > 0
  // max event time ever seen (MICROS — millisecond math would disagree
  // with a microsecond oracle at window boundaries) — the reaper cutoff;
  // restored at bootstrap
  private var maxSeenTsMicros = Long.MinValue
  private val ttlMicros = ttlMillis * 1000L

  @inline private def microsToTs(m: Long): java.sql.Timestamp = {
    val sec = Math.floorDiv(m, 1000000L)
    val t = new java.sql.Timestamp(sec * 1000L)
    t.setNanos((m - sec * 1000000L).toInt * 1000)
    t
  }

  private var bloom = BloomFilter.empty(bloomP, bloomN0)
  private var bloomN = bloomN0
  private var batches = 0L

  /** Executor-partitioned seen-key store (executor backend only). */
  private val execSeen: ExecutorShards.Seen =
    if (!executorBackend) null
    else new ExecutorShards(eng.spark, storeDir,
      ExecutorShards.partsFor(eng.spark, stateParts), SeenKind("h", ttlEnabled))
  /** Probe/spec seam (null on the driver backend). */
  private[graft] def executorSeen: ExecutorShards.Seen = execSeen
  private[graft] def kind: String = "dedup"
  private[graft] def backendInfo: (String, Int) =
    (backend, if (execSeen == null) 0 else execSeen.parts)

  protected def engineSession: SparkSession = eng.spark

  /** Current bloom design size (grows at compaction — see [[compactNow]]). */
  private[streaming] def currentBloomN: Int = synchronized(bloomN)

  /** Key-hash ownership: core k owns the keys with
    * pmod(xxhash64(h), G) = k (all of them at G = 1). */
  private def ownerCol: org.apache.spark.sql.Column =
    pmod(xxhash64(col("h")), lit(shardCount))
  private def owned(keyed: DataFrame): DataFrame =
    if (shardCount == 1) keyed else keyed.where(ownerCol === lit(shardId))

  /** Restart bootstrap: a re-created gate on an existing store resumes
    * exactly — the key set IS the store; only the bloom is memory-resident,
    * and one distributed bloom_agg over the persisted keys rebuilds it.
    * (Exactly-once recovery of an interrupted epoch then runs in the
    * loop's construction — [[GateEpochs.recoverStores]] — and feeds the
    * recovered keys through [[commitRecovered]].) */
  private[streaming] def bootstrap(): Unit = {
    // same-JVM restart fixtures: wait out any deferred commit an abandoned
    // instance of this store still has in flight (see CommitPipeline)
    CommitPipeline.drainRoots(storeRoots)
    synchronized {
      val files = GateStore.files(storeDir)
      if (files.nonEmpty && !executorBackend) {
        // right-size FIRST (metadata-only count): a corpus-sized store under
        // the construction-time design n would run the filter saturated.
        // (executor backend: no driver bloom at all — membership lives on
        // the shards, rebuilt lazily at the first lookup)
        bloomN = GateStore.bloomSizeFor(
          eng.spark.read.parquet(files: _*).count(), bloomN)
        bloom = GateStore.buildBloom(eng.spark, storeDir, "h", bloomP, bloomN)
      }
      batches = storeMaxBatch
      if (ttlEnabled && files.nonEmpty) {
        val r = eng.spark.read.parquet(files: _*)
          .agg(max(unix_micros(col("ts")))).collect()(0)
        if (!r.isNullAt(0)) maxSeenTsMicros = r.getLong(0)
      }
    }
  }

  private[streaming] override def storeMaxBatch: Long =
    GateStore.maxBatch(storeDir, "keys")
  private[streaming] override def storeRoots: Seq[String] = Seq(storeDir)
  private[streaming] def orderColName: String = orderCol

  /** Fold the per-batch key files into key-range shards (also runs
    * automatically every `compactEvery` batches) — a parallel rewrite,
    * never a single-task funnel. Crash-safe without a manifest because a
    * dedup store tolerates DUPLICATED keys — the anti-join result is
    * identical — so the shards land before the olds are unlinked. The
    * exact key count compaction surfaces right-sizes the driver bloom: on
    * an unbounded stream a fixed-n filter would saturate toward fp-rate 1
    * and silently degrade every batch to the full store anti-join, so the
    * filter is regrown (and rebuilt distributed) once the store outgrows
    * its design size. */
  private[streaming] override def compactNow(): Unit = synchronized {
    val cols = if (ttlEnabled) Seq("h", "ts") else Seq("h")
    // the TTL reaper: expired seen-times drop at fold time
    val reap =
      if (ttlEnabled && maxSeenTsMicros != Long.MinValue)
        Some(col("ts") > lit(microsToTs(maxSeenTsMicros - ttlMicros)))
      else None
    val n = GateStore.compact(eng.spark, storeDir, "keys", cols, batches,
      sortCol = Some("h"), rowFilter = reap)
    // the fold rewrote (and in windowed mode reaped) the key files: the
    // executor shards rebuild from the new snapshot at the next lookup
    if (executorBackend) { execSeen.invalidate(); return }
    if (n > bloomN) {
      bloomN = GateStore.bloomSizeFor(n, bloomN)
      System.err.println(s"[graft] StreamDedupGate($name): store at $n keys " +
        s"outgrew the bloom design size; regrowing filter to n=$bloomN")
      bloom = GateStore.buildBloom(eng.spark, storeDir, "h", bloomP, bloomN)
    }
  }

  private[streaming] override def maybeCompact(): Unit =
    if (compactEvery > 0 && synchronized(batches) % compactEvery == 0) compactNow()

  private[streaming] override def seedStore(rows: DataFrame, batch: Long): Unit =
    synchronized {
      batches = batch
      val keys = owned(rows.withColumn("h", expr(keySql)).where(col("h").isNotNull))
        .select("h")
      GateStore.append(keys, storeDir, "keys", batches, sortCol = Some("h"))
      if (executorBackend) execSeen.invalidate()
      else keys.collect().foreach(r => bloom.add(r.get(0)))
    }

  // ---- the batch lifecycle (ShardableGateCore) ---------------------------

  /** The batch's ONE bounded collect: (orderCol, key) per non-null-key row
    * — plus the event time (micros, windowed mode; rows with a null event
    * time pass through un-stored) and, at G ≥ 2, the owning core. */
  private final class Collected(
      val rows: Array[(Any, Any)],
      val ts: Array[Long],
      val owner: Array[Long])

  /** One core's decision over its key slice. Plain mode: within-batch
    * first-wins, the store-present keys, and the winners whose key is
    * new (the store append); windowed mode: the (h, max ts) seen-refresh
    * rows. */
  private final class Decision(
      val keyed: DataFrame,
      val batch: Long,
      val rows: Array[(Any, Any)],
      val batchKeys: Array[Any],
      val suppressedIds: java.util.HashSet[Any],
      val present: java.util.HashSet[Any],
      val newKeys: java.util.ArrayList[org.apache.spark.sql.Row],
      val storeSuppressedNullId: Int,
      val maxByKey: java.util.HashMap[Any, java.lang.Long])

  private[streaming] def prepareBatch(batch: DataFrame,
      obs: org.apache.spark.sql.Observation): DataFrame =
    // input-row count rides the first action via observe() — a separate
    // batch.count() would re-run the transform projection per batch
    batch.drop("arrival_timestamp")
      .observe(obs, count(lit(1)).as("rows"))
      .withColumn("h", expr(keySql))
      .persist()

  private[streaming] def collectBatchRows(keyed: DataFrame): AnyRef = {
    val base = keyed.where(col("h").isNotNull)
    val live = if (ttlEnabled) base.where(col(ttlColumn).isNotNull) else base
    val cols = Seq(col(orderCol), col("h")) ++
      (if (ttlEnabled) Seq(unix_micros(col(ttlColumn).cast("timestamp"))) else Nil) ++
      (if (shardCount > 1) Seq(ownerCol) else Nil)
    val rs = live.select(cols: _*).collect()
    new Collected(rs.map(r => (r.get(0), r.get(1))),
      if (ttlEnabled) rs.map(_.getLong(2)) else null,
      if (shardCount > 1) rs.map(_.getLong(cols.length - 1)) else null)
  }

  private[streaming] def decideBatch(keyed: DataFrame, rows0: AnyRef,
      batch: Long): AnyRef = synchronized {
    batches = batch
    val all = rows0.asInstanceOf[Collected]
    val mine: Array[Int] =
      if (all.owner == null) null
      else all.owner.indices.filter(i => all.owner(i) == shardId).toArray
    val rows = if (mine == null) all.rows else mine.map(all.rows(_))
    if (ttlEnabled)
      decideWindowed(keyed, batch, rows,
        if (mine == null) all.ts else mine.map(all.ts(_)))
    else decidePlain(keyed, batch, rows)
  }

  /** First-wins + bloom + store presence. The whole suppression decision
    * runs on the driver: within-batch first-wins is a hash group + min,
    * the bloom is probed in place (never shipped to executors), and the
    * store check collects ONLY the candidate keys actually present in the
    * pruned, in-set-filtered store slice — zero shuffles. */
  private def decidePlain(keyed: DataFrame, batch: Long,
      rows: Array[(Any, Any)]): Decision = {
    val batchKeys: Array[Any] = rows.map(_._2).distinct
    // within-batch first-wins: min orderCol per key; later rows of the
    // same key are suppressed (rows with a null order id can't order
    // and are never suppressed — the unique-orderCol contract)
    val winnerByKey = new java.util.HashMap[Any, (Any, Int)]()
    val suppressedIds = new java.util.HashSet[Any]()
    if (rows.length != batchKeys.length) {
      var i = 0
      while (i < rows.length) {
        val (id, h) = rows(i)
        val prev = winnerByKey.get(h)
        if (prev == null) winnerByKey.put(h, (id, i))
        else if (prev._1 == null) {
          // a null-order-id winner keeps its key (nulls order first, as
          // the window path did); a later non-null row is suppressed; a
          // SECOND null-id row cannot be targeted by any id filter and
          // passes through — off the unique-orderCol contract either way
          if (id != null) suppressedIds.add(id)
        } else if (id == null || GateStore.lt(id, prev._1)) {
          suppressedIds.add(prev._1)
          winnerByKey.put(h, (id, i))
        } else suppressedIds.add(id)
        i += 1
      }
    } else rows.foreach { case (id, h) => winnerByKey.put(h, (id, -1)) }
    val present = storePresence(keyed, batchKeys)
    // a winner whose key is already stored is suppressed too; the others
    // are the batch's new keys — what the store append records
    var storeSuppressedNullId = 0
    val newKeys = new java.util.ArrayList[org.apache.spark.sql.Row]()
    winnerByKey.forEach { (h, winner) =>
      if (present.contains(h)) {
        if (winner._1 != null) suppressedIds.add(winner._1)
        else storeSuppressedNullId += 1
      } else { newKeys.add(org.apache.spark.sql.Row(h)); () }
    }
    new Decision(keyed, batch, rows, batchKeys, suppressedIds, present,
      newKeys, storeSuppressedNullId, null)
  }

  /** The store-present subset of the batch's keys. Bloom gate: misses are
    * definitely-new and bypass the store scan; only possible repeats (true
    * dups + ~p false positives) pay the store-presence check — a collect
    * of the candidate keys that exist in the pruned slice (bounded by the
    * candidate count itself). */
  private def storePresence(keyed: DataFrame,
      batchKeys: Array[Any]): java.util.HashSet[Any] = {
    val set = new java.util.HashSet[Any]()
    if (executorBackend) {
      // distributed membership: ship the batch's distinct keys, get the
      // present ones back — no driver bloom, no store read
      execSeen.query(batchKeys).foreach(kt => { set.add(kt._1); () })
      return set
    }
    val s = coreSession
    val storeF = GateStore.storeFiles(storeDir)
    val cand = batchKeys.filter(bloom.contains)
    if (storeF.nonEmpty && cand.nonEmpty) {
      if (GateStore.pushdownOk(cand)) {
        GateStore.withInPushdown(s, cand.length)(
          s.read.parquet(GateStore.pruned(storeF, cand): _*)
            .where(GateStore.inSetCol(col("h"), cand.toSeq))
            .select("h").collect()).foreach(r => set.add(r.get(0)))
      } else {
        // candidate set too big for task closures (measured ~45 B per
        // md5 key — a 100k-row batch's candidates cross Spark's 1 MiB
        // task warning): ship it ONCE per executor as a broadcast
        // semi-join side instead; result identical
        s.read.parquet(GateStore.pruned(storeF, cand): _*)
          .join(broadcast(candidates(s, keyed, cand)), Seq("h"), "left_semi")
          .select("h").collect().foreach(r => set.add(r.get(0)))
      }
    }
    set
  }

  /** Candidate keys as a one-column `h` frame (the broadcast side of the
    * over-the-task-binary-bound store reads). */
  private def candidates(s: org.apache.spark.sql.SparkSession, keyed: DataFrame,
      cand: Array[Any]): DataFrame = {
    val hType = keyed.schema(keyed.schema.fieldIndex("h")).dataType
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](cand.length)
    cand.foreach(k => { rows.add(org.apache.spark.sql.Row(k)); () })
    s.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("h", hType))))
  }

  /** Windowed decision: per-key arrival-ordered pass over the collected
    * (orderCol, key, ts) rows against the store's max seen-time per
    * candidate key — same zero-shuffle shape as the plain decision, plus
    * the per-row window compare. */
  private def decideWindowed(keyed: DataFrame, batch: Long,
      rows: Array[(Any, Any)], ts: Array[Long]): Decision = {
    val s = coreSession
    val batchKeys: Array[Any] = rows.map(_._2).distinct
    // store lookup: max stored seen-time per bloom-positive candidate
    // key — (h, micros) rows collected and maxed on the driver (bounded
    // by the candidate slice; no shuffle)
    val storeMax = new java.util.HashMap[Any, java.lang.Long]()
    if (executorBackend) {
      execSeen.query(batchKeys).foreach { case (k, t) =>
        if (t.longValue != Long.MinValue) storeMax.put(k, t)
        ()
      }
    } else {
      val storeF = GateStore.storeFiles(storeDir)
      val cand = batchKeys.filter(bloom.contains)
      if (storeF.nonEmpty && cand.nonEmpty) {
        val collected =
          if (GateStore.pushdownOk(cand)) {
            GateStore.withInPushdown(s, cand.length)(
              s.read.parquet(GateStore.pruned(storeF, cand): _*)
                .where(GateStore.inSetCol(col("h"), cand.toSeq))
                .select(col("h"), unix_micros(col("ts")))
                .collect())
          } else {
            // over the task-binary bound: broadcast-join the candidates
            // (seen-times needed, so inner join rather than semi)
            s.read.parquet(GateStore.pruned(storeF, cand): _*)
              .join(broadcast(candidates(s, keyed, cand)), Seq("h"))
              .select(col("h"), unix_micros(col("ts")))
              .collect()
          }
        collected.foreach { r =>
          if (!r.isNullAt(1)) {
            val t = r.getLong(1)
            val prev = storeMax.get(r.get(0))
            if (prev == null || t > prev) storeMax.put(r.get(0), t)
          }
        }
      }
    }
    // per-key pass in arrival (orderCol) order: an earlier arrival
    // suppresses a later one iff its seen-time is inside the window;
    // every arrival (suppressed or not) refreshes the running max
    val byKey = new java.util.HashMap[Any, java.util.ArrayList[Integer]]()
    var i = 0
    while (i < rows.length) {
      byKey.computeIfAbsent(rows(i)._2, _ => new java.util.ArrayList[Integer]())
        .add(i)
      i += 1
    }
    val suppressedIds = new java.util.HashSet[Any]()
    byKey.forEach { (h, list) =>
      val idxs = new Array[Integer](list.size)
      list.toArray(idxs)
      // arrival order within the batch = orderCol order (nulls first,
      // matching the plain decision's first-wins)
      java.util.Arrays.sort(idxs, (a: Integer, b: Integer) => {
        val (ia, ib) = (rows(a)._1, rows(b)._1)
        if (ia == null && ib == null) 0
        else if (ia == null) -1
        else if (ib == null) 1
        else ia.asInstanceOf[Comparable[Any]].compareTo(ib)
      })
      var prevMax = Option(storeMax.get(h)).map(_.longValue).getOrElse(Long.MinValue)
      var k = 0
      while (k < idxs.length) {
        val id = rows(idxs(k))._1
        val tsUs = ts(idxs(k))
        if (id != null && prevMax != Long.MinValue && prevMax > tsUs - ttlMicros)
          suppressedIds.add(id)
        if (tsUs > prevMax) prevMax = tsUs
        k += 1
      }
    }
    new Decision(keyed, batch, rows, batchKeys, suppressedIds, null, null, 0,
      maxTsByKey(rows.iterator.map(_._2), ts.iterator))
  }

  /** Seen-refresh rows: ONE (h, max ts) per key — every arrival
    * refreshes, suppressed or not — advancing the reaper's watermark. */
  private def maxTsByKey(keys: Iterator[Any],
      ts: Iterator[Long]): java.util.HashMap[Any, java.lang.Long] = {
    val maxByKey = new java.util.HashMap[Any, java.lang.Long]()
    keys.zip(ts).foreach { case (h, t) =>
      val prev = maxByKey.get(h)
      if (prev == null || t > prev) maxByKey.put(h, t)
      if (t > maxSeenTsMicros) maxSeenTsMicros = t
    }
    maxByKey
  }

  private[streaming] def suppressedOf(ctx: AnyRef): java.util.HashSet[Any] =
    ctx.asInstanceOf[Decision].suppressedIds

  /** A suppressed null-order-id winner can only be filtered BY KEY: once
    * any core has one, the survivor predicate drops every row whose key
    * is store-present (the key slices are disjoint, so the union of the
    * cores' present sets is exact). */
  private def keyBased(ds: Seq[Decision]): Boolean =
    ds.exists(_.storeSuppressedNullId > 0)

  /** Exact over the collected rows the predicate covers (off-contract
    * duplicate order ids can make it differ from the suppressed-set size). */
  private[streaming] override def droppedOf(ctxs: Seq[AnyRef],
      sup: java.util.HashSet[Any]): Long = {
    if (ttlEnabled) return sup.size.toLong
    val ds = ctxs.map(_.asInstanceOf[Decision])
    val byKey = keyBased(ds)
    var d = 0L
    ds.foreach { c =>
      c.rows.foreach { case (id, h) =>
        if ((byKey && c.present.contains(h)) || (id != null && sup.contains(id)))
          d += 1
      }
    }
    d
  }

  private[streaming] override def withAdmitted(keyed: DataFrame,
      ctxs: Seq[AnyRef], sup: java.util.HashSet[Any]): DataFrame = {
    val ds = ctxs.map(_.asInstanceOf[Decision])
    if (ttlEnabled || !keyBased(ds)) super.withAdmitted(keyed, ctxs, sup)
    else {
      val presentKeys = ds.flatMap(_.present.toArray)
      keyed.withColumn(GateEpochs.AdmittedCol, col("h").isNull ||
        (!GateStore.inSetCol(col("h"), presentKeys) &&
          (col(orderCol).isNull ||
            !GateStore.inSetCol(col(orderCol), sup.toArray.toSeq))))
    }
  }

  /** The store append: the plain gate's new keys, or the windowed gate's
    * (h, max ts) seen-refresh rows — driver-direct parquet writes (no
    * Spark job; GateStore.appendLocal) — then the bloom and executor-shard
    * updates. Every non-null batch key ends up stored-or-already-stored,
    * so adding them all keeps bloom ⊇ store. */
  private[streaming] override def commitIndexBatch(ctx: AnyRef): Unit =
    synchronized {
      val d = ctx.asInstanceOf[Decision]
      if (ttlEnabled) appendTtlKeys(d.keyed, d.maxByKey, d.batch)
      else appendNewKeys(d.keyed, d.newKeys, d.batch)
      if (!executorBackend) d.batchKeys.foreach(bloom.add)
    }

  private def appendNewKeys(keyed: DataFrame,
      newKeys: java.util.ArrayList[org.apache.spark.sql.Row], batch: Long): Unit = {
    if (!newKeys.isEmpty) {
      val hType = keyed.schema(keyed.schema.fieldIndex("h")).dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("h", hType)))
      if (!GateStore.appendLocal(newKeys, schema, storeDir, "keys", batch,
          sortCol = Some("h")))
        GateStore.append(keyed.sparkSession.createDataFrame(newKeys, schema),
          storeDir, "keys", batch, sortCol = Some("h"))
    }
    // executor shards: the new winners' keys ride the next lookup job —
    // AFTER the durable append (the module-wide ordering contract)
    if (executorBackend) {
      val delta = new Array[(Any, java.lang.Long)](newKeys.size)
      var i = 0
      while (i < newKeys.size) {
        delta(i) = (newKeys.get(i).get(0), Long.MinValue)
        i += 1
      }
      execSeen.bufferDelta(delta)
    }
  }

  /** The windowed store append: ONE (h, max ts) row per batch key. */
  private def appendTtlKeys(keyed: DataFrame,
      maxByKey: java.util.HashMap[Any, java.lang.Long], batch: Long): Unit = {
    if (maxByKey.isEmpty) return
    val hType = keyed.schema(keyed.schema.fieldIndex("h")).dataType
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](maxByKey.size)
    maxByKey.forEach { (h, t) =>
      out.add(org.apache.spark.sql.Row(h, microsToTs(t.longValue))); ()
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("h", hType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    if (!GateStore.appendLocal(out, schema, storeDir, "keys", batch,
        sortCol = Some("h")))
      GateStore.append(keyed.sparkSession.createDataFrame(out, schema),
        storeDir, "keys", batch, sortCol = Some("h"))
    // executor shards: delta AFTER the durable append (the module-wide
    // ordering contract) — a failed append must fail the batch WITHOUT
    // the shards learning its keys, or the retry would self-suppress
    if (executorBackend) {
      val delta = new scala.collection.mutable.ArrayBuffer[(Any, java.lang.Long)]()
      maxByKey.forEach { (h, t) => delta += ((h, t)); () }
      execSeen.bufferDelta(delta.toArray)
    }
  }

  /** Re-derive this core's append for `epoch` from the spooled batch: the
    * admitted rows' keys ARE the plain gate's new keys (deterministic);
    * the windowed gate re-derives (h, max ts) from every arrival. Skipped
    * when the store already holds the epoch; the bloom (or the executor
    * shards) learn the keys either way. */
  private[streaming] override def commitRecovered(spooled: DataFrame,
      epoch: Long): Unit = synchronized {
    if (batches < epoch) batches = epoch
    val need = GateStore.maxBatch(storeDir, "keys") < epoch
    if (ttlEnabled) {
      val rows = owned(spooled.where(col("h").isNotNull && col(ttlColumn).isNotNull))
        .select(col("h"), unix_micros(col(ttlColumn).cast("timestamp")))
        .collect()
      val maxByKey = maxTsByKey(rows.iterator.map(_.get(0)),
        rows.iterator.map(_.getLong(1)))
      if (need) appendTtlKeys(spooled, maxByKey, epoch)
      if (!executorBackend) rows.foreach(r => bloom.add(r.get(0)))
    } else {
      val keys = owned(GateEpochs.admittedOf(spooled).where(col("h").isNotNull))
        .select("h").distinct().collect()
      if (need) {
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](keys.length)
        keys.foreach(r => { out.add(org.apache.spark.sql.Row(r.get(0))); () })
        appendNewKeys(spooled, out, epoch)
      }
      if (!executorBackend) keys.foreach(r => bloom.add(r.get(0)))
    }
    // recovered append: the executor shards rebuild lazily
    if (executorBackend) execSeen.invalidate()
  }
}

object StreamDedupGate {

  val AtLeastOnce = "at_least_once"
  val ExactlyOnce = "exactly_once"

  /** Gate state backends: `driver` (resident hot tier + pruned store
    * reads, zero jobs per batch — the small/medium-state default) vs
    * `executor` (bucket-partitioned shards across executor heaps, one job
    * per batch — the path past the driver budget; [[IndexKind]] shards). */
  val DriverBackend = "driver"
  val ExecutorBackend = "executor"

  /** Bench-probe seam into [[GateStore]]'s InSet capture (GateStore is
    * package-private to streaming; the probes live in package graft).
    * Enabling RESETS the max-tracking stats — one capture window per
    * probe. */
  private[graft] def setInSetCapture(on: Boolean): Unit = {
    if (on) { GateStore.lastInSetKeys = 0; GateStore.lastInSetBytes = 0L }
    GateStore.captureInSetStats = on
  }
  private[graft] def lastInSetStats: (Int, Long) =
    (GateStore.lastInSetKeys, GateStore.lastInSetBytes)

  private[graft] def deleteRecursively(f: java.io.File): Unit =
    GateStore.deleteRecursively(f)

  /** Register a dedup gate on `eng`: a continuous transform reading
    * `selectSql` (must project `orderCol`; the key is computed by `keySql`
    * over the projected columns) whose first-occurrence survivors are
    * forwarded to stream `sink` with the key attached as column `h`.
    * `delivery` ∈ {at_least_once, exactly_once} — see the class contract.
    * `shards` = G ≥ 2 key-slices the gate (see [[ShardedGate]]): core k
    * owns the keys with pmod(xxhash64(h), G) = k, each with its own store
    * + bloom; the admitted set is the unsharded gate's.
    */
  def create(eng: ContViewEngine, name: String, selectSql: String,
      keySql: String, orderCol: String, sink: String,
      storeRoot: String,
      bloomP: Double = 0.01, bloomN: Int = 1 << 17,
      compactEvery: Int = 256,
      delivery: String = AtLeastOnce,
      ttlMillis: Long = 0L, ttlColumn: String = "",
      backend: String = DriverBackend,
      stateParts: Int = 0, shards: Int = 1): ShardedGate[StreamDedupGate] =
    // the windowed store carries (h, ts), the plain one (h) — a mode flip
    // over an existing store is refused, not silently misread
    ShardedGate.open(eng, name, selectSql, sink, storeRoot, shards, delivery,
      backend, "seen_keys",
      Some(if (ttlMillis > 0) "dedup_windowed" else "dedup")) { (_, dir, k) =>
      new StreamDedupGate(eng, name, keySql, orderCol, dir, bloomP, bloomN,
        compactEvery, ttlMillis, ttlColumn, backend, stateParts,
        shardId = k, shardCount = shards)
    }
}
