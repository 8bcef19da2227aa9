package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cv.ContViewEngine

/** Streaming benchmark-decontamination gate: a document is forwarded iff
  * NONE of its word 3-grams appears in a static reference set (the
  * benchmark/eval corpus) — the incremental form of the batch
  * `q_decontaminate` operator, and the gate a training-data ingest
  * pipeline runs so eval-contaminated documents never enter the corpus.
  * Unlike the dedup gates the state here is FIXED at creation: the
  * reference grams are hashed (xxhash64), deduplicated, range-sharded and
  * bloom-indexed once; per-batch cost never grows because nothing is ever
  * appended.
  *
  * Semantics (deterministic; order-independent — suppression depends only
  * on the reference set, not on earlier stream content): a row whose
  * `textSql` yields fewer than `n` tokens has no grams and always passes;
  * NULL text likewise. Matching is on 64-bit gram hashes — a false
  * suppression needs an xxhash64 collision between a document gram and a
  * reference gram (~|doc grams|·|ref grams|/2^64; vanishing at any real
  * corpus size, and deterministic when it happens).
  *
  * Per-batch flow mirrors the dedup gates' zero-shuffle shape: one
  * bounded collect of (orderCol, gram hashes), driver bloom probe over
  * the batch's distinct hashes (the filter never ships to executors), a
  * pruned + in-set-filtered read of the reference store for bloom-hit
  * hashes — verified on the driver when the pruned slice is small,
  * distributed semi-join above that — then a narrow in-set survivor
  * filter and the sink forward. Delivery is at-least-once under
  * failure-retry (no store writes at all, so a retried batch is simply
  * re-gated against the same reference).
  *
  * `backend = "executor"` moves the gram membership to executor-local
  * shards (see the field scaladoc below) — the path for reference sets
  * past the driver budget (the reference is O(eval corpus), not
  * O(stream), but a 100-GB eval set is still ~10^10 grams ≈ 12 GB of
  * bloom bits + an 80-GB hash store no single driver should carry).
  *
  * Restart: the hashed reference store persists under the engine root;
  * re-running `create` on it skips re-seeding (or seeds it on first
  * creation) and rebuilds the driver bloom from the store.
  *
  * Reference anchor: the transform surface is pipelinedb's CREATE VIEW
  * with action=transform + output function (commands.c:219-253); the
  * decontamination semantics are beyond-ref (training-data pipeline —
  * the n-gram overlap definition follows the batch q_decontaminate
  * operator so both ends of the pipeline agree on what "contaminated"
  * means).
  */
final class ContaminationGate private (
    eng: ContViewEngine,
    val name: String,
    textSql: String,
    orderCol: String,
    storeDir: String,
    n: Int,
    bloomP: Double,
    bloomN0: Int,
    shardId: Int = 0,
    private[streaming] val shardCount: Int = 1,
    backend: String = StreamDedupGate.DriverBackend,
    stateParts: Int = 0) extends ShardableGateCore {

  require(shardCount >= 1 && shardId >= 0 && shardId < shardCount,
    s"bad shard assignment $shardId/$shardCount")
  require(backend == StreamDedupGate.DriverBackend ||
    backend == StreamDedupGate.ExecutorBackend,
    s"unknown state backend '$backend'")

  /** EXECUTOR STATE BACKEND — `backend = "executor"`: the reference-gram
    * membership moves to hash-partitioned executor-local shards
    * ([[SeenKind]] shards over the static `gh` store), replacing BOTH
    * driver-resident O(reference) structures at once — the Bloom filter
    * (a 100-GB eval corpus is ~10^10 grams → ~12 GB of driver bloom bits
    * at p=0.01) and the pruned reference read whose driver-verify slice
    * creeps toward O(reference) as batch grams span every range shard.
    * Per batch: ONE P-partition job shipping the batch's distinct gram
    * hashes, only the PRESENT (= contaminated) grams coming back. The
    * store is STATIC, so the shards never receive deltas — they rebuild
    * once at the first lookup and serve pure membership thereafter.
    * Decision semantics bit-identical to the driver path. Does not
    * compose with driver-thread core sharding (the family rule — the
    * shards ARE the horizontal scale-out). */
  private val executorBackend = backend == StreamDedupGate.ExecutorBackend

  /** Exactly-once delivery ([[GateEpochs]]): the reference store is
    * static — recovery rebuilds no store — but the spool+marker still
    * dedups the DELIVERY of an interrupted epoch, and because the gate's
    * decisions are stateless, an upstream crash-retry needs one more piece
    * the stateful gates get from their seen-stores: a RETRY-DEDUP WINDOW.
    * The gate retains the last [[ContaminationGate.RetryWindowEpochs]]
    * epochs' row-id sets (orderCol is contractually unique per stream, so
    * ids ARE identities; driver memory, bounded) and suppresses re-fed ids
    * — [[commitRecovered]] re-remembers a pending epoch's ids from its
    * spool at recovery, so the window survives a crash. Re-feeds older
    * than the window (or of epochs fully delivered before a restart, whose
    * spools are gone) are at-least-once — the static gate's analogue of
    * the exact gate's null-key caveat, documented not hidden. */
  private val recentEpochIds = new java.util.ArrayDeque[java.util.HashSet[Any]]()
  // highest epoch whose ids the window already holds: [[commitRecovered]]
  // runs at EVERY recovery attempt of a pending epoch (restart bootstrap
  // AND each batch-head retry after a failed delivery) — without this
  // guard, repeated retries of one stuck epoch would push duplicate
  // copies into the bounded deque and evict the older epochs the window
  // exists to remember
  private var lastRememberedEpoch = 0L
  private def rememberEpoch(ids: java.util.HashSet[Any]): Unit = {
    recentEpochIds.addLast(ids)
    while (recentEpochIds.size > ContaminationGate.RetryWindowEpochs) {
      recentEpochIds.removeFirst(); ()
    }
  }
  private def seenRecently(id: Any): Boolean = {
    val it = recentEpochIds.iterator
    while (it.hasNext) if (it.next().contains(id)) return true
    false
  }

  private[streaming] override def commitRecovered(spooled: DataFrame,
      epoch: Long): Unit = synchronized {
    if (epoch <= lastRememberedEpoch) return // idempotent re-recovery
    val ids = new java.util.HashSet[Any]()
    spooled.select(orderCol).collect()
      .foreach(r => if (!r.isNullAt(0)) { ids.add(r.get(0)); () })
    rememberEpoch(ids)
    // the guard advances ONLY once the ids are actually in the window: a
    // transient collect failure above leaves the epoch un-guarded, so the
    // next recovery attempt remembers it instead of early-returning into
    // a permanently-missing retry-dedup window
    lastRememberedEpoch = epoch
  }

  /** Exactly-once retry-dedup window (the gate loop calls these around
    * its spool commit point). Pre-spool: suppress ids seen in recent
    * epochs (a stateless decision would re-admit an upstream's crash-retry
    * of a delivered epoch) and return this batch's full id set;
    * post-spool: remember it. */
  private[streaming] override def retrySuppress(keyed: DataFrame,
      sup: java.util.HashSet[Any]): java.util.HashSet[Any] = synchronized {
    val ids = new java.util.HashSet[Any]()
    keyed.where(col(orderCol).isNotNull).select(col(orderCol))
      .collect().foreach { r =>
        val id = r.get(0)
        ids.add(id)
        if (seenRecently(id)) sup.add(id)
        ()
      }
    ids
  }

  private[streaming] override def rememberRetryIds(
      ids: java.util.HashSet[Any], epoch: Long): Unit = synchronized {
    // a later recovery of the SAME epoch must not re-remember it
    lastRememberedEpoch = math.max(lastRememberedEpoch, epoch)
    rememberEpoch(ids)
  }

  /** Gram-hash-value ownership (the static-store gate has no banded key
    * positions): core k owns hashes ≡ k (mod G) — its reference slice,
    * bloom, and per-batch candidate work all shrink by G, and a
    * contaminated doc is flagged by whichever core owns a shared gram. */
  @inline private def owns(gh: Long): Boolean =
    shardCount == 1 || java.lang.Math.floorMod(gh, shardCount.toLong) == shardId.toLong

  // no driver bloom at all on the executor backend — membership lives on
  // the shards (the spec asserts this stays null, like the dedup family)
  private var bloom =
    if (executorBackend) null else graft.sketch.BloomFilter.empty(bloomP, bloomN0)
  private var bloomN = bloomN0

  /** Executor-partitioned reference-gram store (executor backend only);
    * static — constructed lazily-rebuilding, never fed deltas. */
  private val execSeen: ExecutorShards.Seen =
    if (!executorBackend) null
    else new ExecutorShards(eng.spark, storeDir,
      ExecutorShards.partsFor(eng.spark, stateParts),
      SeenKind("gh", ttlEnabled = false))
  /** Probe/spec seams (null on the driver backend / executor backend). */
  private[graft] def executorSeen: ExecutorShards.Seen = execSeen
  private[graft] def backendInfo: (String, Int) =
    (backend, if (execSeen == null) 0 else execSeen.parts)
  private[graft] def driverBloomForSpec: AnyRef = bloom
  private[graft] def kind: String = "contamination"
  protected def engineSession: SparkSession = eng.spark

  /** Distinct word n-gram hashes of a text column — the same gram shape
    * as the batch decontamination operator (whitespace tokens, empties
    * dropped, distinct n-grams; < n tokens → no grams), via the single-
    * pass TextOps.WordShingles expression (ONE gram definition shared
    * with the batch pipeline; the equivalent higher-order-function chain
    * evaluates its lambdas interpreted and cost ~10x on corpus scans). */
  private def gramHashesCol(text: Column): Column =
    transform(graft.ops.TextOps.shingles(text, n), g => xxhash64(g))

  /** Seed the reference store from `reference(refTextCol)` — runs once,
    * on first creation (a non-empty persisted store is left as-is). */
  private[streaming] def seedReference(reference: DataFrame, refTextCol: String): Unit =
    synchronized {
      if (GateStore.files(storeDir).isEmpty) {
        val grams0 = reference
          .select(explode(gramHashesCol(col(refTextCol))).as("gh"))
        val grams = if (shardCount == 1) grams0
          else grams0.where(pmod(col("gh"), lit(shardCount.toLong)) === lit(shardId.toLong))
        GateStore.append(grams.distinct(),
          storeDir, "grams", 1L, sortCol = Some("gh"))
        // range-shard + stamp immediately: the store is read-only from here
        GateStore.compact(eng.spark, storeDir, "grams", Seq("gh"), 1L,
          sortCol = Some("gh"))
      }
    }

  /** Rebuild the driver bloom from the persisted reference store, regrown
    * to the store's size. */
  private[streaming] def bootstrap(): Unit = synchronized {
    val files = GateStore.files(storeDir)
    if (files.nonEmpty && !executorBackend) {
      // the count is footer-metadata only; the bloom build is the one real
      // read — both sized off the store's actual gram count
      // (executor backend: no driver bloom at all — the shards rebuild
      // from the store at the first lookup)
      bloomN = GateStore.bloomSizeFor(
        eng.spark.read.parquet(files: _*).count(), bloomN)
      bloom = GateStore.buildBloom(eng.spark, storeDir, "gh", bloomP, bloomN)
    }
  }

  // ---- the batch lifecycle (ShardableGateCore; the static store means
  // the commit hooks are the trait's no-ops — nothing is ever appended) ----

  private[streaming] def prepareBatch(batch: DataFrame,
      obs: org.apache.spark.sql.Observation): DataFrame =
    batch.drop("arrival_timestamp")
      .withColumn("__gh", gramHashesCol(expr(textSql)))
      .observe(obs, count(lit(1)).as("rows")).persist()

  private[streaming] def collectBatchRows(keyed: DataFrame): AnyRef =
    // one bounded collect: (orderCol, distinct gram hashes) per doc —
    // rows with a null order id cannot be targeted by the suppression
    // filter and always pass, so they generate no candidate work
    keyed.where(size(col("__gh")) > 0 && col(orderCol).isNotNull)
      .select(col(orderCol), col("__gh"))
      .collect().map(r => (r.get(0), r.getSeq[Long](1).toArray))

  // the decision ctx IS the suppressed-id set
  private[streaming] def suppressedOf(ctx: AnyRef): java.util.HashSet[Any] =
    ctx.asInstanceOf[java.util.HashSet[Any]]

  private[streaming] def orderColName: String = orderCol

  private[streaming] def decideBatch(keyed: DataFrame, rows0: AnyRef,
      batch: Long): AnyRef =
    synchronized {
      val s = keyed.sparkSession
      val rows = rows0.asInstanceOf[Array[(Any, Array[Long])]]
      val storeF: Array[GateStore.StoreFile] =
        if (executorBackend) Array.empty else GateStore.storeFiles(storeDir)
      // candidate map: bloom-positive hash -> doc row indices (executor
      // backend: EVERY owned hash — the shards are the filter, and the
      // lookup returns only the present ones)
      val candByHash =
        new java.util.HashMap[java.lang.Long, java.util.ArrayList[Integer]]()
      if (storeF.nonEmpty || executorBackend) {
        var i = 0
        while (i < rows.length) {
          rows(i)._2.foreach { gh =>
            if (owns(gh) && (executorBackend || bloom.contains(gh)))
              candByHash.computeIfAbsent(gh, _ => new java.util.ArrayList[Integer]()).add(i)
          }
          i += 1
        }
      }
      val hitKeys: Array[Long] = {
        val arr = new Array[Long](candByHash.size)
        val it = candByHash.keySet().iterator(); var k = 0
        while (it.hasNext) { arr(k) = it.next(); k += 1 }
        arr
      }
      val suppressedSet = new java.util.HashSet[Any]()
      if (executorBackend && hitKeys.nonEmpty) {
        // distributed membership: ship the batch's distinct gram hashes,
        // get back exactly the reference-present (= contaminated) ones —
        // no driver bloom, no reference read on the driver
        execSeen.query(hitKeys.map(Long.box(_): Any))
          .foreach { case (gh, _) =>
            val cands = candByHash.get(gh.asInstanceOf[java.lang.Long])
            if (cands != null)
              cands.forEach(i => {
                if (rows(i)._1 != null) suppressedSet.add(rows(i)._1)
                ()
              })
          }
      } else if (hitKeys.nonEmpty) {
        val pushdown = hitKeys.length <= GateStore.maxPushdownKeys
        val paths =
          if (pushdown) GateStore.pruned(storeF, hitKeys)
          else storeF.map(_.path)
        if (paths.nonEmpty) {
          val sliceBytes = GateStore.bytesOf(paths)
          if (pushdown && sliceBytes <= GateStore.maxDriverVerifyBytes) {
            // verify on the driver: which bloom-hit hashes are really in
            // the reference?
            GateStore.withInPushdown(s, hitKeys.length)(
              s.read.parquet(paths: _*)
                .where(GateStore.inSetCol(col("gh"), hitKeys.toSeq))
                .collect()).foreach { r =>
                val cands = candByHash.get(r.getLong(0))
                if (cands != null)
                  cands.forEach(i => {
                    // null order ids can never be suppressed — pass through
                    if (rows(i)._1 != null) suppressedSet.add(rows(i)._1)
                    ()
                  })
              }
          } else {
            // distributed fallback: semi-join the hit hashes against the
            // reference, collect the verified ones
            val hitRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
            hitKeys.foreach(gh => { hitRows.add(org.apache.spark.sql.Row(gh)); () })
            val hitDf = s.createDataFrame(hitRows,
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("gh",
                  org.apache.spark.sql.types.LongType, nullable = false))))
            hitDf.join(s.read.parquet(paths: _*), Seq("gh"), "left_semi")
              .collect().foreach { r =>
                val cands = candByHash.get(r.getLong(0))
                if (cands != null)
                  cands.forEach(i => {
                    if (rows(i)._1 != null) suppressedSet.add(rows(i)._1)
                    ()
                  })
              }
          }
        }
      }
      suppressedSet
    }
}

object ContaminationGate {

  /** Exactly-once retry-dedup window (epochs of row-id sets retained on
    * the driver — see the class scaladoc): 8 epochs comfortably covers an
    * upstream's immediate crash-retry while bounding memory at 8 batches'
    * worth of ids. */
  val RetryWindowEpochs: Int = 8

  /** Register a decontamination gate on `eng`: a continuous transform
    * reading `selectSql` (must project `orderCol`, unique per stream;
    * `textSql` computes the text whose `n`-grams are checked) whose
    * reference-clean survivors are forwarded to stream `sink`. The
    * reference grams come from `reference(refTextCol)` — seeded into the
    * persisted store on FIRST creation; a restart re-uses the store and
    * only rebuilds the driver bloom. `shards` = G ≥ 2 key-slices the gate
    * (see [[ShardedGate]]): core k owns gram hashes ≡ k (mod G) — its
    * reference slice, bloom, and candidate work shrink by G, and a
    * contaminated doc is flagged by whichever core owns a shared gram.
    */
  def create(eng: ContViewEngine, name: String, selectSql: String,
      textSql: String, orderCol: String, sink: String, storeRoot: String,
      reference: DataFrame, refTextCol: String = "text", n: Int = 3,
      bloomP: Double = 0.01, bloomN: Int = 1 << 20,
      delivery: String = StreamDedupGate.AtLeastOnce,
      backend: String = StreamDedupGate.DriverBackend,
      stateParts: Int = 0, shards: Int = 1): ShardedGate[ContaminationGate] = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    ShardedGate.open(eng, name, selectSql, sink, storeRoot, shards, delivery,
      backend, "ref_grams", None) { (_, dir, k) =>
      val core = new ContaminationGate(eng, name, textSql, orderCol, dir, n,
        bloomP, bloomN, k, shards, backend, stateParts)
      core.seedReference(reference, refTextCol)
      core
    }
  }
}
