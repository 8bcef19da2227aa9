package graft.streaming

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.cv.ContViewEngine
import graft.ops.AnnSearch

/** Streaming embedding near-duplicate gate — one of the dedup gate family
  * (exact: [[StreamDedupGate]], Hamming: [[SimHashNearDupGate]], Jaccard:
  * [[JaccardNearDupGate]]): a document is forwarded iff no earlier
  * document's embedding scores cosine ≥ `threshold` against it.
  * Suppression is "seen"-based (every arrival suppresses later ones
  * whether or not it was admitted), so the admitted set is single-shot
  * recomputable: admitted(d) ⇔ no earlier d' with cos(d, d') ≥ threshold —
  * which is exactly what the DuckDB oracle brute-forces. `orderCol` must
  * be unique per stream (shared gate contract).
  *
  * RECALL CONTRACT — probabilistic, unlike [[SimHashNearDupGate]]'s
  * banding guarantee: candidates come from seeded signed-random-projection
  * LSH (bucket keys deterministic in (dim, numTables, bitsPerTable, seed),
  * so restarts re-derive them from config alone), and a true near-pair at
  * cosine exactly `threshold` collides in at least one of the `numTables`
  * tables with probability 1-(1-(1-acos(threshold)/π)^bitsPerTable)^numTables.
  * By default the geometry is AUTO-SIZED ([[CosineNearDupGate.autoGeometry]]):
  * bitsPerTable scales with `expectedStoreSize` so the bucket keyspace —
  * and with it per-batch candidate volume — stays proportional to true
  * near-dups instead of the corpus (2^bits ≥ 4× expected store keeps mean
  * bucket occupancy ≤ 0.25/table), and numTables is the smallest count
  * whose recall floor at `threshold` clears `recallTarget`.
  * [[CosineNearDupGate.create]] (and therefore the `cosine_gate(...)` DDL)
  * computes the estimate and warns loudly when it falls below 0.95. Exact
  * cosine verifies every candidate, so false bucket collisions cost
  * wall-clock, never correctness.
  *
  * State, filters, delivery, compaction, restart, and the zero-shuffle
  * per-batch flow are [[IndexedNearDupGate]]'s — the batch loop it shares
  * with [[SimHashNearDupGate]] and [[JaccardNearDupGate]]: a `seen_keys`
  * (bucket, id, sk) LSH index in range shards, and a `seen_embs` (id,
  * vector) store at FLOAT precision (4·dim bytes a row — the exact-cosine
  * verification casts back to double; a pair at cosine within float
  * epsilon of the threshold is not a semantics the LSH candidate stage
  * resolves either way) read only for surfaced candidate ids. The hot-bucket occupancy
  * cap (`maxBucketSize`) guards the degenerate-flood hazard — millions of
  * boilerplate embeddings sharing buckets — at the documented recall
  * trade: pairs colliding ONLY in flooded buckets are missed.
  */
final class CosineNearDupGate private (
    eng: ContViewEngine,
    name: String,
    embSql: String,
    orderCol: String,
    sink: String,
    embDir: String,
    idxDir: String,
    threshold: Double,
    dim: Int,
    numTables: Int,
    bitsPerTable: Int,
    seed: Long,
    bloomP: Double,
    bloomN0: Int,
    maxBucketSize: Int,
    compactEvery: Int,
    shardId: Int,
    shardCount: Int,
    delivery: String,
    ttlMillis: Long,
    ttlColumn: String,
    backend: String = StreamDedupGate.DriverBackend,
    stateParts: Int = 0,
    residentMb: Long = -1L)
  extends IndexedNearDupGate[Array[Double]](eng, name, orderCol, sink,
    embDir, idxDir, "embs", "v", "keys", "sk",
    bloomP, bloomN0, maxBucketSize, compactEvery,
    shardId, shardCount, delivery, ttlMillis, ttlColumn, backend, stateParts,
    residentMb) {

  override private[graft] def kind: String = "cosine"

  // 64-bit SRP digest stored INLINE in the (bucket, id) index and compared
  // by Hamming distance before any payload fetch: random bucket-mates (the
  // volume that grows with the corpus — at low dims the angle variance
  // between random vectors inflates SRP collision probability well beyond
  // the 2^-bits pigeonhole rate) concentrate at ~32/64 flipped bits and
  // are dropped payload-free, so phase-2 cost tracks TRUE near-dups. The
  // cutoff is μ + 4.5σ of Binomial(64, acos(t)/π) — a pair at exactly the
  // threshold is misfiltered with probability ~1e-5 (far above it,
  // vanishing), which multiplies the documented recall floor negligibly;
  // a random pair passes with probability ~1e-7.
  private val skSeed = seed ^ 0x9e3779b97f4a7c15L
  private val skCutoff: Int = {
    val q = math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    math.min(64, math.ceil(64 * q + 4.5 * math.sqrt(64 * q * (1 - q))).toInt)
  }
  override protected def sketchColOf: Option[Column => Column] =
    Some(c => element_at(AnnSearch.srpBucketKeys(c, dim, 1, 64, skSeed), 1))
  override protected def sketchOf(p: Array[Double]): Long =
    AnnSearch.srpBucketKeysOf(p, dim, 1, 64, skSeed)(0)
  override protected def sketchAdmissible(a: Long, b: Long): Boolean =
    java.lang.Long.bitCount(a ^ b) <= skCutoff
  override protected def sketchAdmissibleCol(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)) <= lit(skCutoff)
  override protected def executorSketchCutoff: Int = skCutoff

  override protected def payloadCol: Column = expr(embSql).cast("array<double>")
  override protected def keysCol(payload: Column): Column =
    AnnSearch.srpBucketKeys(payload, dim, numTables, bitsPerTable, seed)
  // SRP keys + sketch are numTables·bitsPerTable + 64 dot products of dim
  // per row — real compute that belongs on the executors, not the single
  // driver thread of the batch collect (round 19; the other gates' key
  // math is bit folds and stays driver-side)
  override protected def keysInCollect: Boolean = true
  override protected def payloadOf(r: Row): Array[Double] =
    r.getSeq[Double](1).toArray
  override protected def keysOf(p: Array[Double]): Array[Long] =
    AnnSearch.srpBucketKeysOf(p, dim, numTables, bitsPerTable, seed)
  // stored at float precision (the class contract), decoded back for the
  // exact verification
  override protected def storedPayloadCol: Column = col("__p").cast("array<float>")
  override protected def readPayloadCol(c: Column): Column = c.cast("array<double>")
  override protected def storedPayloadOf(p: Array[Double]): Any =
    p.map(_.toFloat).toSeq
  override protected def storedPayloadType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)

  override protected def externalPayloadOf(p: Array[Double]): Any = p.toSeq
  override protected def externalPayloadType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)

  // resident pool at the class's FLOAT precision — the in-memory verify
  // round-trips double→float→double exactly like the disk fetch, so both
  // tiers decide identically
  override protected def residentPayloadOf(p: Array[Double]): AnyRef = {
    val f = new Array[Float](p.length)
    var i = 0
    while (i < p.length) { f(i) = p(i).toFloat; i += 1 }
    f
  }
  override protected def residentPayloadOfRow(r: Row): AnyRef =
    r.getSeq[Float](1).toArray
  override protected def payloadOfResident(a: AnyRef): Array[Double] = {
    val f = a.asInstanceOf[Array[Float]]
    val d = new Array[Double](f.length)
    var i = 0
    while (i < f.length) { d(i) = f(i).toDouble; i += 1 }
    d
  }
  override protected def residentPayloadBytes(a: AnyRef): Int =
    a.asInstanceOf[Array[Float]].length * 4 + 16

  // distributed form of [[similar]]: same exact-cosine expression the batch
  // operators use; the isnan guard matters because Spark ORDERS NaN above
  // every double (a zero-norm pair would flip from not-similar to similar),
  // and a length-mismatch null already drops out of the join filter
  override protected def similarCol(batchPayload: Column, storePayload: Column): Column = {
    val c = graft.functions.VectorExpressions.cosineSim(batchPayload, storePayload)
    c.geq(lit(threshold)) && !isnan(c)
  }

  // exact cosine, matching VectorExpressions.CosineSim: length mismatch →
  // no pair (the expression returns null), zero norm → NaN → false
  override protected def similar(a: Array[Double], b: Array[Double]): Boolean = {
    if (a.length != b.length) return false
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb)) >= threshold
  }
}

object CosineNearDupGate {

  /** Structural-recall estimate for a true pair at cosine exactly
    * `threshold`: 1-(1-p_bit^bits)^tables with p_bit = 1-acos(t)/π
    * (Charikar SRP collision probability). Pairs ABOVE the threshold
    * collide more often, so this is the floor. */
  def recallEstimate(threshold: Double, numTables: Int, bitsPerTable: Int): Double = {
    val pBit = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(pBit, bitsPerTable), numTables)
  }

  /** Auto-sized SRP geometry for a store expected to reach
    * `expectedStoreSize` vectors: bucket OCCUPANCY is what makes per-batch
    * cost grow with the corpus (random bucket-mates at 2^bits buckets per
    * table average storeSize/2^bits per row per table, every one of which
    * is exact-verified), so bitsPerTable = ceil(log2(expected)) + 2 keeps
    * mean occupancy ≤ 0.25 and candidate volume tracking TRUE near-dups
    * instead of the corpus; numTables is then the smallest count whose
    * structural recall at `threshold` clears `recallTarget`. When the
    * threshold is too loose for the occupancy-safe bit width within 64
    * tables, bits back off (pairwise) until recall is reachable — recall
    * is a correctness-shaped contract, occupancy only a cost one — and
    * the caller's create() warning reports the compromise. */
  def autoGeometry(threshold: Double, expectedStoreSize: Long,
      recallTarget: Double): (Int, Int) = {
    def minTables(bits: Int): Option[Int] =
      (1 to 64).find(t => recallEstimate(threshold, t, bits) >= recallTarget)
    val occupancySafe = math.max(12, math.min(48,
      64 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, expectedStoreSize - 1)) + 2))
    var bits = occupancySafe
    var tables = minTables(bits)
    while (tables.isEmpty && bits > 12) { bits -= 2; tables = minTables(bits) }
    (tables.getOrElse(64), bits)
  }

  /** Register a cosine near-dup gate on `eng`: a continuous transform
    * reading `selectSql` (must project `orderCol`, which must be UNIQUE
    * per stream; `embSql` names the embedding column) whose
    * not-similar-to-anything-earlier survivors are forwarded to stream
    * `sink` (embedding column dropped from the payload the gate adds —
    * the original columns pass through unchanged).
    *
    * Recall is PROBABILISTIC in (threshold, numTables, bitsPerTable) —
    * see the class scaladoc. A configuration whose structural-recall
    * floor at `threshold` falls below 0.95 is accepted (the caller may
    * knowingly trade recall for wall-clock) but warned about loudly on
    * stderr, with the computed estimate, so a DDL user can't silently get
    * under-suppression.
    */
  /** `numTables`/`bitsPerTable` of 0 (the default) auto-size from
    * `expectedStoreSize` via [[autoGeometry]] — the bucket keyspace MUST
    * scale with the corpus or per-batch candidate volume (and with it
    * gate cost) grows linearly in store size: the round-9 probe measured
    * exactly that at the old fixed 8×12-bit geometry (32k buckets total →
    * ~50 bucket-mates per table per row at a 200k store, every one
    * exact-verified). The geometry is part of the STORE's identity —
    * reopening an existing store with different (dim, tables, bits, seed)
    * is refused loudly (stored bucket keys would silently mismatch). */
  def create(eng: ContViewEngine, name: String, selectSql: String,
      embSql: String, orderCol: String, sink: String, storeRoot: String,
      threshold: Double, dim: Int,
      numTables: Int = 0, bitsPerTable: Int = 0, seed: Long = 42L,
      expectedStoreSize: Long = 1L << 20, recallTarget: Double = 0.95,
      bloomP: Double = 0.01, bloomN: Int = 1 << 20,
      maxBucketSize: Int = Int.MaxValue,
      compactEvery: Int = 256,
      delivery: String = StreamDedupGate.AtLeastOnce,
      ttlMillis: Long = 0L, ttlColumn: String = "",
      backend: String = StreamDedupGate.DriverBackend,
      stateParts: Int = 0, residentMb: Long = -1L): CosineNearDupGate = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"cosine gate threshold must be in (0, 1], got $threshold")
    val (autoT, autoB) =
      if (numTables > 0 && bitsPerTable > 0) (numTables, bitsPerTable)
      else {
        val (t, b) = autoGeometry(threshold, expectedStoreSize, recallTarget)
        (if (numTables > 0) numTables else t,
          if (bitsPerTable > 0) bitsPerTable else b)
      }
    val recall = recallEstimate(threshold, autoT, autoB)
    if (recall < 0.95)
      System.err.println(f"[graft] CosineNearDupGate($name%s): structural " +
        f"recall at threshold=$threshold%.3f with numTables=$autoT%d, " +
        f"bitsPerTable=$autoB%d is ~$recall%.3f — near-pairs at the " +
        "threshold may be falsely admitted; raise numTables or lower " +
        "bitsPerTable to restore recall")
    val root = GateStore.gateRoot(storeRoot, name)
    val sfs = graft.io.StoreFs.forRoot(root)
    sfs.mkdirs(root)
    GateStore.stampGeometry(root, "shards_1")
    val embDir = GateStore.child(root, "seen_embs")
    val idxDir = GateStore.child(root, "seen_keys")
    sfs.mkdirs(embDir)
    sfs.mkdirs(idxDir)
    GateStore.stampGeometry(idxDir,
      s"cosine_d${dim}_t${autoT}_b${autoB}_s${seed}_sk64" +
        (if (ttlMillis > 0) "_ttl" else ""))
    val gate = new CosineNearDupGate(eng, name, embSql, orderCol, sink,
      embDir, idxDir, threshold, dim, autoT, autoB, seed,
      bloomP, bloomN, maxBucketSize, compactEvery, 0, 1, delivery,
      ttlMillis, ttlColumn, backend, stateParts, residentMb)
    gate.bootstrap()
    eng.createContTransform(name, selectSql,
      outputFunc = Some(gate.onBatch _), emitChanges = false)
    // a catalog-replayed transform is bare (no callback) — re-attach
    eng.rebindTransformOutput(name, gate.onBatch _)
    gate
  }

  /** The G-core horizontally-sharded form of [[create]] (see
    * [[ShardedNearDupGate]]): core k owns SRP table positions ≡ k (mod
    * `shards`), with its own index slice + bloom; the embedding store is
    * shared (written once per batch by core 0). Admitted set is identical
    * to the unsharded gate's; per-batch decisions run on `shards`
    * concurrent threads. The shard count is part of the store's identity
    * — reopening under a different G is refused. */
  def createSharded(eng: ContViewEngine, name: String, selectSql: String,
      embSql: String, orderCol: String, sink: String, storeRoot: String,
      threshold: Double, dim: Int, shards: Int,
      numTables: Int = 0, bitsPerTable: Int = 0, seed: Long = 42L,
      expectedStoreSize: Long = 1L << 20, recallTarget: Double = 0.95,
      bloomP: Double = 0.01, bloomN: Int = 1 << 20,
      maxBucketSize: Int = Int.MaxValue,
      compactEvery: Int = 256,
      delivery: String = StreamDedupGate.AtLeastOnce,
      ttlMillis: Long = 0L, ttlColumn: String = "",
      residentMb: Long = -1L): ShardedNearDupGate = {
    require(shards >= 2, s"use create() for an unsharded gate (shards=$shards)")
    require(threshold > 0.0 && threshold <= 1.0,
      s"cosine gate threshold must be in (0, 1], got $threshold")
    val (autoT, autoB) =
      if (numTables > 0 && bitsPerTable > 0) (numTables, bitsPerTable)
      else {
        val (t, b) = autoGeometry(threshold, expectedStoreSize, recallTarget)
        (if (numTables > 0) numTables else t,
          if (bitsPerTable > 0) bitsPerTable else b)
      }
    val root = GateStore.gateRoot(storeRoot, name)
    val sfs = graft.io.StoreFs.forRoot(root)
    sfs.mkdirs(root)
    GateStore.stampGeometry(root, s"shards_$shards")
    val embDir = GateStore.child(root, "seen_embs")
    sfs.mkdirs(embDir)
    val cores = (0 until shards).map { k =>
      val idxDir = GateStore.child(GateStore.child(root, s"s${k}of$shards"), "seen_keys")
      sfs.mkdirs(idxDir)
      GateStore.stampGeometry(idxDir,
        s"cosine_d${dim}_t${autoT}_b${autoB}_s${seed}_sk64" +
          (if (ttlMillis > 0) "_ttl" else ""))
      val core = new CosineNearDupGate(eng, name, embSql, orderCol, sink,
        embDir, idxDir, threshold, dim, autoT, autoB, seed,
        bloomP, bloomN, maxBucketSize, compactEvery, k, shards,
        graft.streaming.StreamDedupGate.AtLeastOnce, ttlMillis, ttlColumn,
        residentMb = residentMb)
      core.bootstrap()
      core
    }
    val gate = new ShardedNearDupGate(eng, name, sink, cores,
      spoolRoot = Some(root), delivery = delivery)
    eng.createContTransform(name, selectSql,
      outputFunc = Some(gate.onBatch _), emitChanges = false)
    eng.rebindTransformOutput(name, gate.onBatch _)
    gate
  }
}
