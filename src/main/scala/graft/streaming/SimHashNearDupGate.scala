package graft.streaming

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

import graft.cv.ContViewEngine
import graft.ops.{SimHash, TextOps}

/** Streaming NEAR-duplicate gate: the approximate sibling of
  * [[StreamDedupGate]]. A document is forwarded iff no earlier document on
  * the stream (any prior batch, or a lower-`orderCol` row of the same
  * batch) sits within SimHash Hamming distance `maxDist` of it —
  * "seen"-based suppression, so every arriving fingerprint becomes a
  * suppressor for later arrivals whether or not it was itself admitted
  * (the set a later doc is checked against is feed-order-prefix-closed,
  * which keeps the semantics single-shot recomputable: admitted(d) ⇔ no
  * d' earlier than d with hamming(d,d') ≤ maxDist). `orderCol` must be
  * unique per stream: two rows sharing a value can't order against each
  * other and would both pass. Delivery is at-least-once under
  * failure-retry (sink forward precedes the store append — see
  * [[StreamDedupGate]]'s delivery contract).
  *
  * State is the fingerprint store EXPLODED by banded bucket key —
  * (bucket, id, fp) rows in append-only parquet under `seen_fps/`, never
  * the text — under the block-permutation scheme (Manku WWW'07;
  * `blocks`=6 → C(6,3)=20 keys of ~33 bits), so candidate generation has
  * recall 1.0 at distance ≤ maxDist and the explode cost is paid ONCE at
  * append time, not per batch.
  *
  * The batch lifecycle — bloom-gated, file-range-pruned store reads, the
  * resident hot tier, compaction, restart, exactly-once, core sharding and
  * the executor backend — is [[IndexedNearDupGate]]'s. This class supplies
  * only the geometry: the payload is the 64-bit fingerprint, stored INLINE
  * as the index sketch and compared by popcount, so the sketch is exact
  * and the gate is index-only (no payload store, 16-byte resident
  * entries). The fingerprint rides to the sink as `fp`. The banding
  * geometry (blocks, maxDist) is baked into the stored bucket keys; the
  * raw `fp` column rides along so a re-band is a one-pass rewrite, and
  * restarts must use the geometry the store was written with.
  */
final class SimHashNearDupGate private (
    eng: ContViewEngine,
    name: String,
    textSql: String,
    orderCol: String,
    storeDir: String,
    maxDist: Int,
    blocks: Int,
    bloomP: Double,
    bloomN0: Int,
    maxBucketSize: Int,
    compactEvery: Int,
    shardId: Int = 0,
    shardCount: Int = 1,
    ttlMillis: Long = 0L,
    ttlColumn: String = "",
    backend: String = StreamDedupGate.DriverBackend,
    stateParts: Int = 0,
    residentMb: Long = -1L)
  extends IndexedNearDupGate[Long](eng, name, orderCol,
    null, storeDir, null, null, "fps", "fp",
    bloomP, bloomN0, maxBucketSize, compactEvery,
    shardId, shardCount, ttlMillis, ttlColumn, backend, stateParts,
    residentMb) {

  override private[graft] def kind: String = "simhash"
  override protected def exactSketch: Boolean = true

  override protected def payloadCol: Column =
    SimHash.simhash64(TextOps.tokens(expr(textSql)))
  override protected def payloadOf(r: Row): Long = r.getLong(1)
  override protected def keysCol(payload: Column): Column =
    SimHash.blockKeys(payload, blocks, maxDist)
  override protected def keysOf(p: Long): Array[Long] =
    SimHash.blockKeysOf(p, blocks, maxDist)

  // the fingerprint is its own inline sketch, and popcount ≤ maxDist is
  // the whole similarity — sketch admission IS the decision
  override protected def sketchColOf: Option[Column => Column] = Some(c => c)
  override protected def sketchOf(p: Long): Long = p
  override protected def sketchAdmissible(a: Long, b: Long): Boolean =
    java.lang.Long.bitCount(a ^ b) <= maxDist
  override protected def sketchAdmissibleCol(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)) <= lit(maxDist)
  override protected def executorSketchCutoff: Int = maxDist
  override protected def similar(a: Long, b: Long): Boolean =
    sketchAdmissible(a, b)
  override protected def similarCol(batchPayload: Column, storePayload: Column): Column =
    sketchAdmissibleCol(batchPayload, storePayload)

  // payload-store forms: an index-only gate never writes or reads one, but
  // the fingerprint's stored, external and resident forms are all itself
  override protected def storedPayloadOf(p: Long): Any = p
  override protected def storedPayloadType: DataType = LongType
  override protected def externalPayloadOf(p: Long): Any = p
  override protected def externalPayloadType: DataType = LongType
  override protected def residentPayloadOf(p: Long): AnyRef = Long.box(p)
  override protected def residentPayloadOfRow(r: Row): AnyRef = Long.box(r.getLong(1))
  override protected def payloadOfResident(a: AnyRef): Long = Long.unbox(a)
  override protected def residentPayloadBytes(a: AnyRef): Int = 8
}

object SimHashNearDupGate {

  /** Register a near-dup gate on `eng`: a continuous transform reading
    * `selectSql` (must project `orderCol`; `textSql` computes the text the
    * fingerprint hashes) whose not-near-anything-earlier survivors are
    * forwarded to stream `sink` with the fingerprint attached as `fp`.
    * `shards` = G ≥ 2 key-slices the gate (see [[ShardedGate]]): core k
    * owns block-combination positions ≡ k (mod G) of the banded key set,
    * each with its own (bucket, id, fp) store slice + bloom/CMS.
    */
  def create(eng: ContViewEngine, name: String, selectSql: String,
      textSql: String, orderCol: String, sink: String, storeRoot: String,
      maxDist: Int = 3, blocks: Int = 6,
      bloomP: Double = 0.01, bloomN: Int = 1 << 20,
      maxBucketSize: Int = Int.MaxValue,
      compactEvery: Int = 256,
      delivery: String = StreamDedupGate.AtLeastOnce,
      ttlMillis: Long = 0L, ttlColumn: String = "",
      backend: String = StreamDedupGate.DriverBackend,
      stateParts: Int = 0, residentMb: Long = -1L,
      shards: Int = 1): ShardedGate[SimHashNearDupGate] =
    // bucket keys are a pure function of the block split — refuse a
    // silently-mismatched reopen (see GateStore.stampGeometry)
    ShardedGate.open(eng, name, selectSql, sink, storeRoot, shards, delivery,
      backend, "seen_fps",
      Some(s"simhash_k$blocks" + (if (ttlMillis > 0) "_ttl" else ""))) {
      (_, dir, k) =>
        new SimHashNearDupGate(eng, name, textSql, orderCol, dir, maxDist,
          blocks, bloomP, bloomN, maxBucketSize, compactEvery, k, shards,
          ttlMillis, ttlColumn, backend, stateParts, residentMb)
    }
}
