package graft.streaming

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.cv.ContViewEngine
import graft.ops.{MinHashLsh, TextOps}

/** Streaming MinHash/Jaccard near-duplicate gate — the fourth member of
  * the dedup gate family (exact: [[StreamDedupGate]], Hamming:
  * [[SimHashNearDupGate]], embedding: [[CosineNearDupGate]]), and the
  * incremental form of the batch `q_minhash_neardup` operator: a document
  * is forwarded iff no earlier document's shingle set estimates Jaccard ≥
  * `threshold` against it. Suppression is "seen"-based, single-shot
  * recomputable; `orderCol` must be unique per stream (shared contract).
  *
  * SIMILARITY CONTRACT — estimate-based, unlike the batch operator: the
  * batch pipeline re-joins document text to verify exact Jaccard on
  * candidates, but a streaming gate never stores text (the state is
  * signatures only, 8·k bytes/doc), so verification is the MinHash
  * estimate itself: the fraction of agreeing signature components, whose
  * standard error is ~sqrt(j(1-j)/k) (≤0.063 at k=64) — a doc at true
  * Jaccard just below the threshold can be suppressed and vice versa, a
  * banding-independent property of every signature-only system. Exact
  * copies estimate 1.0 and are always suppressed. Banding recall for a
  * pair at estimated similarity j is 1-(1-j^rowsPerBand)^numBands
  * (the classic S-curve); [[JaccardNearDupGate.create]] (and the
  * `jaccard_gate(...)` DDL) computes the floor at `threshold` and warns
  * loudly below 0.95.
  *
  * State, filters, delivery, compaction, restart, and the zero-shuffle
  * per-batch flow are [[IndexedNearDupGate]]'s — the batch loop it shares
  * with [[SimHashNearDupGate]] and [[CosineNearDupGate]]: a `seen_keys`
  * (bucket, id, sk) band-key index in range shards, and a `seen_sigs`
  * (id, signature) store read only for surfaced candidate ids (the
  * split-store shape; SimHash is the index-only one).
  */
final class JaccardNearDupGate private (
    eng: ContViewEngine,
    name: String,
    textSql: String,
    orderCol: String,
    sigDir: String,
    idxDir: String,
    threshold: Double,
    shingleN: Int,
    numBands: Int,
    rowsPerBand: Int,
    bloomP: Double,
    bloomN0: Int,
    maxBucketSize: Int,
    compactEvery: Int,
    shardId: Int,
    shardCount: Int,
    ttlMillis: Long,
    ttlColumn: String,
    backend: String = StreamDedupGate.DriverBackend,
    stateParts: Int = 0,
    residentMb: Long = -1L)
  extends IndexedNearDupGate[Array[Long]](eng, name, orderCol,
    sigDir, idxDir, "sigs", "sig", "keys", "sk",
    bloomP, bloomN0, maxBucketSize, compactEvery,
    shardId, shardCount, ttlMillis, ttlColumn, backend, stateParts,
    residentMb) {

  override private[graft] def kind: String = "jaccard"
  override protected def payloadCol: Column =
    MinHashLsh.minhashSignature(
      TextOps.shingles(expr(textSql), shingleN), numBands * rowsPerBand)
  override protected def keysCol(payload: Column): Column =
    org.apache.spark.sql.GraftBridge.column(MinHashLsh.MinHashBuckets(
      org.apache.spark.sql.GraftBridge.expression(payload), numBands, rowsPerBand))
  override protected def payloadOf(r: Row): Array[Long] =
    r.getSeq[Long](1).toArray
  override protected def keysOf(p: Array[Long]): Array[Long] =
    MinHashLsh.bandKeysOf(p, numBands, rowsPerBand)
  override protected def storedPayloadOf(p: Array[Long]): Any = p.toSeq
  override protected def storedPayloadType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)
  override protected def externalPayloadOf(p: Array[Long]): Any = p.toSeq
  override protected def externalPayloadType: org.apache.spark.sql.types.DataType =
    storedPayloadType

  override protected def residentPayloadOf(p: Array[Long]): AnyRef = p
  override protected def residentPayloadOfRow(r: Row): AnyRef =
    r.getSeq[Long](1).toArray
  override protected def payloadOfResident(a: AnyRef): Array[Long] =
    a.asInstanceOf[Array[Long]]
  override protected def residentPayloadBytes(a: AnyRef): Int =
    a.asInstanceOf[Array[Long]].length * 8 + 16

  // 64-bit PARITY digest stored inline in the (bucket, id) index — the
  // jaccard port of the cosine gate's sketch prefilter: bit i is the low
  // bit of signature component i (first min(k, 64) components), so a pair
  // at agreement fraction a flips each of its ~(1-a)·n mismatching
  // components' bits with probability 1/2 while agreeing components always
  // match. At the gate threshold t the flip count is ≤ Binomial((1-t)·n,
  // 1/2); the cutoff is its mean + 4.5σ, so a pair at exactly the
  // threshold is misfiltered with probability ~1e-5 (folded into the
  // documented estimate-based similarity contract) while a random pair
  // (~n/2 flips) is dropped payload-free. Candidate volume from the
  // 64-bit band-hash keyspace is mostly TRUE near-pairs already, so the
  // digest's main work is shielding phase 2 from mid-similarity band
  // coincidences on clustered corpora.
  private val skBits = math.min(numBands * rowsPerBand, 64)
  private val skCutoff: Int = {
    val m = (1.0 - threshold) * skBits
    math.min(skBits, math.ceil(m / 2.0 + 4.5 * math.sqrt(m) / 2.0).toInt)
  }
  override protected def sketchColOf: Option[Column => Column] =
    Some { sig =>
      (0 until skBits).map(i =>
        shiftleft(element_at(sig, i + 1).bitwiseAND(lit(1L)), i))
        .reduce(_.bitwiseOR(_))
    }
  override protected def sketchOf(p: Array[Long]): Long = {
    var out = 0L
    val n = math.min(skBits, p.length)
    var i = 0
    while (i < n) { out |= (p(i) & 1L) << i; i += 1 }
    out
  }
  override protected def sketchAdmissible(a: Long, b: Long): Boolean =
    java.lang.Long.bitCount(a ^ b) <= skCutoff
  override protected def sketchAdmissibleCol(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)) <= lit(skCutoff)
  override protected def executorSketchCutoff: Int = skCutoff

  // distributed form of [[similar]]: the same fused agreement-fraction
  // expression the batch prefilter uses (empty signatures agree 0.0, so no
  // NaN ordering hazard)
  override protected def similarCol(batchPayload: Column, storePayload: Column): Column =
    MinHashLsh.sigAgree(batchPayload, storePayload).geq(lit(threshold))

  // agreement fraction, matching MinHashLsh.sigAgreeEval
  override protected def similar(a: Array[Long], b: Array[Long]): Boolean = {
    val n = math.min(a.length, b.length)
    if (n == 0) return false
    var eq = 0
    var i = 0
    while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / n >= threshold
  }
}

object JaccardNearDupGate {

  /** Banding recall floor for a pair at estimated similarity exactly
    * `threshold`: 1-(1-t^rowsPerBand)^numBands (the LSH S-curve). */
  def recallEstimate(threshold: Double, numBands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(threshold, rowsPerBand), numBands)

  /** Register a Jaccard near-dup gate on `eng`: a continuous transform
    * reading `selectSql` (must project `orderCol`, which must be UNIQUE
    * per stream; `textSql` computes the text whose shingles are hashed)
    * whose not-similar-to-anything-earlier survivors are forwarded to
    * stream `sink` (original columns unchanged — the signature is
    * internal state, never part of the payload).
    *
    * Similarity is the MinHash ESTIMATE (see the class contract) and
    * banding recall is probabilistic in (threshold, numBands,
    * rowsPerBand); a configuration whose recall floor at `threshold`
    * falls below 0.95 is accepted but warned about loudly on stderr.
    *
    * `shards` = G ≥ 2 key-slices the gate (see [[ShardedGate]]): core k
    * owns band positions ≡ k (mod G) with its own index slice + bloom; the
    * signature store is shared (written once per batch by core 0).
    */
  def create(eng: ContViewEngine, name: String, selectSql: String,
      textSql: String, orderCol: String, sink: String, storeRoot: String,
      threshold: Double, shingleN: Int = 3,
      numBands: Int = 16, rowsPerBand: Int = 4,
      bloomP: Double = 0.01, bloomN: Int = 1 << 20,
      maxBucketSize: Int = Int.MaxValue,
      compactEvery: Int = 256,
      delivery: String = StreamDedupGate.AtLeastOnce,
      ttlMillis: Long = 0L, ttlColumn: String = "",
      backend: String = StreamDedupGate.DriverBackend,
      stateParts: Int = 0, residentMb: Long = -1L,
      shards: Int = 1): ShardedGate[JaccardNearDupGate] = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard gate threshold must be in (0, 1], got $threshold")
    val recall = recallEstimate(threshold, numBands, rowsPerBand)
    if (recall < 0.95)
      System.err.println(f"[graft] JaccardNearDupGate($name%s): banding " +
        f"recall at threshold=$threshold%.3f with numBands=$numBands%d, " +
        f"rowsPerBand=$rowsPerBand%d is ~$recall%.3f — near-pairs at the " +
        "threshold may be falsely admitted; raise numBands or lower " +
        "rowsPerBand to restore recall")
    // band keys and signatures are pure functions of the shingle/banding
    // geometry — refuse a silently-mismatched reopen
    ShardedGate.open(eng, name, selectSql, sink, storeRoot, shards, delivery,
      backend, "seen_keys",
      Some(s"jaccard_n${shingleN}_nb${numBands}_r${rowsPerBand}_sk64" +
        (if (ttlMillis > 0) "_ttl" else ""))) { (root, idxDir, k) =>
      val sigDir = GateStore.child(root, "seen_sigs")
      if (k == 0) graft.io.StoreFs.forRoot(sigDir).mkdirs(sigDir)
      new JaccardNearDupGate(eng, name, textSql, orderCol, sigDir, idxDir,
        threshold, shingleN, numBands, rowsPerBand, bloomP, bloomN,
        maxBucketSize, compactEvery, k, shards, ttlMillis, ttlColumn,
        backend, stateParts, residentMb)
    }
  }
}
