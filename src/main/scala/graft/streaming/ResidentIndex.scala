package graft.streaming

/** Driver-resident exact (bucket-key → entry) index — the near-dup gates'
  * hot tier. The measured store-growth term of the simhash/jaccard gates
  * (PERF_NOTES §16) was the per-batch CANDIDATE READ: once a batch's
  * bucket keys span every range shard (uniform keys do, immediately), the
  * file-level prune keeps everything and the per-batch read degrades to
  * O(store) — the 10×→100× throughput ratio measured 0.51-0.56. Parquet
  * point lookups cannot fix that: at 1 MB pages a few-thousand-key batch
  * touches essentially every page of any store whose rows-per-page exceeds
  * its keys-per-page density, so the read is O(min(keys·page, store))
  * whatever the pushdown does.
  *
  * This structure makes the per-batch candidate lookup O(batch keys ·
  * log store) MEMORY operations instead: a sorted main run of (key, aux
  * [, ord]) entries probed by binary search, plus an unsorted delta (the
  * recent appends) probed through a hash index, folded into the main run
  * when it outgrows a fraction of it (amortized O(n) total — the same
  * LSM shape as the on-disk store's tiered compaction). The parquet store
  * remains the durable source of truth — the resident index is a cache
  * REBUILDABLE from it at bootstrap — and a byte budget bounds the tier:
  * an insert that would exceed `maxBytes` permanently deactivates the
  * index (loudly) and the gate falls back to the disk path, so memory is
  * bounded by configuration while the store stays unbounded. Per-core
  * sharding divides the resident footprint by G; a TTL window (when the
  * gate has one) bounds it absolutely.
  *
  * `aux` is the gate's inline verification word (the SimHash fingerprint;
  * the split-store gates' 64-bit sketch); `ord` (optional) is an index
  * into gate-owned pools (store id, event-time) for entries that need
  * per-document attributes. Not thread-safe — guarded by the gate's
  * per-batch serialization (reads during the concurrent decide wave are
  * safe because all writes happen in the commit hooks, after the wave).
  */
private[streaming] final class ResidentIndex(hasOrd: Boolean, maxBytes: Long) {

  // main run: co-sorted by key
  private var mKeys: Array[Long] = new Array[Long](0)
  private var mAux: Array[Long] = new Array[Long](0)
  private var mOrd: Array[Int] = if (hasOrd) new Array[Int](0) else null

  // delta: append-ordered parallel arrays + a key → positions hash index
  private var dKeys: Array[Long] = new Array[Long](1024)
  private var dAux: Array[Long] = new Array[Long](1024)
  private var dOrd: Array[Int] = if (hasOrd) new Array[Int](1024) else null
  private var dLen: Int = 0
  private val dIndex = new java.util.HashMap[java.lang.Long, java.util.ArrayList[Integer]]()

  private var activeFlag = maxBytes > 0
  private var extraBytes = 0L // pool bytes accounted by the owning gate

  /** ~bytes per entry (arrays only; pools accounted via [[addExtraBytes]]). */
  private val bytesPerEntry: Int = if (hasOrd) 20 else 16

  def active: Boolean = activeFlag
  def size: Int = mKeys.length + dLen
  def approxBytes: Long = size.toLong * bytesPerEntry + extraBytes

  /** Account gate-owned pool bytes (ids, payloads, timestamps) against the
    * same budget; returns false (and deactivates) on overflow. */
  def addExtraBytes(b: Long): Boolean = {
    if (!activeFlag) return false
    extraBytes += b
    if (approxBytes > maxBytes) { deactivate(); false } else true
  }

  /** Permanently drop the resident tier (budget overflow or staleness the
    * caller chooses not to repair) — frees the arrays for GC. */
  def deactivate(): Unit = {
    activeFlag = false
    mKeys = new Array[Long](0); mAux = new Array[Long](0); mOrd = null
    dKeys = new Array[Long](0); dAux = new Array[Long](0); dOrd = null
    dLen = 0
    dIndex.clear()
  }

  /** Insert one entry; false (deactivated) on budget overflow. */
  def add(key: Long, aux: Long, ord: Int): Boolean = {
    if (!activeFlag) return false
    if (approxBytes + bytesPerEntry > maxBytes) { deactivate(); return false }
    if (dLen == dKeys.length) {
      val n = dKeys.length << 1
      dKeys = java.util.Arrays.copyOf(dKeys, n)
      dAux = java.util.Arrays.copyOf(dAux, n)
      if (hasOrd) dOrd = java.util.Arrays.copyOf(dOrd, n)
    }
    dKeys(dLen) = key; dAux(dLen) = aux
    if (hasOrd) dOrd(dLen) = ord
    dIndex.computeIfAbsent(key, _ => new java.util.ArrayList[Integer]())
      .add(dLen)
    dLen += 1
    if (dLen >= math.max(1 << 16, mKeys.length >> 2)) mergeDelta()
    true
  }

  /** All entries under `key`: `f(aux, ord)` (ord = -1 when ord-less). */
  def foreachMatch(key: Long)(f: (Long, Int) => Unit): Unit = {
    // main run: binary search to the equal range
    val n = mKeys.length
    if (n > 0) {
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (mKeys(mid) < key) lo = mid + 1 else hi = mid
      }
      var i = lo
      while (i < n && mKeys(i) == key) {
        f(mAux(i), if (hasOrd) mOrd(i) else -1)
        i += 1
      }
    }
    val hits = dIndex.get(key)
    if (hits != null) {
      var k = 0
      while (k < hits.size) {
        val p = hits.get(k)
        f(dAux(p), if (hasOrd) dOrd(p) else -1)
        k += 1
      }
    }
  }

  /** Fold the delta into the main sorted run (amortized O(n) over the
    * index's life via the quarter-of-main merge threshold). */
  def mergeDelta(): Unit = {
    if (dLen == 0) return
    // sort the delta by key via an index permutation
    val perm = new Array[Integer](dLen)
    var i = 0
    while (i < dLen) { perm(i) = i; i += 1 }
    java.util.Arrays.sort(perm, (a: Integer, b: Integer) =>
      java.lang.Long.compare(dKeys(a), dKeys(b)))
    val total = mKeys.length + dLen
    val nk = new Array[Long](total)
    val na = new Array[Long](total)
    val no = if (hasOrd) new Array[Int](total) else null
    var mi = 0
    var di = 0
    var o = 0
    while (mi < mKeys.length || di < dLen) {
      val takeMain = di >= dLen ||
        (mi < mKeys.length && mKeys(mi) <= dKeys(perm(di)))
      if (takeMain) {
        nk(o) = mKeys(mi); na(o) = mAux(mi)
        if (hasOrd) no(o) = mOrd(mi)
        mi += 1
      } else {
        val p = perm(di)
        nk(o) = dKeys(p); na(o) = dAux(p)
        if (hasOrd) no(o) = dOrd(p)
        di += 1
      }
      o += 1
    }
    mKeys = nk; mAux = na; mOrd = no
    dKeys = new Array[Long](1024)
    dAux = new Array[Long](1024)
    if (hasOrd) dOrd = new Array[Int](1024)
    dLen = 0
    dIndex.clear()
  }

  /** Empty the index, keeping it active (a rebuild-from-store reset). */
  def reset(): Unit = {
    if (!activeFlag) return
    mKeys = new Array[Long](0); mAux = new Array[Long](0)
    if (hasOrd) mOrd = new Array[Int](0)
    dKeys = new Array[Long](1024); dAux = new Array[Long](1024)
    if (hasOrd) dOrd = new Array[Int](1024)
    dLen = 0
    dIndex.clear()
    extraBytes = 0L
  }

  /** TTL fold with ord-pool compaction — the reaper's resident mirror.
    * Drops entries whose `remap(ord)` is negative and REWRITES surviving
    * entries' ords, so the owning gate can compact its parallel pools
    * (ids/timestamps) in the same fold instead of accreting dead slots;
    * `newExtraBytes` replaces the pool accounting wholesale (the gate just
    * rebuilt the pools it accounts for). Without the remap a long-running
    * windowed gate's budget would be consumed monotonically by reaped
    * slots until the tier deactivated on dead weight alone. Folds the
    * delta first so one pass covers everything. */
  def retainRemap(remap: Array[Int], newExtraBytes: Long): Unit = {
    if (!activeFlag) return
    require(hasOrd, "retainRemap needs ord-carrying entries (TTL mode)")
    mergeDelta()
    val n = mKeys.length
    var o = 0
    var i = 0
    while (i < n) {
      val nOrd = if (mOrd(i) >= 0 && mOrd(i) < remap.length) remap(mOrd(i)) else -1
      if (nOrd >= 0) {
        mKeys(o) = mKeys(i); mAux(o) = mAux(i); mOrd(o) = nOrd
        o += 1
      }
      i += 1
    }
    if (o != n) {
      mKeys = java.util.Arrays.copyOf(mKeys, o)
      mAux = java.util.Arrays.copyOf(mAux, o)
      mOrd = java.util.Arrays.copyOf(mOrd, o)
    }
    extraBytes = newExtraBytes
  }
}

/** Driver-resident (store id → stored-precision payload) pool — the
  * split-store gates' phase-2 hot tier, eliminating the candidate payload
  * fetch (the other measured growth term: a candidate-id set spanning
  * every range shard degrades the id-pruned read to O(payload store)).
  * Lives on the payload-writing core only (core 0 — [[IndexedNearDupGate]]
  * runs the shared verify there), budget-bounded like [[ResidentIndex]];
  * on overflow it empties itself and the gate falls back to the disk
  * fetch. The parquet payload store remains the durable source of truth.
  */
private[streaming] final class ResidentPayloads(maxBytes: Long) {
  private val map = new java.util.HashMap[Any, AnyRef]()
  private var bytes = 0L
  private var activeFlag = maxBytes > 0

  def active: Boolean = activeFlag
  def size: Int = map.size

  def put(id: Any, p: AnyRef, pBytes: Int): Unit = if (activeFlag) {
    bytes += pBytes + 64L // entry + id object overhead
    if (bytes > maxBytes) deactivate()
    else { map.put(id, p); () }
  }

  def get(id: Any): AnyRef = if (activeFlag) map.get(id) else null

  /** TTL-reap removal, giving the accounted bytes back to the budget
    * (`bytesOf` recomputes what [[put]] charged). */
  def remove(id: Any, bytesOf: AnyRef => Int): Unit = if (activeFlag) {
    val v = map.remove(id)
    if (v != null) bytes -= bytesOf(v) + 64L
  }

  def reset(): Unit = if (activeFlag) { map.clear(); bytes = 0L }

  def deactivate(): Unit = { activeFlag = false; map.clear(); bytes = 0L }
}

private[streaming] object ResidentIndex {

  /** Default per-gate resident budget (index entries + id/payload pools,
    * all cores combined): 512 MB holds ~3M docs of the heaviest layout
    * (SimHash: 20 exploded entries/doc) — far past the probe decade — and
    * stays a fraction of a typical driver heap. A gate that wants a
    * bigger hot tier, or none (`0`), sets its own `resident_mb`. */
  val DefaultBudgetBytes: Long = 512L << 20

  /** Test seam: force the disk path (0) in equivalence specs. */
  private[graft] var budgetOverride: Option[Long] = None
  def budgetBytes: Long = budgetOverride.getOrElse(DefaultBudgetBytes)
}
