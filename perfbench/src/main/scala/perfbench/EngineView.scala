package perfbench

import java.nio.file.{Files, Paths}

import graft.cv.ContViewEngine

/** Reads of the engine's own stats relations and of its on-disk layout —
  * the per-layer sources the traced run uses.
  */
object EngineView {
  /** (CQ, proc) → accumulated ms, from `procStats` (proc ∈ worker, combiner). */
  def procMs(eng: ContViewEngine): Map[(String, String), Long] =
    eng.procStats().collect().map(r =>
      (r.getAs[String]("name"), r.getAs[String]("proc")) -> r.getAs[Long]("execMs")).toMap

  /** CQ → accumulated exec ms, from `stats`. */
  def execMs(eng: ContViewEngine): Map[String, Long] =
    eng.stats().collect().map(r => r.getAs[String]("name") -> r.getAs[Long]("execMs")).toMap

  /** Gate → (admitted, suppressed, lostCommits), from `gateStats`. */
  def gates(eng: ContViewEngine): Map[String, (Long, Long, Long)] =
    eng.gateStats().collect().map(r => r.getAs[String]("gate") ->
      ((r.getAs[Long]("admitted"), r.getAs[Long]("suppressed"), r.getAs[Long]("lostCommits")))).toMap

  /** Stream → batches received, from `streamStats`. */
  def streamBatches(eng: ContViewEngine): Map[String, Long] =
    eng.streamStats().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  def delta[K](a: Map[K, Long], b: Map[K, Long]): Map[K, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  private val BucketRe = """"[^"]+":\s*"([^"]+)"""".r

  /** Bytes of the state version a CV's manifest currently points at. */
  def stateBytes(root: String, cv: String): Long = {
    val dir = Paths.get(root, cv, "state")
    val man = dir.resolve("_manifest.json")
    if (!Files.exists(man)) return 0L
    val body = Files.readString(man)
    val buckets = body.substring(body.indexOf("\"buckets\""))
    BucketRe.findAllMatchIn(buckets).map(m => Io.bytesUnder(dir.resolve(m.group(1)).toString)).sum
  }
}
