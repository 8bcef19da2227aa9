package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cv.ContViewEngine
import graft.io.StoreFs

/** The exactly-once epoch protocol of every gate — the one spool the
  * gate batch loop ([[ShardedGate]]) runs, whatever the gate kind. The
  * spool carries the FULL prepared batch plus an [[GateEpochs.AdmittedCol]]
  * flag (a seen-based gate's suppressed row still becomes a suppressor, so
  * recovery needs every arrival back, not just the survivors), and
  * recovery re-derives every store append from it (store rows are pure
  * functions of the spooled batch, [[ShardableGateCore.commitRecovered]]).
  *
  * Per batch: decide as usual, then (1) spool `fwd_<E>.parquet` via
  * temp-write + atomic rename — THE commit point; (2) run the store
  * commits; (3) deliver the admitted subset to the sink; (4) drop the
  * `delivered_<E>` marker. Recovery finishes any epoch whose spool exists
  * but whose marker doesn't: rebuild whichever store appends are missing
  * (idempotent — duplicated store rows change nothing), deliver, mark.
  * A crash before the spool rename loses nothing (the upstream retry
  * re-decides identically); after it, the retry's re-fed content is fully
  * suppressed by the recovered store. Residual windows, documented not
  * hidden: a crash between delivery and marker re-delivers that epoch (the
  * irreducible ack window of a non-transactional sink — the reference's
  * sync_commit has the same client-retry hole), and null-order-id (and
  * the exact gate's null-key) rows carry no identity and stay
  * at-least-once under upstream re-feed.
  *
  * A spool without the flag column is the exact gate's earlier
  * survivors-only format: read as all-admitted, so an epoch it left
  * pending still recovers and delivers.
  *
  * Reference anchor: microbatch.h:33-56 — `sync_commit` applies to every
  * CQ kind, which is why the whole gate family carries the option.
  */
private[streaming] final class GateEpochs(
    eng: ContViewEngine,
    name: String,
    sink: String,
    spoolDir: String,
    cores: Seq[ShardableGateCore],
    dropCols: Seq[String]) {

  StoreFs.forRoot(spoolDir).mkdirs(spoolDir)

  // test failpoint: throws once when execution reaches the named point
  // (failWith overrides the thrown exception — how the specs simulate a
  // corrupt-data-page read surfacing mid-recovery); onPoint, if set, sees
  // every point first (how a spec parks a batch between two steps)
  private[graft] var failAt: String = null
  private[graft] var failWith: Throwable = null
  @volatile private[graft] var onPoint: String => Unit = null
  @inline private[streaming] def failpoint(p: String): Unit = {
    val hook = onPoint
    if (hook != null) hook(p)
    if (p == failAt) {
      failAt = null
      val t = failWith
      failWith = null
      if (t != null) throw t
      throw new IllegalStateException(s"failpoint:$p")
    }
  }

  /** Highest epoch this spool has seen (bootstrap counter floor). */
  def maxEpoch(): Long = math.max(
    GateSpool.spoolEpochs(spoolDir).lastOption.map(_._1).getOrElse(0L),
    GateSpool.deliveredEpoch(spoolDir))

  /** THE commit point: the flagged batch ([[ShardableGateCore.withAdmitted]]
    * — a batch-sized suppressed set rides the spool job as a broadcast
    * join side instead of every task binary) lands as one
    * atomically-renamed parquet file, fsynced (data before the rename,
    * dirent after) so the commit survives power loss, not just process
    * crash. */
  def spool(epoch: Long, flagged: DataFrame): Unit =
    GateStore.append(flagged, spoolDir, "fwd", epoch, force = true)

  /** Deliver epoch `epoch`'s admitted subset to the sink and mark it.
    * `knownNonEmpty`: the batch path already knows whether any row was
    * admitted — passing it skips a whole emptiness-probe job per batch;
    * recovery, which doesn't know, omits it and pays the probe. */
  def deliverAndMark(epoch: Long,
      knownNonEmpty: Option[Boolean] = None): Unit = {
    val admitted = GateEpochs.admittedOf(eng.spark.read.parquet(
      GateStore.child(spoolDir, f"fwd_$epoch%05d.parquet")), dropCols)
    if (knownNonEmpty.getOrElse(admitted.take(1).nonEmpty))
      eng.insertInto(sink, admitted)
    failpoint("after-deliver")
    GateSpool.markDelivered(spoolDir, epoch)
  }

  /** Store half of recovery — engine-API-free (file ops + reads + the
    * cores' commit hooks), safe under the registration lock the DDL-replay
    * path holds during bootstrap. Delivery completes at the next batch
    * head (or an explicit recover). */
  def recoverStores(): Unit = recoverEach(deliver = false)

  /** Finish every epoch whose spool committed but whose marker didn't:
    * rebuild missing store appends, deliver, mark. Runs at the head of
    * every exactly-once batch so restart-recovery and in-process retry
    * converge on the same state. */
  def recoverPending(): Unit = recoverEach(deliver = true)

  /** ONE recovery loop for both halves (restart bootstrap delivers at the
    * next batch head; in-process retry delivers inline) — a guard or
    * persist-semantics change cannot drift between them. A CORRUPT spool
    * file (power loss persisted the rename but not the data) is
    * quarantined instead of wedging every future batch: that epoch's rows
    * become the documented at-least-once loss class (the upstream retry
    * re-feeds them). Ordering matters: the spool is VALIDATED IN FULL
    * (cache-building count materializes every column of every row)
    * BEFORE any store append or remember hook runs, so corruption
    * surfaces while quarantining is still safe — if it somehow surfaces
    * only AFTER validation passed (store state already committed), the
    * epoch RETHROWS instead: quarantining then would leave the epoch's
    * keys admitted in the store while its rows never reach the sink —
    * silent at-most-once loss, worse than a retry loop. Non-corruption
    * failures always rethrow: transient errors stay retryable. */
  private def recoverEach(deliver: Boolean): Unit = {
    val delivered = GateSpool.deliveredEpoch(spoolDir)
    GateSpool.spoolEpochs(spoolDir).filter(_._1 > delivered).foreach {
      case (e, path) =>
        GateSpool.readSpool(eng.spark, path, s"gate $name epoch $e").foreach {
          df =>
            var validated = false
            try {
              failpoint("recover-epoch")
              val spooled = df.persist()
              try {
                spooled.count() // full-column validation, no state yet
                validated = true
                cores.foreach(_.commitRecovered(spooled, e))
                failpoint("recovery-after-store")
              } finally { spooled.unpersist(); () }
              if (deliver) deliverAndMark(e)
            } catch {
              case t: Throwable if scala.util.control.NonFatal(t) &&
                  !t.isInstanceOf[InterruptedException] &&
                  GateSpool.looksCorrupt(t) && !validated =>
                GateSpool.quarantine(path, s"gate $name epoch $e",
                  s"corrupt data pages: ${t.getClass.getSimpleName}: " +
                    s"${t.getMessage}")
            }
        }
    }
  }
}

private[streaming] object GateEpochs {
  /** The spool's survivor flag ([[ShardableGateCore.withAdmitted]]). */
  val AdmittedCol = "__admitted"

  /** The admitted rows of a flagged batch, flag and `dropCols` dropped. A
    * frame without the flag (the exact gate's earlier survivors-only
    * spool) is all-admitted. */
  def admittedOf(flagged: DataFrame, dropCols: Seq[String] = Nil): DataFrame =
    (if (flagged.columns.contains(AdmittedCol))
      flagged.where(col(AdmittedCol)).drop(AdmittedCol)
    else flagged).drop(dropCols: _*)

  /** Refuse to open a gate over a spool directory its layout no longer
    * reads while that directory still holds undelivered epochs (the
    * sharded exact gate's earlier per-core spools): their rows would
    * silently never reach the sink. */
  def refuseOrphanedSpool(spoolDir: String, gate: String): Unit =
    if (StoreFs.forRoot(spoolDir).exists(spoolDir)) {
      val delivered = GateSpool.deliveredEpoch(spoolDir)
      val pending = GateSpool.spoolEpochs(spoolDir).map(_._1).filter(_ > delivered)
      if (pending.nonEmpty) throw new IllegalStateException(
        s"gate $gate: $spoolDir holds undelivered exactly-once epochs " +
          s"(${pending.mkString(", ")}) in the per-core spool layout, which " +
          "this version no longer reads — deliver them with the version " +
          "that wrote them, or delete the directory to accept at-least-once " +
          "delivery of those epochs, before reopening the gate")
    }
}

/** The spool/marker FILE PROTOCOL behind [[GateEpochs]]: epoch file
  * naming, the delivered-marker watermark, and the quarantine of corrupt
  * spool files. */
private[streaming] object GateSpool {

  val spoolRe: scala.util.matching.Regex = """fwd_(\d+)\.parquet""".r
  val markerRe: scala.util.matching.Regex = """delivered_(\d+)""".r

  /** Pending + undelivered spool files, ascending by epoch. */
  def spoolEpochs(spoolDir: String): Seq[(Long, String)] =
    StoreFs.forRoot(spoolDir).list(spoolDir).flatMap {
      case name @ spoolRe(e) => Some((e.toLong, GateStore.child(spoolDir, name)))
      case _ => None
    }.sortBy(_._1)

  /** Highest delivered-marker epoch (0 when none — epochs start at 1). */
  def deliveredEpoch(spoolDir: String): Long =
    StoreFs.forRoot(spoolDir).list(spoolDir).flatMap {
      case markerRe(e) => Some(e.toLong)
      case _ => None
    }.foldLeft(0L)(math.max)

  /** Drop the `delivered_<epoch>` marker (fsynced where the fs can — a
    * vanished marker widens re-delivery past the documented ack window)
    * and delete dead spools/markers at or below the watermark. */
  def markDelivered(spoolDir: String, epoch: Long): Unit = {
    val fs = StoreFs.forRoot(spoolDir)
    fs.writeMarker(GateStore.child(spoolDir, s"delivered_$epoch"),
      durable = true)
    fs.list(spoolDir).foreach { name =>
      name match {
        case spoolRe(e) if e.toLong <= epoch =>
          fs.deleteRecursively(GateStore.child(spoolDir, name))
        case markerRe(e) if e.toLong < epoch =>
          fs.deleteRecursively(GateStore.child(spoolDir, name))
        case _ =>
      }
    }
  }

  /** Open a spool file, quarantining a CORRUPT one (renamed to
    * `<name>.corrupt`, loudly logged) instead of letting a poison file
    * wedge every future recovery pass — None means "skip this epoch".
    * Quarantine fires only on corruption EVIDENCE: a failed parquet
    * magic-bytes frame check, or a read error whose cause chain is a
    * parquet footer/decoding failure ([[looksCorrupt]]). Any other
    * failure — interrupted thread, fs hiccup, session mid-shutdown,
    * fatal VM error — RETHROWS: a transient error must stay retryable,
    * not silently convert a committed exactly-once epoch into the
    * at-least-once loss class. */
  def readSpool(spark: org.apache.spark.sql.SparkSession, path: String,
      what: String): Option[DataFrame] = {
    if (!magicOk(path)) {
      quarantine(path, what,
        "parquet magic-bytes check failed (torn write)")
      return None
    }
    try Some(spark.read.parquet(path))
    catch {
      case e: InterruptedException => throw e
      case e: Throwable if !scala.util.control.NonFatal(e) => throw e
      case e: Throwable if looksCorrupt(e) =>
        quarantine(path, what, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      // transient (executor loss, fs hiccup, shutdown): retryable, rethrow
    }
  }

  /** Parquet single-file frame check: ≥12 bytes, "PAR1" at both ends —
    * what a torn write (rename persisted, data pages not) fails. Returns
    * false ONLY on corruption EVIDENCE (bytes actually read and
    * mismatched, or a size no parquet file can have); a missing file is
    * also false (nothing to read — the caller skips it). Any OTHER
    * open/read failure (fs hiccup, EMFILE, interrupt-closed channel) is
    * INCONCLUSIVE → true, deferring to [[looksCorrupt]] on the real read
    * — a transient error here must not destructively quarantine a
    * healthy committed spool. */
  def magicOk(path: String): Boolean = {
    val fs = StoreFs.forRoot(path)
    val len =
      try fs.fileSize(path)
      catch {
        case _: java.nio.file.NoSuchFileException => return false
        case _: java.io.FileNotFoundException => return false
        case e: Throwable if !scala.util.control.NonFatal(e) => throw e
        case _: Throwable => return true // inconclusive: defer to the read
      }
    try {
      def four(at: Long): Array[Byte] = {
        val b = fs.readAt(path, at, 4)
        if (b.length < 4) Array.emptyByteArray else b
      }
      len >= 12 &&
        java.util.Arrays.equals(four(0L), Magic) &&
        java.util.Arrays.equals(four(len - 4), Magic)
    } catch {
      case e: Throwable if !scala.util.control.NonFatal(e) => throw e
      case _: Throwable => true // inconclusive mid-read: defer
    }
  }

  private val Magic = "PAR1".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Does this failure's cause chain carry parquet-corruption evidence
    * (footer/decoding errors), as opposed to a transient infrastructure
    * error? Matched by class/package name so the check doesn't need
    * parquet-mr exception types on this classpath path. */
  def looksCorrupt(e: Throwable): Boolean = {
    var t = e
    var depth = 0
    while (t != null && depth < 12) {
      val cls = t.getClass.getName
      val msg = Option(t.getMessage).getOrElse("")
      if (cls.startsWith("org.apache.parquet") ||
          cls.endsWith("ParquetDecodingException") ||
          msg.contains("not a Parquet file") ||
          msg.contains("Could not read footer") ||
          msg.contains("Unable to infer schema")) return true
      t = t.getCause
      depth += 1
    }
    false
  }

  /** Rename a spool file to `<name>.corrupt` and log the downgrade: that
    * epoch's rows fall to the documented at-least-once class. */
  def quarantine(path: String, what: String, why: String): Unit = {
    val corrupt = path + ".corrupt"
    StoreFs.forRoot(path).move(path, corrupt, replace = true)
    System.err.println(s"[graft] $what: spool file " +
      s"${GateStore.baseName(path)} is corrupt ($why) — quarantined to " +
      s"${GateStore.baseName(corrupt)}; that epoch's rows fall to the " +
      "at-least-once class (upstream retry re-feeds them)")
  }
}
