package graft.streaming

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, Executors, Future => JFuture}

/** One-deep commit pipeline for a gate's at-least-once batch path: the
  * store appends + compaction of batch N run on a dedicated thread while
  * the producer prepares (and the gate collects) batch N+1 — the two
  * halves of the per-batch cost the gate family's synchronous loop used to
  * serialize (reference analogue: the worker proc's overlap of the next
  * microbatch read with the previous commit, worker.c:339-467).
  *
  * The contract that keeps decisions exact:
  *   - the gate DRAINS the pipeline before every decision
  *     ([[drain]] precedes `decideBatch`), so batch N+1's suppression math
  *     always sees batch N's resident/index/filter updates — decisions
  *     still serialize on the store state, only the durability work
  *     overlaps;
  *   - sink delivery stays synchronous and BEFORE the deferred append
  *     (the family's at-least-once ordering is unchanged — the window in
  *     which a crash loses un-appended fingerprints grows by at most one
  *     batch, the same class of loss the ordering already accepts);
  *   - exactly-once gates never defer: the epoch spool is the commit
  *     point and runs inline.
  *
  * Same-JVM restart fixtures (an engine "crash" that abandons the old
  * instance without killing the process) drain by STORE ROOT at bootstrap
  * ([[CommitPipeline.drainRoots]]): a real crash would simply lose the
  * in-flight append (at-least-once), but two live instances of the same
  * store must never interleave an append with a bootstrap read.
  */
private[graft] final class CommitPipeline(name: String,
    roots: Seq[String]) {

  private val pool = Executors.newSingleThreadExecutor(
    new java.util.concurrent.ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-gate-commit-$name")
        t.setDaemon(true)
        t
      }
    })
  @volatile private var worker: Thread = null
  @volatile private var last: JFuture[_] = null
  private val lost = new java.util.concurrent.atomic.AtomicLong()
  private val consecutiveLosses = new java.util.concurrent.atomic.AtomicInteger()

  /** Deferred commits whose append failed and was dropped — each is a
    * batch of fingerprints the store never got, i.e. future duplicates of
    * that batch's content may be admitted (the accepted at-least-once loss
    * class, now operator-visible via `graft_gate_stats.lost_commits`). */
  def lostCommits: Long = lost.get()

  /** Test failpoint: the next submitted task throws before running. */
  @volatile private[graft] var failNextTask = false

  /** Queue the durability half of a batch; returns immediately. Tasks run
    * in submit order on one thread — commits never reorder. The gates'
    * drain-before-submit convention keeps queue depth ≤ 1 (drain() relies
    * on it only for promptness, not correctness: the single thread runs
    * tasks in order, and failures are recorded per task, not per future).
    *
    * ESCALATION: a single lost commit is the accepted at-least-once loss
    * class, but [[CommitPipeline.escalateAfter]] CONSECUTIVE losses mean
    * the store itself is broken (disk full, permissions) — deferring
    * further would silently degrade the gate to pass-through forever, its
    * only trace a counter and stderr. From that point commits run
    * SYNCHRONOUSLY inside submit, so the failure reaches the caller (the
    * batch fails and the upstream retries THIS batch — correct now,
    * because nothing of it was deferred). One inline success re-arms the
    * pipeline. */
  def submit(task: () => Unit, label: String = "commit"): Unit = {
    if (consecutiveLosses.get() >= CommitPipeline.escalateAfter) {
      drain() // keep ordering: join whatever is still queued
      val failNow = failNextTask
      failNextTask = false
      System.err.println(s"[graft] gate $name: ${consecutiveLosses.get()} " +
        "consecutive deferred commits lost - committing '" + label +
        "' SYNCHRONOUSLY so the store failure reaches the caller")
      if (failNow) throw new IllegalStateException("failpoint:commit-task")
      task() // a throw here propagates: the caller's batch fails loudly
      consecutiveLosses.set(0)
      return
    }
    val failNow = failNextTask
    failNextTask = false
    val f = pool.submit(new Runnable {
      def run(): Unit = {
        worker = Thread.currentThread()
        try {
          if (failNow) throw new IllegalStateException("failpoint:commit-task")
          task()
          consecutiveLosses.set(0)
        } catch {
          // count + log AT FAILURE TIME (task-side), with the failing
          // batch's identity: drain() only joins — so a loss on the FINAL
          // batch of an idle stream is still visible in graft_gate_stats,
          // and every failure counts, not just the first before a drain.
          // Fatal errors (OOM etc.) propagate — a "lost commit" must mean
          // the append failed, not that the JVM is dying.
          case e: InterruptedException =>
            recordLoss(label, e); Thread.currentThread().interrupt()
          case scala.util.control.NonFatal(e) => recordLoss(label, e)
        }
      }
    })
    last = f
    roots.foreach(CommitPipeline.inFlight.put(_, f))
  }

  private def recordLoss(label: String, e: Throwable): Unit = {
    lost.incrementAndGet()
    consecutiveLosses.incrementAndGet()
    System.err.println(s"[graft] gate $name: deferred commit of " +
      s"'$label' FAILED and its append is lost - future duplicates of " +
      s"that batch's content may be admitted (at-least-once): $e")
  }

  /** Block until every queued commit is durable. A failed commit does NOT
    * fail the (innocent) draining batch: the loss belongs to the batch
    * whose append died — already reported delivered, never retried — so
    * rethrowing here would make the upstream retry the WRONG batch. The
    * failure was logged + counted AT TASK TIME (see [[submit]]) with the
    * failing batch's identity, so even a loss on a stream's final batch is
    * operator-visible without another drain. Must be called BEFORE taking
    * the gate monitor — the running task takes it per commit hook. No-op
    * from the pipeline's own thread (compaction cadence runs inside a
    * task). */
  def drain(): Unit = {
    if (Thread.currentThread() eq worker) return
    val f = last
    if (f != null) {
      try { f.get(); () }
      catch {
        // non-fatal task failures were counted + logged task-side; only a
        // FATAL error (OOM etc.) reaches here — rethrow it
        case e: ExecutionException => throw e.getCause
        case _: InterruptedException => Thread.currentThread().interrupt()
      }
    }
  }
}

private[graft] object CommitPipeline {
  /** Consecutive lost commits before the pipeline stops deferring and
    * surfaces store failures synchronously (see [[CommitPipeline.submit]]). */
  val escalateAfter: Int = 3

  private val inFlight = new ConcurrentHashMap[String, JFuture[_]]()

  /** Bootstrap-time cross-instance barrier: wait out any commit a PREVIOUS
    * gate instance still has in flight against these store roots. A
    * failure there is the abandoned instance's crash, not ours — log and
    * bootstrap from whatever is durable (at-least-once). */
  def drainRoots(roots: Seq[String]): Unit = roots.foreach { r =>
    val f = inFlight.get(r)
    if (f != null) {
      try { f.get(); () }
      catch {
        case e: ExecutionException =>
          System.err.println(
            s"[graft] abandoned gate instance's deferred commit on $r " +
              s"failed (${e.getCause.getMessage}); bootstrapping from the " +
              "durable store")
        case _: InterruptedException => Thread.currentThread().interrupt()
      }
      inFlight.remove(r, f)
      ()
    }
  }

  /** Drop-path barrier: join any deferred commit against a store root
    * UNDER `dir` (the engine deletes root/<gate>/ wholesale and only knows
    * the directory — Scala-API gates aren't in its gates map). Failures
    * are logged, not rethrown: the store is being deleted anyway. */
  def drainUnder(dir: String): Unit = {
    val prefix = if (dir.endsWith("/")) dir else dir + "/"
    val it = inFlight.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey == dir || e.getKey.startsWith(prefix)) {
        try { e.getValue.get(); () }
        catch {
          case ex: ExecutionException =>
            System.err.println(s"[graft] dropping ${e.getKey}: deferred " +
              s"commit failed (${ex.getCause.getMessage}); store is being " +
              "deleted anyway")
          case _: InterruptedException => Thread.currentThread().interrupt()
        }
        it.remove()
      }
    }
  }
}
