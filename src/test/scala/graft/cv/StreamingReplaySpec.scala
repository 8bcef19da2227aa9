package graft.cv

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** A Structured Streaming micro-batch whose CV commit landed before Spark's
  * offset commit is replayed on restart. Each CV records the
  * (checkpointed query id, batch id) in its manifest once the batch has
  * fully landed, so the replay is a no-op: 100 ingested rows count 100,
  * not 200. The crash is staged by deleting the query's `commits/0`
  * marker (and its checksum) after the batch ran. A batch whose changes
  * emit failed after the CV's commit is replayed in full, so the CVs
  * downstream of it still get the delta.
  */
class StreamingReplaySpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def source(dir: String) = {
    (0 until 100).map(i => (s"k${i % 7}", i.toDouble)).toDF("key", "v")
      .write.mode("append").parquet(dir)
    spark.readStream.schema("key STRING, v DOUBLE").parquet(dir)
  }

  private def forgetCommit(checkpoint: String): Unit = {
    val dir = new java.io.File(checkpoint, "commits")
    Seq("0", ".0.crc").foreach(n => new java.io.File(dir, n).delete())
    assert(!new java.io.File(dir, "0").exists())
  }

  private def total(eng: ContViewEngine, cv: String): Long =
    eng.overlay(cv).agg(coalesce(sum("n"), lit(0L))).collect()(0).getLong(0)

  private def newEngine(root: String, changes: Boolean = false): ContViewEngine = {
    val eng = new ContViewEngine(spark, root)
    if (!eng.viewNames.contains("v_rp")) {
      eng.createStream("s_rp", new org.apache.spark.sql.types.StructType()
        .add("key", "string").add("v", "double"))
      eng.createContView("v_rp",
        "SELECT key, count(*) AS n FROM s_rp GROUP BY key", emitChanges = changes)
    }
    eng
  }

  test("startStreamingInto: a replayed micro-batch is not applied twice") {
    val root = tmp("graft_replay_into")
    val src = tmp("graft_replay_src") + "/in"
    val eng1 = newEngine(root)
    val q1 = eng1.startStreamingInto("s_rp", source(src))
    q1.processAllAvailable(); q1.stop()
    assert(total(eng1, "v_rp") == 100L)
    forgetCommit(s"$root/_streams/s_rp/_checkpoint")
    val eng2 = newEngine(root)
    val q2 = eng2.startStreamingInto("s_rp", spark.readStream
      .schema("key STRING, v DOUBLE").parquet(src))
    q2.processAllAvailable(); q2.stop()
    assert(total(eng2, "v_rp") == 100L)
  }

  test("startStreaming: a replayed micro-batch is not applied twice") {
    // a CV with changes records the batch after its emit, not in its commit
    val root = tmp("graft_replay_cv")
    val src = tmp("graft_replay_src") + "/in"
    val eng1 = newEngine(root, changes = true)
    val q1 = eng1.startStreaming("v_rp", source(src))
    q1.processAllAvailable(); q1.stop()
    forgetCommit(s"$root/v_rp/_checkpoint")
    val eng2 = newEngine(root, changes = true)
    val q2 = eng2.startStreaming("v_rp", spark.readStream
      .schema("key STRING, v DOUBLE").parquet(src))
    q2.processAllAvailable(); q2.stop()
    assert(total(eng2, "v_rp") == 100L)
  }

  test("a batch whose changes emit failed is replayed: downstream CVs keep the delta") {
    val root = tmp("graft_replay_emit")
    val src = tmp("graft_replay_src") + "/in"
    // the downstream CV's first ingest throws: the upstream CV has
    // committed the batch, its emit has not landed downstream
    import StreamingReplaySpec.failNext
    failNext.set(true)
    spark.udf.register("rp_fail_once", (n: Long) =>
      if (failNext.getAndSet(false)) throw new IllegalStateException("injected") else n)
    def engine(): ContViewEngine = {
      val eng = newEngine(root, changes = true)
      if (!eng.viewNames.contains("v_rp_down"))
        eng.createContView("v_rp_down",
          "SELECT 1 AS g, sum(rp_fail_once(delta.n)) AS n FROM output_of('v_rp') GROUP BY 1",
          emitChanges = false)
      eng
    }
    val eng1 = engine()
    val q1 = eng1.startStreamingInto("s_rp", source(src))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.processAllAvailable())
    q1.stop()
    assert(!failNext.get())
    val eng2 = engine()
    val q2 = eng2.startStreamingInto("s_rp", spark.readStream
      .schema("key STRING, v DOUBLE").parquet(src))
    q2.processAllAvailable(); q2.stop()
    assert(total(eng2, "v_rp_down") == 100L)
    val archived = eng2.outputOf("v_rp").get
      .agg(sum("delta.n")).collect()(0).getLong(0)
    assert(archived >= 100L)
    // the upstream CV re-applied the batch: at-least-once, never fewer
    assert(total(eng2, "v_rp") >= 100L)
  }
}

object StreamingReplaySpec {
  /** JVM-global, not captured: a task deserializes a copy of anything its
    * closure captures, and local-mode tasks run in this JVM. */
  val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)
}
