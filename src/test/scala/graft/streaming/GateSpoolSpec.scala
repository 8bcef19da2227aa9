package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** The spool quarantine's EVIDENCE rule (round 15): a spool file is
  * renamed to `.corrupt` only on actual corruption evidence — a failed
  * parquet magic-bytes frame check or a parquet footer/decoding failure —
  * never on a transient error (interrupted thread, fs hiccup, session
  * shutdown). Before this rule, ANY failure inside readSpool destructively
  * quarantined a valid committed exactly-once epoch, silently converting a
  * retryable error into data loss.
  */
class GateSpoolSpec extends AnyFunSuite with SharedSpark {

  test("magicOk: real parquet passes; garbage, truncation, and missing files fail") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_spool_magic")
    GateStore.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      dir.toString, "fwd", 1L)
    val good = dir.resolve("fwd_00001.parquet")
    assert(GateSpool.magicOk(good.toString), "a real single-file parquet must pass")

    val garbage = dir.resolve("garbage")
    Files.write(garbage, "not parquet at all".getBytes)
    assert(!GateSpool.magicOk(garbage.toString))

    // torn write: header magic intact, tail never made it to disk
    val torn = dir.resolve("torn")
    val bytes = Files.readAllBytes(good)
    Files.write(torn, bytes.take(bytes.length / 2))
    assert(!GateSpool.magicOk(torn.toString))

    val tiny = dir.resolve("tiny")
    Files.write(tiny, "PAR1".getBytes)
    assert(!GateSpool.magicOk(tiny.toString), "< 12 bytes cannot be a parquet file")

    assert(!GateSpool.magicOk(dir.resolve("missing").toString))
  }

  test("looksCorrupt: parquet decode/footer evidence yes; transient errors no") {
    assert(GateSpool.looksCorrupt(
      new org.apache.parquet.io.ParquetDecodingException("Can not read value")))
    assert(GateSpool.looksCorrupt(new RuntimeException("outer",
      new org.apache.parquet.io.ParquetDecodingException("nested"))),
      "corruption evidence anywhere in the cause chain counts")
    assert(GateSpool.looksCorrupt(
      new RuntimeException("xyz.parquet is not a Parquet file")))
    assert(GateSpool.looksCorrupt(
      new RuntimeException("Could not read footer for file xyz")))
    assert(!GateSpool.looksCorrupt(new RuntimeException("connection reset")))
    assert(!GateSpool.looksCorrupt(new java.io.IOException("fs hiccup")))
    assert(!GateSpool.looksCorrupt(new InterruptedException()))
  }

  test("readSpool: quarantines a magic-failed file, reads a valid one") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_spool_read")
    GateStore.append(Seq((7L, "x")).toDF("id", "v"), dir.toString, "fwd", 1L)
    val good = dir.resolve("fwd_00001.parquet")
    assert(GateSpool.readSpool(spark, good.toString, "spec")
      .exists(_.count() == 1L), "valid spool must read")
    assert(Files.exists(good), "a valid spool must not be touched")

    val bad = dir.resolve("fwd_00002.parquet")
    Files.write(bad, "definitely not parquet".getBytes)
    assert(GateSpool.readSpool(spark, bad.toString, "spec").isEmpty)
    assert(!Files.exists(bad) &&
      Files.exists(dir.resolve("fwd_00002.parquet.corrupt")),
      "a torn spool must be quarantined in place")

    // magic frame INTACT but the footer bytes are garbage: the magic
    // check passes, the parquet footer read throws, and the exception
    // CLASSIFIER (looksCorrupt) must still route it to quarantine
    val framed = dir.resolve("fwd_00003.parquet")
    val junk = new Array[Byte](256)
    java.util.Arrays.fill(junk, 'x'.toByte)
    val payload = "PAR1".getBytes ++ junk ++ "PAR1".getBytes
    Files.write(framed, payload)
    assert(GateSpool.magicOk(framed.toString), "the frame check alone must pass")
    assert(GateSpool.readSpool(spark, framed.toString, "spec").isEmpty)
    assert(!Files.exists(framed) &&
      Files.exists(dir.resolve("fwd_00003.parquet.corrupt")),
      "a corrupt-footer spool must be quarantined via the classifier")
  }
}
