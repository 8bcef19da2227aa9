package graft.io

import java.nio.file.{Files, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.streaming.{ShardedGate, StreamDedupGate}
import graft.SharedSpark

/** The storage commit-point seam. Two things are pinned here: the local
  * implementation's primitive semantics, and — the point of the seam —
  * that an OBJECT-STORE-STYLE implementation (no rename anywhere:
  * publish = write the final key directly, emulated as copy+delete) can
  * be swapped in and the exactly-once gate crash battery still holds.
  * That is the mechanical half of the S3 port from DESIGN_NOTES
  * "Shared-storage commit points", demonstrated rather than asserted.
  */
class CommitFsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("LocalCommitFs primitives: publish consumes tmp, replace overwrites, markers exist") {
    val dir = Files.createTempDirectory("graft_cfs")
    val tmp = dir.resolve("t1")
    Files.writeString(tmp, "v1")
    val dest = dir.resolve("final")
    LocalCommitFs.publish(tmp, dest, durable = true)
    assert(!Files.exists(tmp) && Files.readString(dest) == "v1")
    // replace=true must swap the pointer (the manifest-commit shape);
    // replace=false onto an existing name is implementation-defined
    // (POSIX rename overwrites; S3 If-None-Match fails) — store publishes
    // only ever use fresh names, so neither behavior is load-bearing
    val tmp2 = dir.resolve("t2")
    Files.writeString(tmp2, "v2")
    LocalCommitFs.publish(tmp2, dest, durable = false, replace = true)
    assert(Files.readString(dest) == "v2", "replace must swap the pointer")
    val marker = dir.resolve("delivered_7")
    LocalCommitFs.writeMarker(marker, durable = true)
    assert(Files.exists(marker) && Files.size(marker) == 0L)
    LocalCommitFs.rename(dest, dir.resolve("dest.corrupt"))
    assert(Files.exists(dir.resolve("dest.corrupt")) && !Files.exists(dest))
    LocalCommitFs.rename(dir.resolve("missing"), dir.resolve("x")) // no throw
  }

  /** S3-style commit semantics on a local dir: every publish writes the
    * FINAL name directly (a PUT is all-or-nothing; emulated as
    * copy-then-delete — deliberately never a rename), `replace=false`
    * maps to `If-None-Match: *` (fails on an existing key), markers are
    * zero-byte PUTs, housekeeping renames are copy+delete. */
  private object NoRenameFs extends CommitFs {
    var publishes = 0
    override def publish(tmp: java.nio.file.Path, dest: java.nio.file.Path,
        durable: Boolean, replace: Boolean): Unit = {
      publishes += 1
      if (replace) Files.copy(tmp, dest, StandardCopyOption.REPLACE_EXISTING)
      else Files.copy(tmp, dest)
      Files.delete(tmp)
      ()
    }
    override def writeMarker(path: java.nio.file.Path,
        durable: Boolean): Unit = {
      Files.write(path, Array.emptyByteArray); ()
    }
    override def rename(src: java.nio.file.Path,
        dest: java.nio.file.Path): Unit = {
      try {
        Files.copy(src, dest, StandardCopyOption.REPLACE_EXISTING)
        Files.delete(src)
        ()
      } catch { case _: Throwable => () }
    }
  }

  test("exactly-once crash battery holds under a no-rename (object-store-style) CommitFs") {
    val prev = CommitFs.current
    CommitFs.current = NoRenameFs
    try {
      val root = Files.createTempDirectory("graft_cfs_eo").toString
      val schema = Seq((0L, "x")).toDF("id", "body").schema
      def build(suffix: String): (ContViewEngine, ShardedGate[StreamDedupGate]) = {
        val eng = new ContViewEngine(spark, s"$root/eng$suffix")
        eng.createStream("f_in", schema)
        eng.createStream("f_out", org.apache.spark.sql.types.StructType(
          schema.fields :+ org.apache.spark.sql.types.StructField("h",
            org.apache.spark.sql.types.StringType)))
        eng.createContView("v_f",
          "SELECT id, count(*) AS c FROM f_out GROUP BY id",
          emitChanges = false)
        val g = StreamDedupGate.create(eng, "f_gate",
          "SELECT id, body FROM f_in", keySql = "md5(body)", orderCol = "id",
          sink = "f_out", storeRoot = s"$root/gate",
          delivery = StreamDedupGate.ExactlyOnce)
        (eng, g)
      }
      def counts(eng: ContViewEngine): Map[Long, Long] =
        eng.overlay("v_f").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      def b(rows: (Long, String)*) = rows.toDF("id", "body")

      // clean run: dedup + exactly-once delivery
      val (eng1, g1) = build("1")
      eng1.insertInto("f_in", b((1L, "aa"), (2L, "bb"), (3L, "aa")))
      assert(counts(eng1) === Map(1L -> 1L, 2L -> 1L))

      // crash after spool-commit, before store append: in-process retry
      g1.epochs.failAt = "after-spool"
      intercept[Exception] { eng1.insertInto("f_in", b((4L, "cc"))) }
      eng1.insertInto("f_in", b((4L, "cc")))
      assert(counts(eng1) === Map(1L -> 1L, 2L -> 1L, 4L -> 1L),
        "retried epoch delivers exactly once under the no-rename FS")

      // crash after store append, before delivery: RESTART recovery
      g1.epochs.failAt = "after-store"
      intercept[Exception] { eng1.insertInto("f_in", b((5L, "dd"))) }
      val (eng2, g2) = build("2")
      g2.recover()
      assert(counts(eng2) === Map(5L -> 1L),
        "restart recovery delivers the spooled epoch once")
      eng2.insertInto("f_in", b((6L, "dd"), (7L, "ee")))
      assert(counts(eng2) === Map(5L -> 1L, 7L -> 1L),
        "recovered store keys keep suppressing")

      assert(NoRenameFs.publishes > 0,
        "the battery must actually route through the swapped seam")
    } finally CommitFs.current = prev
  }
}
