package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.SharedSpark

/** The on-disk layout that opening a gate creates under its root, for
  * every gate kind at G = 1 and G = 2: the `shards_<G>` root stamp, the
  * kind's store dir (`<root>/<sub>` at G = 1, `<root>/s<k>of<G>/<sub>` at
  * G ≥ 2) with its key-geometry stamp, and the shared payload dir a
  * split-store near-dup gate keeps once at the root. A reopen of an
  * existing store depends on exactly these names and stamps.
  */
class GateLayoutSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  /** (kind, per-core store dir, its geometry stamp, shared payload dir). */
  private val kinds = Seq(
    ("dedup", "seen_keys", Some("dedup"), None),
    ("simhash", "seen_fps", Some("simhash_k6"), None),
    ("cosine", "seen_keys", Some("cosine_d8_t6_b8_s42_sk64"), Some("seen_embs")),
    ("jaccard", "seen_keys", Some("jaccard_n3_nb16_r4_sk64"), Some("seen_sigs")),
    ("contamination", "ref_grams", None, None))

  /** Open (and only open) a `kind` gate with `shards` cores; returns the
    * gate root. */
  private def open(kind: String, shards: Int): Path = {
    val root = Files.createTempDirectory(s"graft_layout_${kind}_$shards")
    val eng = new ContViewEngine(spark, root.resolve("eng").toString)
    val store = root.resolve("gate").toString
    val text = Seq((0L, "x")).toDF("id", "body").schema
    val emb = Seq((0L, Array(0.0))).toDF("id", "embedding").schema
    val in = if (kind == "cosine") emb else text
    eng.createStream("l_in", in)
    eng.createStream("l_out", org.apache.spark.sql.types.StructType(
      in.fields ++ (kind match {
        case "dedup" => Seq(org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType))
        case "simhash" => Seq(org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.LongType))
        case _ => Nil
      })))
    val sel = s"SELECT ${in.fieldNames.mkString(", ")} FROM l_in"
    kind match {
      case "dedup" => StreamDedupGate.create(eng, "l_gate", sel,
        keySql = "md5(body)", orderCol = "id", sink = "l_out",
        storeRoot = store, shards = shards)
      case "simhash" => SimHashNearDupGate.create(eng, "l_gate", sel,
        textSql = "body", orderCol = "id", sink = "l_out", storeRoot = store,
        shards = shards)
      case "cosine" => CosineNearDupGate.create(eng, "l_gate", sel,
        embSql = "embedding", orderCol = "id", sink = "l_out",
        storeRoot = store, threshold = 0.9, dim = 8, numTables = 6,
        bitsPerTable = 8, shards = shards)
      case "jaccard" => JaccardNearDupGate.create(eng, "l_gate", sel,
        textSql = "body", orderCol = "id", sink = "l_out", storeRoot = store,
        threshold = 0.8, shards = shards)
      case "contamination" => ContaminationGate.create(eng, "l_gate", sel,
        textSql = "body", orderCol = "id", sink = "l_out", storeRoot = store,
        reference = Seq("alpha beta gamma delta").toDF("text"),
        shards = shards)
    }
    root.resolve("gate/l_gate")
  }

  private def children(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.endsWith(".crc")).toSet
    finally s.close()
  }

  private def stampOf(dir: Path): Option[String] = {
    val f = dir.resolve(".geometry")
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f), "UTF-8").trim)
    else None
  }

  for ((kind, sub, stamp, shared) <- kinds; g <- Seq(1, 2))
    test(s"$kind gate at G = $g: root stamp, store dirs and geometry stamps") {
      val root = open(kind, g)
      assert(stampOf(root) === Some(s"shards_$g"))
      val slices =
        if (g == 1) Seq(root) else (0 until g).map(k => root.resolve(s"s${k}of$g"))
      val top = if (g == 1) Set(sub) else slices.map(_.getFileName.toString).toSet
      assert(children(root) === Set(".geometry") ++ top ++ shared,
        s"the gate root holds its stamp, ${top.mkString(", ")} and the " +
          "shared payload dir only")
      slices.foreach { s =>
        if (g > 1) assert(children(s) === Set(sub), s"$s holds only its $sub")
        assert(Files.isDirectory(s.resolve(sub)))
        assert(stampOf(s.resolve(sub)) === stamp, s"geometry stamp of $s/$sub")
      }
      shared.foreach { d =>
        assert(Files.isDirectory(root.resolve(d)), s"shared $d at the root")
        assert(stampOf(root.resolve(d)) === None)
      }
    }
}
