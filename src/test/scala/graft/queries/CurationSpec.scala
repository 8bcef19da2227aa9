package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Invariant tests for the corpus-curation queries — semantics the DuckDB
  * hash-compare can't articulate: packing partitions the corpus within
  * budget, chunks tile documents, semantic dedup drops exactly the seeded
  * duplicate set, funnel stages are monotone.
  */
class CurationSpec extends AnyFunSuite with SharedSpark {

  override protected def configure(s: SparkSession): Unit = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  private val dir = "/root/testdata/sf0.01"

  private def run(name: String) = graft.SparkEntry.queries(name)(spark, dir)

  private def docTokens = {
    val t = filter(split(col("text"), " "), x => x =!= "")
    Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        size(t).cast("long").as("n_tok"), length(col("text")).as("len"))
  }

  test("pack_sequences: packs partition the corpus and respect the budget") {
    val packs = run("q_pack_sequences").collect()
    val docs = docTokens.collect()
    // token mass and doc count are conserved through packing
    assert(packs.map(_.getLong(3)).sum === docs.map(_.getLong(2)).sum)
    assert(packs.map(_.getLong(2)).sum === docs.length.toLong)
    // per shard: pack ids are contiguous from 0 (concat-and-cut leaves no
    // gaps), and no pack holds more than capacity + the largest straddling
    // doc (a doc is billed to the pack its first token lands in)
    val maxDocTok = docs.map(_.getLong(2)).max
    packs.groupBy(_.getLong(0)).foreach { case (shard, ps) =>
      val ids = ps.map(_.getLong(1)).sorted
      assert(ids.head === 0L, s"shard $shard packs must start at 0")
      assert(ids.last === ids.length - 1L, s"shard $shard pack ids must be contiguous")
      ps.foreach { p =>
        assert(p.getLong(3) <= 512 + maxDocTok,
          s"shard $shard pack ${p.getLong(1)} exceeds budget+straddle bound")
      }
    }
  }

  test("chunk_docs: chunks tile each document at the configured stride") {
    val chunks = run("q_chunk_docs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lens = docTokens.collect().map(r => r.getLong(0) -> r.getInt(3).toLong).toMap
    chunks.groupBy(_._1).foreach { case (docId, cs) =>
      val len = lens(docId)
      val expected = 1L + math.max((len - 1) / 150, 0L)
      assert(cs.length.toLong === expected, s"doc $docId chunk count")
      // every chunk is non-empty and the final chunk ends exactly at the
      // document's last character — full coverage, no phantom tail
      assert(cs.forall(_._3 > 0))
      assert(cs.map(c => c._2 * 150 + c._3).max === len, s"doc $docId coverage")
    }
  }

  test("semantic_dedup: drops exactly the seeded duplicate set") {
    val res = run("q_semantic_dedup").collect()
    val nEmb = Tables.embeddings(spark, dir).count()
    val nSeeded = Tables.embeddings(spark, dir).where(col("vec_id") % 3 === 0).count()
    assert(res.map(_.getLong(1)).sum === nEmb + nSeeded)
    // natural 64-dim pairs never reach cosine 0.98, so the dropped set is
    // exactly the seeded +100000 copies (each has its lower-id original in
    // the same sign-bucket at cosine 1.0)
    assert(res.map(r => r.getLong(1) - r.getLong(2)).sum === nSeeded)
  }

  test("domain_mix: full admission at rate 1, monotone token accounting") {
    val res = run("q_domain_mix").collect()
    res.foreach { r =>
      val (rate, total, kept) = (r.getDouble(1), r.getLong(2), r.getLong(3))
      assert(kept <= total)
      if (rate == 1.0) assert(kept === total, s"${r.getString(0)}: rate-1 source must keep all")
      assert(r.getLong(4) >= 0L)
    }
    // admission is md5-driven: across the 5 half-rate sources the pooled
    // keep fraction concentrates near 0.5 (binomial, n≈125 at sf0.01+)
    val half = res.filter(_.getDouble(1) == 0.5)
    val frac = half.map(_.getLong(3)).sum.toDouble / half.map(_.getLong(2)).sum
    assert(frac > 0.3 && frac < 0.7, s"pooled half-rate admission $frac")
  }

  test("bpe_tokens: fertility is at least 1 (every word is >= 1 subword)") {
    run("q_bpe_tokens").collect().foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), s"${r.getString(0)}: n_bpe >= n_ws")
      assert(r.getDouble(3) >= 1.0)
    }
  }

  test("curation_funnel: stage counts are monotone non-increasing") {
    run("q_curation_funnel").collect().foreach { r =>
      val (total, len, ink, kept) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(total >= len && len >= ink && ink >= kept)
    }
  }
}
