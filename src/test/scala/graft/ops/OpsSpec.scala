package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

class OpsSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private val vocab = Seq("spark", "query", "row", "data", "join", "filter", "scan",
    "merge", "sort", "key", "hash", "table", "stream", "batch", "group", "window",
    "order", "value", "fast", "slow")

  /** Synthetic corpus: 120 base docs + near-dup of every 3rd (2 tokens appended). */
  private def corpus: DataFrame = {
    val rng = new scala.util.Random(7)
    val base = (0 until 120).map { i =>
      (i.toLong, (0 until 40).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val dups = base.filter(_._1 % 3 == 0).map { case (id, t) => (id + 100000L, t + " zz yy") }
    (base ++ dups).toDF("doc_id", "text")
  }

  private def bruteForcePairs(df: DataFrame, threshold: Double): Set[(Long, Long)] = {
    val sh = df.select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))
    val l = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val r = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), TextOps.jaccard(col("sh_a"), col("sh_b")).as("j"))
      .where(col("j") >= threshold)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
  }

  test("minhash-lsh near-dups == brute-force exact jaccard at τ=0.6") {
    val df = corpus.cache()
    val expected = bruteForcePairs(df, 0.6)
    assert(expected.nonEmpty, "seeded corpus must contain near-dups")
    val got = MinHashLsh.nearDuplicates(df, "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected) // b=64, r=2 → recall ~1 at 0.6; exact verify kills FPs
  }

  test("minhash signature is deterministic and partition-invariant") {
    val df = corpus
    val a = df.repartition(1)
      .select(MinHashLsh.minhashSignature(TextOps.shingles(col("text")), 16))
      .collect().map(_.getSeq[Long](0))
    val b = df.repartition(7)
      .select(MinHashLsh.minhashSignature(TextOps.shingles(col("text")), 16))
      .collect().map(_.getSeq[Long](0))
    assert(a.toSet == b.toSet)
  }

  test("simhash: perturbed docs within hamming 3; banding finds all such pairs") {
    val df = corpus.cache()
    // brute-force hamming over fingerprints
    val fp = df.select(col("doc_id"), SimHash.simhash64(TextOps.tokens(col("text"))).as("fp"))
    val l = fp.select(col("doc_id").as("id_a"), col("fp").as("fa"))
    val r = fp.select(col("doc_id").as("id_b"), col("fp").as("fb"))
    val expected = l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), bit_count(col("fa").bitwiseXOR(col("fb"))).as("h"))
      .where(col("h") <= 3)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    val got = SimHash.nearDuplicates(df, "doc_id", "text", 3)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(got == expected)
    // seeded near-dups should be among them (2 appended tokens on 40 barely move the fp)
    assert(expected.exists { case (a, b) => b == a + 100000L })
  }

  test("simhash skew guard: flooded degenerate bucket excluded, non-degenerate recall kept") {
    // A crawl pathology: thousands of empty docs share one fingerprint, so all
    // four of their chunk buckets blow past any cap. The guard's contract is
    // that capping those buckets must NOT lose distance-≤3 pairs among the
    // real (non-degenerate) docs — they pair through their other chunks.
    val degenerate = (0 until 3000).map(i => (500000L + i, "")).toDF("doc_id", "text")
    val flooded = corpus.unionByName(degenerate)

    val fp = corpus.select(col("doc_id"), SimHash.simhash64(TextOps.tokens(col("text"))).as("fp"))
    // Pin the assumption the exact-equality assert below leans on: no REAL
    // doc's fingerprint carries a 0x0000 chunk, which would land it in the
    // flooded degenerate bucket and be legitimately dropped by the cap
    // (~1% chance per corpus draw). A corpus-generator or hash change that
    // breaks this should fail here with a clear message, not as a
    // mysterious recall loss two asserts later.
    val zeroChunk = fp.where((0 until 4)
        .map(i => shiftright(col("fp"), i * 16).bitwiseAND(lit(0xffffL)) === 0)
        .reduce(_ || _)).count()
    assert(zeroChunk == 0,
      s"$zeroChunk real corpus fingerprint(s) have a 0x0000 chunk under this " +
        "seed — the exact-equality recall assertion below is invalid; adjust " +
        "the seed or relax to subset-equality")
    val l = fp.select(col("doc_id").as("id_a"), col("fp").as("fa"))
    val r = fp.select(col("doc_id").as("id_b"), col("fp").as("fb"))
    val expectedReal = l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), bit_count(col("fa").bitwiseXOR(col("fb"))).as("h"))
      .where(col("h") <= 3)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet

    val got = SimHash.nearDuplicates(flooded, "doc_id", "text", 3, maxBucketSize = 1000)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(got.forall { case (a, b) => a < 500000L && b < 500000L },
      "capped degenerate bucket must produce no pairs")
    assert(got == expectedReal,
      s"guard lost ${(expectedReal -- got).size} real pair(s), invented ${(got -- expectedReal).size}")
  }

  test("simhash block keys: any pair within maxDist shares >=1 exact key (pigeonhole law)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def keys(fp: Long, blocks: Int): Set[Long] =
      SimHash.SimHashBlockKeys(Literal(0L), blocks, 3).nullSafeEval(fp)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSet
    val rng = new scala.util.Random(42)
    for (blocks <- Seq(4, 5, 6); trial <- 1 to 300) {
      val fp = rng.nextLong()
      val nFlips = rng.nextInt(4) // 0..3 = within the distance bound
      val flips = rng.shuffle((0 until 64).toList).take(nFlips)
      val fp2 = flips.foldLeft(fp)((v, b) => v ^ (1L << b))
      val shared = keys(fp, blocks) intersect keys(fp2, blocks)
      assert(shared.nonEmpty,
        s"blocks=$blocks trial=$trial: pair at distance $nFlips shares no key " +
          s"(flips=$flips) — pigeonhole guarantee broken")
    }
    // distinct-combo packing sanity: a fingerprint emits one key per combo,
    // all distinguishable by their combo prefix (no cross-table collisions)
    for (blocks <- Seq(4, 5, 6)) {
      val ks = keys(rng.nextLong(), blocks)
      val nCombos = (0 until blocks).combinations(blocks - 3).size
      assert(ks.size == nCombos, s"blocks=$blocks: ${ks.size} keys != $nCombos combos")
      assert(ks.map(_ >>> 58).size == nCombos, "combo prefixes must be distinct")
    }
  }

  test("simhash wide-key banding (blocks=6) keeps recall where 16-bit buckets saturate") {
    // Uniform saturation — the 100×-scale failure mode of chunk banding: at
    // 200k uncorrelated fingerprints a 16-bit bucket holds ~3 docs (Poisson
    // λ≈3), so with a cap of 2 nearly every bucket is dropped and a planted
    // distance-3 pair is lost. The 6-block scheme (C(6,3)=20 tables of
    // ~33-bit keys, SimHash.SimHashBlockKeys) has occupancy λ≈5e-4 at the
    // same corpus: the pair's buckets stay pair-sized and survive the SAME
    // cap. Deterministic under the fixed seed.
    val rng = new scala.util.Random(11)
    val n = 200000
    val planted = (900000L, 900001L)
    val x = rng.nextLong()
    val xp = x ^ (1L << 5) ^ (1L << 23) ^ (1L << 47) // hamming distance exactly 3
    val fps = ((0 until n).map(i => (i.toLong, rng.nextLong()))
      :+ (planted._1, x) :+ (planted._2, xp)).toDF("id", "fp")

    val wide = SimHash.nearDuplicatesFromFingerprints(
        fps, maxDist = 3, maxBucketSize = 2, blocks = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide == Set(planted),
      s"6-block banding under cap must find exactly the planted pair, got $wide")

    val narrow = SimHash.nearDuplicatesFromFingerprints(
        fps, maxDist = 3, maxBucketSize = 2, blocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!narrow.contains(planted),
      "under seed 11 every 16-bit bucket of the planted pair is saturated — " +
        "if this starts passing, the saturation premise of the test is gone")

    // sanity: without the cap, the classic scheme still has recall 1.0
    val uncapped = SimHash.nearDuplicatesFromFingerprints(
        fps, maxDist = 3, blocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains(planted))
  }

  test("ann lsh recall vs brute force on testdata embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = graft.queries.SimilarityQueries.bruteForceKnn(
        spark, "/root/testdata/sf0.001", nProbes = 20, k = 5)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // testdata embeddings are near-random (top-1 cosine ≈ 0.35), so the
    // useful operating point is few bits × many tables; clustered real
    // embeddings take more bits per table for a sharper candidate cut
    val approx = AnnSearch.lshKnn(emb, dim = 64, nProbes = 20, k = 5,
        numTables = 16, bitsPerTable = 4)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"LSH recall too low: $recall")
  }

  test("langid classifies crafted samples") {
    val samples = Seq(
      ("en", "the cat and the dog went to the house in the garden"),
      ("es", "el perro y la casa de los vecinos en la calle"),
      ("de", "der hund und die katze von dem haus ist nicht da"),
      ("fr", "le chien est dans la maison pour les enfants qui dorment"),
      ("zh", "这是一个中文句子用于测试语言识别功能")).toDF("expected", "text")
    val got = samples.select(col("expected"), LangId.detect(col("text")).as("d"))
      .select(col("expected"), col("d.lang").as("got"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("media pipeline: deterministic metadata + frame sampling over binary columns") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = docs.select(col("doc_id"), Media.syntheticMediaBytes(col("text")).as("bytes"))
    val meta = Media.extractMetadata(media, "doc_id", "bytes")
    assert(meta.count() == docs.count())
    assert(meta.columns.toSeq ==
      Seq("media_id", "format", "width", "height", "n_frames", "duration_ms"))
    // deterministic across runs
    val counts1 = meta.groupBy("format").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val meta2 = Media.extractMetadata(media.repartition(5), "doc_id", "bytes")
    val counts2 = meta2.groupBy("format").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts1 == counts2 && counts1.values.sum == docs.count())
    // frame sampling explodes only rows with frames, stride honored
    val frames = Media.sampleFrames(meta, every = 10)
    val chk = frames.groupBy("media_id").agg(count(lit(1)).as("n"))
      .join(meta, "media_id")
      .where(col("n") =!= ceil(col("n_frames").cast("double") / 10.0).cast("long"))
    assert(chk.count() == 0)
    // feature extraction: unit-norm fixed-dim vectors, partition-invariant
    val feats = Media.extractFeatures(media, "doc_id", "bytes", dim = 16)
    assert(feats.count() == docs.count())
    val norms = feats.select(
      org.apache.spark.sql.functions.aggregate(col("feature"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")).as("n2")).collect()
    norms.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-3))
    val f1 = feats.orderBy("media_id").collect().map(_.getSeq[Float](1))
    val f2 = Media.extractFeatures(media.repartition(7), "doc_id", "bytes", dim = 16)
      .orderBy("media_id").collect().map(_.getSeq[Float](1))
    assert(f1.zip(f2).forall { case (a, b) => a == b })
    // resize: every row re-emitted at target dims with fresh bytes, format
    // preserved, deterministic across partitionings
    val rs = Media.resize(media, "doc_id", "bytes", targetW = 64, targetH = 32)
    assert(rs.count() == docs.count())
    assert(rs.where(col("width") =!= 64 || col("height") =!= 32).count() == 0)
    val r1 = rs.orderBy("media_id").collect().map(r => r.getAs[Array[Byte]]("bytes").toSeq)
    val r2 = Media.resize(media.repartition(3), "doc_id", "bytes", 64, 32)
      .orderBy("media_id").collect().map(r => r.getAs[Array[Byte]]("bytes").toSeq)
    assert(r1.zip(r2).forall { case (a, b) => a == b })
    assert(rs.select("format").distinct().count() ==
      meta.select("format").distinct().count())
  }

  test("embedding-cosine near-dup finds seeded duplicate vectors") {
    val rng = new scala.util.Random(3)
    val base = (0 until 300).map(i => (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat)))
    // near-dups: tiny perturbation of every 5th vector
    val dups = base.filter(_._1 % 5 == 0).map { case (id, v) =>
      (id + 10000L, v.map(x => x + 0.01f * rng.nextGaussian().toFloat))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val got = AnnSearch.cosineNearDuplicates(emb, dim = 32, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = base.filter(_._1 % 5 == 0).map(b => (b._1, b._1 + 10000L)).toSet
    // every seeded pair found (random pairs have cosine ~0, never ≥0.99)
    assert(expected.subsetOf(got), s"missing ${(expected -- got).size} of ${expected.size}")
    assert(got.forall { case (a, b) => b == a + 10000L })
  }

  test("ivf ann: recall tracks scanned fraction on unclustered data; exact on clustered") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = graft.queries.SimilarityQueries.bruteForceKnn(
        spark, "/root/testdata/sf0.001", nProbes = 20, k = 5)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-random vectors: nprobe/nCentroids = 8/16 scans ~half the corpus
    val approx = AnnSearch.ivfKnn(emb, dim = 64, nProbes = 20, k = 5,
        nCentroids = 16, nprobe = 8)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.35, s"IVF recall too low: $recall")

    // clustered data: points tight around their centroid -> near-perfect recall
    val rng = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian() * 5))
    val pts = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.1 * rng.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val exactC = {
      import org.apache.spark.sql.expressions.Window
      val e = pts.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val p = e.where(col("vec_id") < 10).select(col("vec_id").as("probe_id"), col("v").as("pv"))
      val j = e.join(broadcast(p), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          graft.queries.SimilarityQueries.cosine(col("pv"), col("v")).as("s"))
      val w = Window.partitionBy("probe_id").orderBy(col("s").desc, col("neighbor_id"))
      j.withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
        .select("probe_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val approxC = AnnSearch.ivfKnn(pts, dim = 16, nProbes = 10, k = 5,
        nCentroids = 8, nprobe = 2)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallC = (exactC & approxC).size.toDouble / exactC.size
    assert(recallC >= 0.9, s"IVF recall on clustered data too low: $recallC")
  }

  test("pq ann: exact on codebook-representable vectors; recall with re-rank on testdata") {
    // Exact-reconstruction domain: every subvector is drawn from a pool of
    // ≤ ksub distinct values per subspace, so the farthest-point k-means
    // init picks every distinct subvector as a centroid and Lloyd keeps
    // them — reconstruction is EXACT, the ADC score equals the true cosine,
    // and PQ top-k must equal brute-force top-k with no tolerance.
    val rng = new scala.util.Random(17)
    val pools = Array.fill(4)(Array.fill(6)(Array.fill(4)(rng.nextGaussian())))
    val vecs = (0 until 300).map { i =>
      (i.toLong, (0 until 4).flatMap(s => pools(s)(rng.nextInt(6))).map(_.toFloat).toArray)
    }.toDF("vec_id", "embedding")
    def bfTopK(pts: DataFrame, nProbes: Int, k: Int): Set[(Long, Long)] = {
      import org.apache.spark.sql.expressions.Window
      val e = pts.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val p = e.where(col("vec_id") < nProbes)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      val j = e.join(broadcast(p), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          graft.queries.SimilarityQueries.cosine(col("pv"), col("v")).as("s"))
      val w = Window.partitionBy("probe_id")
        .orderBy(round(col("s"), 6).desc, col("neighbor_id"))
      j.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
        .select("probe_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val exact = bfTopK(vecs, nProbes = 10, k = 5)
    val viaPq = PqSearch.pqKnn(vecs, dim = 16, nProbes = 10, k = 5,
        m = 4, ksub = 8, shortlist = 50)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPq == exact,
      s"PQ with exact reconstruction must equal brute force; " +
        s"missing=${(exact -- viaPq).size} extra=${(viaPq -- exact).size}")
    // IVF-PQ with every list probed (nprobe = nCentroids) + exact
    // reconstruction degenerates to exhaustive ADC — must also equal brute
    // force exactly
    val viaIvfPq = PqSearch.ivfPqKnn(vecs, dim = 16, nProbes = 10, k = 5,
        nCentroids = 4, nprobe = 4, m = 4, ksub = 8, shortlist = 50)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIvfPq == exact,
      s"IVF-PQ scanning all lists must equal brute force; " +
        s"missing=${(exact -- viaIvfPq).size} extra=${(viaIvfPq -- exact).size}")

    // Near-random testdata embeddings — the hostile case for quantization
    // (no cluster structure to absorb the code error): the ADC shortlist
    // plus exact re-rank must still recover most of the true top-k.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exactE = graft.queries.SimilarityQueries.bruteForceKnn(
        spark, "/root/testdata/sf0.001", nProbes = 20, k = 5)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approxE = PqSearch.pqKnn(emb, dim = 64, nProbes = 20, k = 5,
        m = 16, ksub = 64, shortlist = 64)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exactE & approxE).size.toDouble / exactE.size
    assert(recall >= 0.5, s"PQ recall too low: $recall")
  }

  test("codegen CosineSim/DotProduct are bit-identical to the HOF formulation") {
    import graft.functions.VectorExpressions.{cosineSim, dotProduct}
    val rng = new scala.util.Random(11)
    val vecs = (0L until 200L).map { i =>
      (i, Array.fill(64)(rng.nextGaussian()))
    }.toDF("id", "v").withColumn("v", col("v").cast("array<double>"))
    val pairs = vecs.as("a").join(vecs.as("b"), col("a.id") < col("b.id") && col("b.id") < col("a.id") + 5)
      .select(col("a.v").as("va"), col("b.v").as("vb"))
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    def hofCos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      hofDot(a, b) / (sqrt(hofDot(a, a)) * sqrt(hofDot(b, b)))
    val mismatches = pairs.select(
        dotProduct(col("va"), col("vb")).as("d1"), hofDot(col("va"), col("vb")).as("d2"),
        cosineSim(col("va"), col("vb")).as("c1"), hofCos(col("va"), col("vb")).as("c2"))
      .where(col("d1") =!= col("d2") || col("c1") =!= col("c2"))
    assert(mismatches.count() == 0) // exact ==, not tolerance: same IEEE op order
    // null propagation matches the HOF chain
    val withNull = Seq((Some(Array(1.0, 2.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    assert(withNull.select(cosineSim(col("a"), col("b"))).collect()(0).isNullAt(0))
    // length mismatch (malformed vector) is NULL, not a truncated score —
    // the zip_with chain null-pads the short side, so NULL propagates
    val mismatch = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0))).toDF("a", "b")
    assert(mismatch.select(cosineSim(col("a"), col("b"))).collect()(0).isNullAt(0))
    assert(mismatch.select(dotProduct(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("minhash: shingle-less docs (< n tokens) are excluded, not all-paired") {
    // 50 short docs would otherwise share the identical all-MaxValue
    // signature — colliding in every band and passing the agree prefilter
    // at 1.0 — for 1225 zero-Jaccard candidate pairs
    val shorts = (0 until 50).map(i => (1000L + i, s"t$i"))
    val real = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"))
    val df = (real ++ shorts).toDF("doc_id", "text")
    val pairs = MinHashLsh.nearDuplicates(df, "doc_id", "text", 0.6).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val cands = MinHashLsh.candidatePairs(df, "doc_id", "text").collect()
    assert(cands.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("JaccardSim/SignatureAgreement match their HOF/array_intersect formulations") {
    val rng = new scala.util.Random(7)
    val words = (0 until 40).map(i => s"w$i")
    val docs = (0L until 150L).map { i =>
      (i, Seq.fill(8 + rng.nextInt(12))(words(rng.nextInt(words.length))).distinct)
    }.toDF("id", "sh")
    val pairs = docs.as("a").join(docs.as("b"), col("a.id") < col("b.id"))
      .select(col("a.sh").as("sa"), col("b.sh").as("sb"))
    def hofJaccard(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val inter = size(array_intersect(a, b)).cast("double")
      val union = size(a) + size(b) - size(array_intersect(a, b))
      when(union > 0, inter / union).otherwise(lit(0.0))
    }
    val jacMismatch = pairs.select(
        TextOps.jaccard(col("sa"), col("sb")).as("j1"),
        hofJaccard(col("sa"), col("sb")).as("j2"))
      .where(col("j1") =!= col("j2"))
    assert(jacMismatch.count() == 0) // exact ==: same integer counts, same division

    val sigs = (0L until 100L).map { i =>
      (i, Array.fill(128)(rng.nextLong(8))) // small domain -> frequent agreement
    }.toDF("id", "sig")
    val sigPairs = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .select(col("a.sig").as("sa"), col("b.sig").as("sb"))
    def hofAgree(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      size(filter(zip_with(a, b, (x, y) => (x === y).cast("int")), e => e === 1))
        .cast("double") / 128
    val agreeMismatch = sigPairs.select(
        MinHashLsh.sigAgree(col("sa"), col("sb")).as("a1"),
        hofAgree(col("sa"), col("sb")).as("a2"))
      .where(col("a1") =!= col("a2"))
    assert(agreeMismatch.count() == 0)
    // null propagation
    val withNull = Seq((Some(Seq("a", "b")), Option.empty[Seq[String]])).toDF("a", "b")
    assert(withNull.select(TextOps.jaccard(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("cosine near-dup: oversized-bucket guard bounds candidates on a dense cluster") {
    val rng = new scala.util.Random(3)
    val base = Array.fill(32)(rng.nextGaussian())
    // 1000 identical vectors: they collide in EVERY table, so without the
    // guard the self-join emits ~8 x 500k candidate rows
    val dense = (0L until 1000L).map(i => (i, base.clone()))
    val others = (2000L until 2100L).map(i => (i, Array.fill(32)(rng.nextGaussian())))
    val emb = (dense ++ others).toDF("vec_id", "embedding")
    val got = AnnSearch.cosineNearDuplicates(emb, 32, 0.95, maxBucketSize = 100)
    // the dense cluster's buckets are over cap in all tables -> excluded
    // (and reported); the surviving candidate set stays bounded
    assert(got.count() < 1000L)
    // with the cap above the cluster size the same pairs come back in full
    val full = AnnSearch.cosineNearDuplicates(emb, 32, 0.95, maxBucketSize = 4096)
    assert(full.count() == 1000L * 999 / 2)
  }

  test("simhash: oversized-bucket guard bounds candidates on a degenerate corpus") {
    // thousands of near-empty docs hash to the same fingerprint -> the same
    // four chunk buckets; without the guard the self-join emits O(s²) pairs
    val degenerate = (0L until 3000L).map(i => (i, ""))
    val real = (10000L until 10050L).map(i => (i, s"unique document body $i with words ${i * 7}"))
    val corpus = (degenerate ++ real).toDF("doc_id", "text")
    val capped = SimHash.nearDuplicates(corpus, "doc_id", "text", maxDist = 3,
      maxBucketSize = 100)
    // the degenerate cluster is over cap in all four chunks -> excluded
    // (and reported on stderr); the output stays bounded instead of ~4.5M
    assert(capped.count() < 3000L)
    // with the cap above the cluster size the full pair set comes back
    val small = (0L until 60L).map(i => (i, "")).toDF("doc_id", "text")
    val full = SimHash.nearDuplicates(small, "doc_id", "text", maxDist = 3,
      maxBucketSize = 4096)
    assert(full.count() == 60L * 59 / 2)
  }

  test("simhash seeded-recall domain on testdata: every exact copy found at distance 0") {
    // validates the q_simhash_neardup oracle premise: with exact copies of
    // even doc_ids seeded at +1000000, the self-copy subset of the
    // Hamming<=3 output is exactly {(2k, 2k+1000000, 0)}
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = d.unionByName(
      d.where(pmod(col("doc_id"), lit(2)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val got = SimHash.nearDuplicates(corpus, "doc_id", "text", maxDist = 3)
      .where(col("id_b") === col("id_a") + 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = d.where(pmod(col("doc_id"), lit(2)) === 0)
      .collect().map(r => (r.getLong(0), r.getLong(0) + 1000000L, 0)).toSet
    assert(expected.nonEmpty)
    assert(got == expected)
  }

  test("pii: detect counts + redaction masks every category, clean text untouched") {
    val rows = Seq(
      (1L, "mail me at jo.doe+x@sub.example.org or root@h.co today"),
      (2L, "server at 10.0.255.3 and 192.168.1.1, port 8080"),
      (3L, "ssn 123-45-6789 phone 555 123 4567 and 555-123-4567"),
      (4L, "no personal data here, just 1234 numbers 5.6"))
      .toDF("id", "t")
    val got = rows.select(
      col("id"),
      Pii.count(col("t"), "email").as("em"), Pii.count(col("t"), "ipv4").as("ip"),
      Pii.count(col("t"), "ssn").as("ss"), Pii.count(col("t"), "phone").as("ph"),
      Pii.redact(col("t")).as("red"), Pii.containsPii(col("t")).as("has"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)), r.getString(5), r.getBoolean(6)))
      .toMap
    assert(got(1L)._1 == ((2, 0, 0, 0)))
    assert(got(1L)._2 == "mail me at [EMAIL] or [EMAIL] today")
    assert(got(2L)._1 == ((0, 2, 0, 0)))
    assert(got(2L)._2 == "server at [IPV4] and [IPV4], port 8080")
    // 3: one ssn + two phone spellings; ssn must NOT be double-masked as phone
    assert(got(3L)._1 == ((0, 0, 1, 2)))
    assert(got(3L)._2 == "ssn [SSN] phone [PHONE] and [PHONE]")
    assert(got(4L)._1 == ((0, 0, 0, 0)))
    assert(got(4L)._2 == "no personal data here, just 1234 numbers 5.6")
    assert(got.map { case (k, v) => k -> v._3 } ==
      Map(1L -> true, 2L -> true, 3L -> true, 4L -> false))
  }

  test("dedup clusters: connected components match driver-side union-find") {
    val rng2 = new scala.util.Random(11)
    // random sparse graph incl. a long chain (forces multiple propagation
    // rounds) and isolated cliques
    val chain = (0L until 30L).map(i => (i, i + 1))
    val cliques = (0 until 10).flatMap { c =>
      val base = 1000L + c * 10
      Seq((base, base + 1), (base + 1, base + 2), (base, base + 2))
    }
    val randomEdges = (0 until 40).map { _ =>
      val a = 2000L + rng2.nextInt(60); val b = 2000L + rng2.nextInt(60)
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2)
    val edges = (chain ++ cliques ++ randomEdges).distinct
    // driver-side union-find reference
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(v => v -> find(v)).toMap
    // default regime (bounded graph → driver union-find fast path)
    val got = DedupClusters.connectedComponents(
      edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // distributed regime forced (maxDriverEdges = 0): label propagation +
    // pointer jumping must produce the identical labeling
    val gotDist = DedupClusters.connectedComponents(
      edges.toDF("a", "b"), "a", "b", maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == expected)
    // empty pair set → empty labeling in both regimes (a clean corpus must
    // not NPE on the null sum of the convergence witness)
    assert(DedupClusters.connectedComponents(
      edges.toDF("a", "b").limit(0), "a", "b").count() == 0)
    assert(DedupClusters.connectedComponents(
      edges.toDF("a", "b").limit(0), "a", "b", maxDriverEdges = 0L).count() == 0)
  }

  test("bm25: scores match a direct driver-side Okapi computation") {
    val docs = Seq(
      (0L, "spark spark query fast"),
      (1L, "query join slow table table table"),
      (2L, "spark"),
      (3L, "row scan merge sort"), // matches nothing
      (4L, "Spark, QUERY! spark-join")) // tokenizer: case/punct insensitive
      .toDF("doc_id", "text")
    val got = KeywordScore.bm25(docs, "doc_id", "text", Seq("spark", "query"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // independent reference computation
    val toks = Map(
      0L -> Seq("spark", "spark", "query", "fast"),
      1L -> Seq("query", "join", "slow", "table", "table", "table"),
      2L -> Seq("spark"),
      3L -> Seq("row", "scan", "merge", "sort"),
      4L -> Seq("spark", "query", "spark", "join"))
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size).sum / n
    def score(id: Long): Double = Seq("spark", "query").map { t =>
      val tf = toks(id).count(_ == t).toDouble
      val df = toks.values.count(_.contains(t)).toDouble
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * toks(id).size / avgdl))
    }.sum
    assert(got.keySet == Set(0L, 1L, 2L, 4L), "only term-matching docs returned")
    got.foreach { case (id, s) => assert(math.abs(s - score(id)) < 1e-9, s"doc $id") }
    // more matched occurrences in a shorter doc must not score lower
    assert(got(0L) > got(1L))
  }

  test("bm25 indexed tier: same scores as the scan tier, pruned per-query reads") {
    val docs = Seq(
      (0L, "spark spark query fast"),
      (1L, "query join slow table table table"),
      (2L, "spark"),
      (3L, "row scan merge sort"),
      (4L, "Spark, QUERY! spark-join"),
      (5L, "")) // token-less doc still counts toward N/avgdl
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25t").toString
    KeywordScore.buildIndex(docs, "doc_id", "text", dir)
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (terms <- Seq(Seq("spark", "query"), Seq("table"), Seq("spark"),
        Seq("absentterm"), Seq("absentterm", "join"),
        Seq("spark", "spark", "query"))) {
      val scan = scores(KeywordScore.bm25(docs, "doc_id", "text", terms))
      val idx = scores(KeywordScore.bm25Indexed(spark, dir, terms))
      val multi = scores(KeywordScore.bm25IndexedMulti(spark, dir, Map("q" -> terms))
        .select("doc_id", "score"))
      for ((tier, got) <- Seq("indexed" -> idx, "multi" -> multi)) {
        assert(got.keySet === scan.keySet, s"$tier terms=$terms")
        scan.foreach { case (id, s) =>
          assert(math.abs(got(id) - s) < 1e-12,
            s"$tier terms=$terms doc=$id scan=$s got=${got(id)}")
        }
      }
    }
    // the per-query plan must PRUNE: only the query terms' hash buckets
    // are read (partition filter on the postings scan), never the corpus
    val plan = KeywordScore.bm25Indexed(spark, dir, Seq("spark"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("bucket"),
      s"postings scan must carry a bucket partition filter:\n$plan")
  }

  test("bm25 appendable index: build+append scores equal a full rebuild") {
    val part1 = Seq(
      (0L, "spark spark query fast"),
      (1L, "query join slow table table table"),
      (2L, "spark")).toDF("doc_id", "text")
    val part2 = Seq(
      (3L, "row scan merge sort"),
      (4L, "Spark, QUERY! spark-join"),
      (5L, "vector vector index"), // NEW vocabulary in the delta
      (6L, "")).toDF("doc_id", "text")
    val all = part1.unionByName(part2)
    val full = java.nio.file.Files.createTempDirectory("graft_bm25f").toString
    KeywordScore.buildIndex(all, "doc_id", "text", full)
    val inc = java.nio.file.Files.createTempDirectory("graft_bm25i").toString
    KeywordScore.buildIndex(part1, "doc_id", "text", inc)
    // pre-append reads populate the stats cache — the append must
    // invalidate it, or post-append queries would score with stale N
    assert(KeywordScore.bm25Indexed(spark, inc, Seq("spark")).count() == 2,
      "pre-append: part1's two spark docs")
    KeywordScore.appendIndex(part2, "doc_id", "text", inc)
    def scores(dir: String, terms: Seq[String]): Map[Long, Double] =
      KeywordScore.bm25Indexed(spark, dir, terms)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (terms <- Seq(Seq("spark", "query"), Seq("table"),
        Seq("vector"), Seq("spark", "vector", "absent"))) {
      val f = scores(full, terms)
      val i = scores(inc, terms)
      assert(i.keySet === f.keySet, s"terms=$terms matched-doc set")
      f.foreach { case (id, v) =>
        assert(math.abs(i(id) - v) < 1e-9,
          s"terms=$terms doc=$id full=$v incremental=${i(id)}")
      }
    }
    // batch API over the appended index agrees too
    val multi = KeywordScore.bm25IndexedMulti(spark, inc,
      Map("a" -> Seq("vector"), "b" -> Seq("spark", "query")))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    scores(full, Seq("vector")).foreach { case (id, v) =>
      assert(math.abs(multi(("a", id)) - v) < 1e-9)
    }
  }

  test("bm25 batch retrieval: one pass scores every query like the scan tier") {
    val docs = Seq(
      (0L, "spark spark query fast"),
      (1L, "query join slow table table table"),
      (2L, "spark"),
      (3L, "row scan merge sort"),
      (4L, "Spark, QUERY! spark-join"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25m").toString
    KeywordScore.buildIndex(docs, "doc_id", "text", dir)
    val queries = Map(
      "a" -> Seq("spark", "query"),
      "b" -> Seq("table"),
      "c" -> Seq("join", "absentterm"),
      "d" -> Seq("absentterm")) // matches nothing -> zero rows for d
    val got = KeywordScore.bm25IndexedMulti(spark, dir, queries)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(!got.keys.exists(_._1 == "d"), "no-match query contributes no rows")
    queries.foreach { case (q, terms) =>
      val want = KeywordScore.bm25(docs, "doc_id", "text", terms)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keys.filter(_._1 == q).map(_._2).toSet === want.keySet,
        s"query $q matched-doc set")
      want.foreach { case (id, s) =>
        assert(math.abs(got((q, id)) - s) < 1e-9, s"query $q doc $id")
      }
    }
  }
}
