package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.cv.ContViewEngine

/** gate_dedup — closed loop, one client: synchronous `insertInto` of
  * 10,000-document batches through a DDL-declared chain
  * `dedup_gate` (exact, md5) → `neardup_gate` (SimHash) → a small
  * append-only CV. A quarter of the documents repeat an earlier document
  * exactly and a tenth are planted near-duplicates (an earlier document's
  * words reordered: same token multiset, so the same SimHash, but a
  * different md5). The gates do the work; the CVs do little.
  */
object GateDedup {
  val BatchDocs = 10000
  val Vocab = 5000
  val RepeatFrac = 0.25
  val NearFrac = 0.10
  val Setups = 3
  // batches per run second: a batch takes about 1.5 s on 4 cores
  val BatchSeconds = 1.5
  // untimed batches before the measured ones: a batch takes 2.4 s right
  // after set-up and settles near 1.4 s only after a few more (JIT)
  val WarmupBatches = 2
  val In = "gd_in"
  val Clean = "gd_clean"
  val Out = "gd_out"
  val Exact = "gd_exact"
  val Near = "gd_near"
  val ExactIds = "gd_exact_ids"
  val Ids = "gd_ids"

  val schema: StructType = StructType(Seq(StructField("id", LongType), StructField("body", StringType)))

  private def word(k: Int): String = {
    val sb = new StringBuilder("w")
    var v = k
    do { sb += ('a' + v % 26).toChar; v /= 26 } while (v > 0)
    sb.toString
  }

  /** The text of a fresh document: 30–60 words from the vocabulary. */
  def freshBody(seed: Long, id: Long): String = {
    val r = new scala.util.Random(seed * 31L + id)
    Seq.fill(30 + r.nextInt(31))(word(r.nextInt(Vocab))).mkString(" ")
  }

  /** Kind of each generated document: what the gates should do with it. */
  sealed trait Kind
  case object Fresh extends Kind
  case object Repeat extends Kind
  case object NearDup extends Kind

  /** The document stream of one seed. Batches must be generated in order:
    * repeats and near-duplicates copy earlier fresh documents. Alongside the
    * rows it keeps the ground truth: each document's kind, and the ids that
    * are the first occurrence of their md5(body).
    */
  final class Docs(seed: Long) {
    private val freshIds = mutable.ArrayBuffer.empty[Long]
    private val seenMd5 = mutable.HashSet.empty[String]
    val kinds: mutable.Map[Long, Kind] = mutable.HashMap.empty
    val firstIds: mutable.Set[Long] = mutable.HashSet.empty

    private def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

    def batch(i: Int): Seq[Row] = {
      val r = new scala.util.Random(seed * 1000003L + i)
      (0 until BatchDocs).map { j =>
        val id = i.toLong * BatchDocs + j
        val u = r.nextDouble()
        val (kind, body) =
          if (freshIds.isEmpty || u >= RepeatFrac + NearFrac) {
            freshIds += id
            (Fresh, freshBody(seed, id))
          } else {
            val src = freshBody(seed, freshIds(r.nextInt(freshIds.size)))
            if (u < RepeatFrac) (Repeat, src)
            else {
              // reordered words plus a doubled space: a different md5
              val words = r.shuffle(src.split(' ').toSeq)
              (NearDup, words.head + "  " + words.tail.mkString(" "))
            }
          }
        kinds(id) = kind
        if (seenMd5.add(md5(body))) firstIds += id
        Row(id, body)
      }
    }
  }

  def setup(ctx: Ctx, i: Int): (ContViewEngine, String) = {
    val root = ctx.freshDir(s"gate_dedup_$i")
    val eng = new ContViewEngine(ctx.spark, root)
    eng.sql(s"CREATE STREAM $In (id int8, body text)")
    eng.sql(s"CREATE STREAM $Clean (id int8, body text, h text)")
    eng.sql(s"CREATE STREAM $Out (id int8, body text, h text, fp int8)")
    eng.sql(s"""CREATE VIEW $Exact WITH (action = transform, sink = '$Clean',
               |  outputfunc = dedup_gate('md5(body)', 'id')) AS SELECT id, body FROM $In""".stripMargin)
    eng.sql(s"""CREATE VIEW $Near WITH (action = transform, sink = '$Out',
               |  outputfunc = neardup_gate('body', 'id')) AS SELECT id, body, h FROM $Clean""".stripMargin)
    eng.sql(s"CREATE CONTINUOUS VIEW $ExactIds WITH (changes = false) AS SELECT id FROM $Clean")
    eng.sql(s"CREATE CONTINUOUS VIEW $Ids WITH (changes = false) AS SELECT id FROM $Out")
    (eng, root)
  }

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    // set-up: DDL plus the first batch (warms the gate path), several times;
    // the last engine carries on with batch 1
    var docs = new Docs(ctx.seed)
    val setups = (0 until Setups).map { i =>
      docs = new Docs(ctx.seed)
      val df = spark.createDataFrame(java.util.Arrays.asList(docs.batch(0): _*), schema)
      val t0 = System.nanoTime()
      val (eng, root) = setup(ctx, i)
      eng.insertInto(In, df)
      ((System.nanoTime() - t0) / 1e9, (eng, root))
    }
    // earlier set-ups are left as they are (their gates may still be
    // appending to their stores); their files go with the work dir
    o.put("setup_s", Stats.median(setups.map(_._1)), "s", Setups)
    val (eng, root) = setups.last._2
    val hash = mutable.ArrayBuffer.empty[String]

    val lat = mutable.ArrayBuffer.empty[Double]
    val latOn = mutable.ArrayBuffer.empty[Double]
    val latOff = mutable.ArrayBuffer.empty[Double]
    val selfExact = mutable.ArrayBuffer.empty[Double]
    val selfNear = mutable.ArrayBuffer.empty[Double]
    (1 to WarmupBatches).foreach { w =>
      eng.insertInto(In, spark.createDataFrame(
        java.util.Arrays.asList(docs.batch(w): _*), schema))
    }
    val batches = math.max(2, math.round(ctx.seconds / BatchSeconds).toInt)
    var i = 1 + WarmupBatches
    val runStart = System.nanoTime()
    while (i <= WarmupBatches + batches) {
      val rows = docs.batch(i)
      if (i < WarmupBatches + 5) hash += Io.sha256(rows.iterator.map(_.mkString(",")))
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      val on = ctx.traced && i % 2 == 1
      val e0 = if (on) EngineView.execMs(eng) else Map.empty[String, Long]
      o.attempted += 1
      val t0 = System.nanoTime()
      try ctx.trace.around(ctx.sc, "insertInto", "op", on)(eng.insertInto(In, df))
      catch { case e: Throwable => o.fail(s"insertInto batch $i", e) }
      val ms = (System.nanoTime() - t0) / 1e6
      lat += ms
      if (ctx.traced) (if (on) latOn else latOff) += ms
      if (on) {
        val d = EngineView.delta(e0, EngineView.execMs(eng)).withDefaultValue(0L)
        // a gate's exec time includes its sink's consumers, which run concurrently
        selfExact += (d(Exact) - math.max(d(Near), d(ExactIds))).toDouble
        selfNear += (d(Near) - d(Ids)).toDouble
      }
      i += 1
    }
    val runS = (System.nanoTime() - runStart) / 1e9
    o.inputHash = Io.sha256((s"seed=${ctx.seed}" +: hash).iterator)
    o.put("items_per_s", lat.size * BatchDocs / runS, "1/s", lat.size)
    o.putTimes("latency_ms", lat.toSeq)

    o.put("jvm.heap_mb_live", ctx.liveHeapMb(), "MB")
    val gs = EngineView.gates(eng)
    def admitRatio(g: String): Double = gs.get(g).map { case (a, s, _) => a.toDouble / math.max(1L, a + s) }.getOrElse(0.0)
    if (ctx.traced) {
      o.put(s"streaming.self_ms.$Exact", Stats.median(selfExact.toSeq), "ms", selfExact.size)
      o.put(s"streaming.self_ms.$Near", Stats.median(selfNear.toSeq), "ms", selfNear.size)
      o.put(s"streaming.admit_ratio.$Exact", admitRatio(Exact), "ratio")
      o.put(s"streaming.admit_ratio.$Near", admitRatio(Near), "ratio")
      o.put("streaming.lost_commits", gs.values.map(_._3).sum.toDouble, "count")
      o.put("streaming.store_bytes",
        Seq(Exact, Near).map(g => Io.bytesUnder(java.nio.file.Paths.get(root, g).toString)).sum.toDouble, "B")
      o.put("trace.overhead_pct",
        100.0 * (Stats.median(latOn.toSeq) / Stats.median(latOff.toSeq) - 1.0), "%", latOn.size)
      val costs = Common.spanMetrics(ctx, o, Set("op"))
      o.put("streaming.result_bytes_per_batch", Stats.median(costs.map(_.resultBytes)), "B", costs.size)
      o.put("streaming.tasks_per_batch", Stats.median(costs.map(_.tasks.toDouble)), "count", costs.size)
    }
    o.put("io.disk_mb", Io.bytesUnder(root) / 1e6, "MB")

    // correctness: exact gate admits the first occurrence of each md5(body);
    // the near gate then admits exactly the fresh documents; each sink CV
    // holds exactly what its gate reports admitted
    val exactIds = eng.overlay(ExactIds).select("id").collect().map(_.getLong(0))
    val exactDiff = (exactIds.toSet diff docs.firstIds).size + (docs.firstIds diff exactIds.toSet).size
    o.check("gate_dedup.exact_admits_first_occurrences", exactDiff == 0 && exactIds.length == docs.firstIds.size,
      s"$exactDiff ids differ between the exact gate's output (${exactIds.length}) and the first " +
        s"occurrence of each md5(body) (${docs.firstIds.size})")
    val freshSet = docs.kinds.collect { case (id, Fresh) => id }.toSet
    val sinkIds = eng.overlay(Ids).select("id").collect().map(_.getLong(0))
    val nearKept = sinkIds.count(id => docs.kinds.get(id).contains(NearDup))
    val missing = freshSet.size - sinkIds.count(freshSet)
    o.check("gate_dedup.near_dups_suppressed", nearKept == 0 && missing == 0 && sinkIds.length == freshSet.size,
      s"${docs.kinds.values.count(_ == NearDup)} planted near-duplicates, $nearKept admitted; " +
        s"$missing fresh documents missing; sink holds ${sinkIds.length}, expected ${freshSet.size}")
    val exactAdmitted = gs.get(Exact).map(_._1).getOrElse(-1L)
    val nearAdmitted = gs.get(Near).map(_._1).getOrElse(-1L)
    o.check("gate_dedup.sink_counts_match_gate_stats",
      sinkIds.length.toLong == nearAdmitted && exactIds.length.toLong == exactAdmitted,
      s"sink CV ${sinkIds.length} vs near gate admitted $nearAdmitted; " +
        s"exact-ids CV ${exactIds.length} vs exact gate admitted $exactAdmitted")
    o
  }
}
