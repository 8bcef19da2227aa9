package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions._
import graft.SharedSpark

class SketchAggSpec extends AnyFunSuite with SharedSpark {

  override protected def configure(s: SparkSession): Unit = {
    GraftFunctions.register(s)
  }

  import spark.implicits._

  private def events = {
    val rng = new scala.util.Random(99)
    (1 to 20000).map { i =>
      (s"type${i % 4}", s"user${rng.nextInt(500)}", rng.nextDouble() * 100)
    }.toDF("etype", "user", "value")
  }

  test("hll_count_distinct ~ countDistinct; invariant to partitioning") {
    val df = events.cache()
    val exact = df.groupBy("etype").agg(countDistinct($"user").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 4, 13)) {
      val est = df.repartition(parts).groupBy("etype")
        .agg(hll_count_distinct($"user").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      exact.foreach { case (k, n) =>
        assert(math.abs(est(k) - n) <= math.max(2, n / 50), s"$k: est=${est(k)} exact=$n")
      }
    }
    // determinism across partitionings (register max is order-free)
    val a = df.repartition(3).groupBy("etype").agg(hll_count_distinct($"user")).collect().toSeq
    val b = df.repartition(11).groupBy("etype").agg(hll_count_distinct($"user")).collect().toSeq
    assert(a.map(_.toSeq).toSet == b.map(_.toSeq).toSet)
  }

  test("hll state column + hll_union_agg == direct rollup (combine parity)") {
    val df = events
    // per (etype,user-bucket) states, then union to per-etype
    val states = df.withColumn("bucket", pmod(hash($"user"), lit(8)))
      .groupBy("etype", "bucket").agg(hll_agg($"user").as("state"))
    val rolled = states.groupBy("etype")
      .agg(hll_cardinality(GraftFunctions.hll_union_agg($"state")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = df.groupBy("etype").agg(hll_count_distinct($"user").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled == direct)
  }

  test("hll_union_agg over Spark hll_sketch_agg sketches fails naming the conflict") {
    events.createOrReplaceTempView("ev_ds")
    val e = intercept[Exception] {
      spark.sql("""SELECT hll_union_agg(s) FROM
                  |(SELECT etype, hll_sketch_agg(user) AS s FROM ev_ds GROUP BY etype)"""
        .stripMargin).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("not a graft hll_agg state") &&
      m.contains("hll_sketch_agg")), msgs.mkString(" | "))
  }

  test("string_agg is Spark's built-in on a graft session") {
    Seq(("a", "x"), ("a", "y"), ("b", "z")).toDF("g", "v").createOrReplaceTempView("sa")
    val got = spark.sql(
      "SELECT g, string_agg(v, ',') WITHIN GROUP (ORDER BY v) AS s FROM sa GROUP BY g ORDER BY g")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(got == Seq("a" -> "x,y", "b" -> "z"))
  }

  test("bloom_agg: no false negatives through SQL") {
    val df = events.limit(2000).cache()
    df.createOrReplaceTempView("ev_bloom")
    val state = spark.sql(
      "SELECT bloom_agg(user) AS bf FROM ev_bloom").collect()(0).getAs[Array[Byte]](0)
    val users = df.select("user").distinct().as[String].collect()
    val bf = graft.sketch.BloomFilter.deserialize(state)
    assert(users.forall(bf.contains))
  }

  test("freq_agg exact on sparse domain; freq via SQL") {
    events.createOrReplaceTempView("ev_freq")
    val got = spark.sql(
      """SELECT etype, freq(freq_agg(user), 'user7') AS f7, freq_total(freq_agg(user)) AS tot
        |FROM ev_freq GROUP BY etype ORDER BY etype""".stripMargin).collect()
    val exact = events.where($"user" === "user7").groupBy("etype").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = events.groupBy("etype").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      val et = r.getString(0)
      assert(r.getLong(1) == exact.getOrElse(et, 0L), s"freq mismatch for $et")
      assert(r.getLong(2) == totals(et))
    }
  }

  test("dist_agg quantiles close to exact percentiles") {
    val got = events.groupBy("etype")
      .agg(dist_quantile(dist_agg($"value"), lit(0.5)).as("p50"),
           dist_quantile(dist_agg($"value"), lit(0.99)).as("p99"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val exact = events.groupBy("etype")
      .agg(expr("percentile(value, 0.5)").as("p50"), expr("percentile(value, 0.99)").as("p99"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .map(t => t._1 -> (t._2, t._3)).toMap
    got.foreach { case (et, p50, p99) =>
      assert(math.abs(p50 - exact(et)._1) < 1.5, s"$et p50 $p50 vs ${exact(et)._1}")
      assert(math.abs(p99 - exact(et)._2) < 1.5, s"$et p99 $p99 vs ${exact(et)._2}")
    }
  }

  test("topk_agg returns true heavy hitters with exact counts on skewed data") {
    val skewed = ((1 to 5000).map(_ => "big") ++ (1 to 2000).map(_ => "mid") ++
      (1 to 50).flatMap(i => Seq.fill(10)(s"small$i")))
      .map(Tuple1(_)).toDF("v")
    val r = skewed.agg(
      topk_values(topk_agg($"v", 3)).as("vals"),
      topk_freqs(topk_agg($"v", 3)).as("freqs")).collect()(0)
    val vals = r.getSeq[String](0)
    val freqs = r.getSeq[Long](1)
    assert(vals.take(2) == Seq("big", "mid"))
    assert(freqs.take(2) == Seq(5000L, 2000L))
  }

  test("sketch states survive parquet write/read and re-merge") {
    val dir = java.nio.file.Files.createTempDirectory("graft_state").toString
    events.withColumn("bucket", pmod(hash($"user"), lit(4)))
      .groupBy("etype", "bucket")
      .agg(hll_agg($"user").as("hll"), dist_agg($"value").as("dist"))
      .write.mode("overwrite").parquet(dir)
    val re = spark.read.parquet(dir).groupBy("etype")
      .agg(hll_cardinality(GraftFunctions.hll_union_agg($"hll")).as("n"),
           dist_quantile(dist_merge_agg($"dist"), lit(0.5)).as("p50"))
    val direct = events.groupBy("etype").agg(hll_count_distinct($"user").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    re.collect().foreach { r =>
      assert(r.getLong(1) == direct(r.getString(0)))
      assert(!r.getDouble(2).isNaN)
    }
  }

  test("date_round and hash_group SQL functions") {
    val df = (1 to 100).map(i =>
      (s"k${i % 3}", java.sql.Timestamp.valueOf(f"2024-01-01 10:${i % 60}%02d:30"))
    ).toDF("k", "ts")
    df.createOrReplaceTempView("dr_t")
    val rows = spark.sql(
      """SELECT date_round(ts, INTERVAL 15 MINUTE) AS b, count(*) AS n
        |FROM dr_t GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(rows.map(_.getLong(1)).sum == 100)
    assert(rows.forall(r => r.getTimestamp(0).getTime % (15 * 60 * 1000) == 0))
    val viaStr = spark.sql("SELECT date_round(ts, '15 minutes') AS b FROM dr_t").collect()
    assert(viaStr.forall(r => r.getTimestamp(0).getTime % (15 * 60 * 1000) == 0))
    val hg = spark.sql("SELECT hash_group(k, ts) AS h, ls_hash_group(ts, k) AS lh FROM dr_t")
      .collect()
    assert(hg.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
  }

  test("pipelinedb-named aggregate aliases match their window/exact equivalents") {
    events.createOrReplaceTempView("alias_t")
    val r = spark.sql(
      """SELECT etype,
        |       set_cardinality(set_agg(user)) AS sc,
        |       exact_count_distinct(user) AS ecd,
        |       keyed_min(value, user) AS kmin,
        |       keyed_max(value, user) AS kmax,
        |       first_values(3, user) AS fv,
        |       combinable_rank(50.0, value) AS crank,
        |       round(combinable_cume_dist(50.0, value), 6) AS ccume,
        |       combinable_dense_rank(50.0, value) AS cdrank,
        |       round(combinable_percentile_cont(0.5, value), 6) AS cpc,
        |       round(combinable_percent_rank(50.0, value), 6) AS cpr
        |FROM alias_t GROUP BY etype ORDER BY etype""".stripMargin).collect()
    val exact = events.groupBy("etype").agg(
      countDistinct($"user").as("ecd"),
      min_by($"user", $"value").as("kmin"),
      max_by($"user", $"value").as("kmax"),
      slice(sort_array(collect_list($"user")), 1, 3).as("fv"),
      (lit(1L) + count(when($"value" < 50.0, 1))).as("crank"),
      round((count(when($"value" <= 50.0, 1)) + 1).cast("double") /
        (count(lit(1)) + 1).cast("double"), 6).as("ccume"),
      (lit(1L) + countDistinct(when($"value" < 50.0, $"value"))).as("cdrank"),
      round(expr("percentile(value, 0.5)"), 6).as("cpc"),
      // (rank-1)/N = countLt/N (hllfuncs.c cq_hypothetical_percent_rank_final)
      round(count(when($"value" < 50.0, 1)).cast("double") /
        count(lit(1)).cast("double"), 6).as("cpr"))
      .orderBy("etype").collect()
    def num(r: org.apache.spark.sql.Row, i: Int): Long = r.getAs[Number](i).longValue
    r.zip(exact).foreach { case (got, exp) =>
      assert(num(got, 1) == num(exp, 1), "set_cardinality")   // sc == ecd
      assert(num(got, 2) == num(exp, 1), "exact_count_distinct")
      assert(got.getString(3) == exp.getString(2), "keyed_min")
      assert(got.getString(4) == exp.getString(3), "keyed_max")
      assert(got.getSeq[String](5) == exp.getSeq[String](4), "first_values")
      assert(num(got, 6) == num(exp, 5), "combinable_rank")
      assert(math.abs(got.getDouble(7) - exp.getDouble(6)) < 1e-9, "cume_dist")
      // dense rank via HLL explicit mode is exact up to 2048 distinct below
      assert(math.abs(num(got, 8) - num(exp, 7)) <= num(exp, 7) / 50 + 2, "dense_rank")
      assert(math.abs(got.getDouble(9) - exp.getDouble(8)) < 1e-9, "percentile_cont")
      assert(math.abs(got.getDouble(10) - exp.getDouble(9)) < 1e-9, "percent_rank")
    }
  }

  test("sketch scalar constructors/mutators/printers (*_empty, *_add, *_print)") {
    val r = spark.sql(
      """SELECT hll_cardinality(hll_add(hll_add(hll_empty(), 'a'), 'b')) AS hc,
        |       bloom_contains(bloom_add(bloom_empty(), 'x'), 'x') AS bc,
        |       bloom_contains(bloom_add(CAST(NULL AS BINARY), 'x'), 'y') AS bn,
        |       freq(freq_add(freq_add(freq_empty(), 7), 7), 7) AS f7,
        |       dist_quantile(dist_add(dist_add(dist_add(dist_empty(), 1.0), 2.0), 3.0), 0.5) AS dq,
        |       topk(topk_increment(topk_add(topk_empty(3), 'u'), 'u')) AS tk,
        |       hll_print(hll_add(hll_empty(), 'a')) AS hp,
        |       topk_print(topk_add(topk_empty(3), 'v')) AS tp
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) == 2L)
    assert(r.getBoolean(1))
    assert(!r.getBoolean(2))
    assert(r.getLong(3) == 2L)
    assert(math.abs(r.getDouble(4) - 2.0) < 1e-9)
    assert(r.getMap[String, Long](5).toMap == Map("u" -> 2L))
    assert(r.getString(6).startsWith("hll {"))
    assert(r.getString(7).contains("v:1"))
  }

  test("weighted topk_agg, bucket_cardinality, jsonb aliases") {
    Seq(("g", "a", 5L), ("g", "b", 2L), ("g", "a", 4L), ("g", "c", 1L))
      .toDF("g", "v", "w").createOrReplaceTempView("wtk_t")
    val r = spark.sql(
      """SELECT topk(topk_agg(v, 2, w)) AS tk,
        |       jsonb_agg(w) AS ja, jsonb_object_agg(v, w) AS joa
        |FROM wtk_t GROUP BY g""".stripMargin).collect()(0)
    assert(r.getMap[String, Long](0).toMap == Map("a" -> 9L, "b" -> 2L))
    assert(r.getString(1) == "[1,2,4,5]")
    assert(r.getString(2) == """{"a":5,"b":2,"c":1}""")
    val bc = spark.sql(
      """SELECT bucket_cardinality(bucket_agg(v, w), 5) AS c5,
        |       bucket_cardinality(bucket_agg(v, w), 9) AS c9
        |FROM wtk_t GROUP BY g""".stripMargin).collect()(0)
    assert(bc.getLong(0) == 1L) // only 'a' latest-lands in bucket 5? (no ts: larger bucket wins ties)
    assert(bc.getLong(1) == 0L)
  }

  test("json_object_agg tolerates duplicate keys (greatest value wins)") {
    Seq(("a", "k1", 1L), ("a", "k1", 5L), ("a", "k2", 2L), ("b", "k3", 7L))
      .toDF("g", "k", "v").createOrReplaceTempView("joa_t")
    val got = spark.sql(
      "SELECT g, json_object_agg(k, v) AS j FROM joa_t GROUP BY g ORDER BY g").collect()
    assert(got(0).getString(1) == """{"k1":5,"k2":2}""")
    assert(got(1).getString(1) == """{"k3":7}""")
  }

  test("bucket_agg assigns distinct values to latest-timestamp bucket") {
    val rows = Seq(
      ("a", "u1", 1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("a", "u1", 2, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")), // u1 → bucket 2 (later)
      ("a", "u2", 1, java.sql.Timestamp.valueOf("2024-01-03 00:00:00")),
      ("a", "u3", 3, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("b", "u1", 7, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    ).toDF("g", "u", "bkt", "ts")
    rows.createOrReplaceTempView("ba_t")
    val got = spark.sql(
      """SELECT g, bucket_cardinalities(bucket_agg(u, bkt, ts)) AS cards,
        |       bucket_ids(bucket_agg(u, bkt, ts)) AS ids
        |FROM ba_t GROUP BY g ORDER BY g""".stripMargin).collect()
    val a = got(0)
    assert(a.getMap[Int, Long](1).toMap == Map(1 -> 1L, 2 -> 1L, 3 -> 1L)) // u2→1, u1→2, u3→3
    assert(a.getSeq[Int](2) == Seq(1, 2, 3))
    val b = got(1)
    assert(b.getMap[Int, Long](1).toMap == Map(7 -> 1L))
    // partition invariance
    val p1 = rows.repartition(1).groupBy("g")
      .agg(expr("bucket_cardinalities(bucket_agg(u, bkt, ts))")).collect().map(_.toSeq).toSet
    val p7 = rows.repartition(7).groupBy("g")
      .agg(expr("bucket_cardinalities(bucket_agg(u, bkt, ts))")).collect().map(_.toSeq).toSet
    assert(p1 == p7)
  }

  test("json_object_int_sum / json_agg / json_object_agg") {
    val rows = Seq(("a", """{"x": 3, "y": 1}"""), ("a", """{"x": 2}"""), ("b", """{"z": 5}"""))
      .toDF("g", "j")
    rows.createOrReplaceTempView("js_t")
    val got = spark.sql(
      """SELECT g, json_object_int_sum(j) AS sums FROM js_t GROUP BY g ORDER BY g""").collect()
    assert(got(0).getMap[String, Long](1).toMap == Map("x" -> 5L, "y" -> 1L))
    assert(got(1).getMap[String, Long](1).toMap == Map("z" -> 5L))
    val ja = spark.sql("SELECT json_agg(g) AS arr FROM js_t").collect()(0).getString(0)
    assert(ja == """["a","a","b"]""")
    val jo = spark.sql(
      "SELECT json_object_agg(g, j) AS o FROM js_t WHERE g = 'b'").collect()(0).getString(0)
    assert(jo.contains("\"b\"") && jo.contains("5"))
  }

  test("bottom_k buffer is bounded by k at every stage; agg matches sort-slice") {
    // the buffer itself never holds more than k elements regardless of input
    val ord = implicitly[Ordering[Int]].asInstanceOf[Ordering[Any]]
    val buf = new graft.functions.BottomKBuffer(5, ord)
    val rnd = new scala.util.Random(7)
    (1 to 100000).foreach { _ => buf.add(rnd.nextInt()); assert(buf.size <= 5) }
    val other = new graft.functions.BottomKBuffer(5, ord)
    (1 to 1000).foreach(_ => other.add(rnd.nextInt()))
    other.foreach(buf.add) // merge path goes through the same bounded add
    assert(buf.size <= 5)
    assert(buf.sortedAsc.toSeq == buf.sortedAsc.toSeq.sorted(ord))

    // DataFrame semantics: bottom_k == slice(sort_array(collect_list)) on
    // scalars AND structs, invariant under partitioning; merge of stored
    // ≤k partials (bottom_k_merge) equals bottom-k of the whole
    val df = (1 to 5000).map(i => (i % 7, rnd.nextInt(100000), s"d$i"))
      .toDF("g", "h", "id")
    val kv = struct($"h", $"id").as("kv")
    val expect = df.select($"g", kv).groupBy("g")
      .agg(slice(sort_array(collect_list($"kv")), 1, 5).as("bk"))
      .orderBy("g").collect().map(_.toSeq)
    Seq(1, 13).foreach { p =>
      val got = df.repartition(p).select($"g", kv).groupBy("g")
        .agg(graft.functions.GraftFunctions.bottom_k($"kv", 5).as("bk"))
        .orderBy("g").collect().map(_.toSeq)
      assert(got.toSeq == expect.toSeq, s"bottom_k mismatch at $p partitions")
    }
    val partials = df.select($"g", kv, (crc32($"id") % 11).as("shard"))
      .groupBy("g", "shard")
      .agg(graft.functions.GraftFunctions.bottom_k($"kv", 5).as("state"))
    val merged = partials.groupBy("g")
      .agg(graft.functions.GraftFunctions.bottom_k_merge($"state", 5).as("bk"))
      .orderBy("g").collect().map(_.toSeq)
    assert(merged.toSeq == expect.toSeq, "bottom_k_merge over shard partials")
  }
}