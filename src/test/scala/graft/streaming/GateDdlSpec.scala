package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.cv.ContViewEngine
import graft.SharedSpark

/** DDL-declared gates: the `outputfunc = dedup_gate(...)` spelling is
  * recorded in the catalog (unlike a Scala callback), so a restarted
  * engine replays the gate AND resumes its suppression state from the
  * persisted store — the declarative form is the restart-safe one.
  */
class GateDdlSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("graft_gate_stats: one SQL-addressable row per gate, counters live") {
    val root = java.nio.file.Files.createTempDirectory("graft_gstats").toString
    val eng = new ContViewEngine(spark, root)
    eng.sql("CREATE STREAM gs_in (id int8, body text)")
    eng.sql("CREATE STREAM gs_clean (id int8, body text, h text)")
    eng.sql("""CREATE VIEW gs_gate WITH (action = transform, sink = 'gs_clean',
               |  outputfunc = dedup_gate('md5(body)', 'id', 2)) AS
               |SELECT id, body FROM gs_in""".stripMargin)
    eng.sql("INSERT INTO gs_in (id, body) VALUES (1, 'aa'), (2, 'bb'), (3, 'aa')")
    val row = eng.sql(
      "SELECT kind, shards, batches, admitted, suppressed, lostCommits " +
        "FROM graft_gate_stats WHERE gate = 'gs_gate'").collect()(0)
    assert(row.getString(0) === "dedup")
    assert(row.getInt(1) === 2)
    assert(row.getLong(2) === 1L, "one wrapper batch")
    assert(row.getLong(3) === 2L && row.getLong(4) === 1L,
      "admitted/suppressed counters aggregate the shard cores")
    assert(row.getLong(5) === 0L, "no deferred commit has been lost")
    // force a lost deferred commit: arm the gate's one commit pipeline —
    // the batch submits one deferred commit for all its cores, so exactly
    // one loss is counted, and the live batch itself must NOT fail
    val sharded = eng.gateOf("gs_gate").get
    sharded.commitPipeline.failNextTask = true
    eng.sql("INSERT INTO gs_in (id, body) VALUES (5, 'dd')")
    sharded.drainCommits()
    val lost = eng.sql(
      "SELECT lostCommits FROM graft_gate_stats WHERE gate = 'gs_gate'")
      .collect()(0).getLong(0)
    assert(lost === 1L, "the dropped append is counted in lost_commits")
    sharded.commitPipeline.failNextTask = false
  }

  test("dedup gate declared in DDL replays with its store at restart") {
    val root = java.nio.file.Files.createTempDirectory("graft_gddl").toString
    val eng1 = new ContViewEngine(spark, root)
    eng1.sql("CREATE STREAM d_in (id int8, body text)")
    eng1.sql("CREATE STREAM d_clean (id int8, body text, h text)")
    eng1.sql("""CREATE VIEW d_gate WITH (action = transform, sink = 'd_clean',
               |  outputfunc = dedup_gate('md5(body)', 'id')) AS
               |SELECT id, body FROM d_in""".stripMargin)
    eng1.sql("""CREATE CONTINUOUS VIEW v_d WITH (changes = false) AS
               |SELECT id, h FROM d_clean""".stripMargin)
    eng1.sql("INSERT INTO d_in (id, body) VALUES (1, 'aa'), (2, 'bb')")
    eng1.sql("INSERT INTO d_in (id, body) VALUES (3, 'aa')")
    assert(eng1.sql("SELECT id FROM v_d ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(eng1.gateOf("d_gate").isDefined)

    // restart on the same root: catalog replay must rebuild the GATE (not a
    // bare transform) and its bloom from the store, so pre-restart keys
    // keep suppressing
    val eng2 = new ContViewEngine(spark, root)
    assert(eng2.gateOf("d_gate").isDefined, "replayed transform must be a gate")
    eng2.sql("INSERT INTO d_in (id, body) VALUES (4, 'bb'), (5, 'cc')")
    assert(eng2.sql("SELECT id FROM v_d ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 5L))
  }

  test("resident_mb / backend WITH options: applied, catalog-replayed, guarded") {
    val root = java.nio.file.Files.createTempDirectory("graft_gddl4").toString
    val eng1 = new ContViewEngine(spark, root)
    eng1.sql("CREATE STREAM r_in (id int8, body text)")
    eng1.sql("CREATE STREAM r_clean (id int8, body text, fp int8)")
    // resident_mb = 0 turns THIS gate's hot tier off (budget floor) while
    // the process default would have enabled it
    eng1.sql("""CREATE VIEW r_gate WITH (action = transform, sink = 'r_clean',
              |  resident_mb = 0,
              |  outputfunc = neardup_gate('body', 'id')) AS
              |SELECT id, body FROM r_in""".stripMargin)
    eng1.sql("""CREATE CONTINUOUS VIEW v_r WITH (changes = false) AS
              |SELECT id FROM r_clean""".stripMargin)
    val g1 = eng1.gateOf("r_gate").get.cores(0).asInstanceOf[SimHashNearDupGate]
    assert(!g1.residentStats._1, "resident_mb = 0 must disable the hot tier")
    eng1.sql("INSERT INTO r_in (id, body) VALUES " +
      "(1, 'alpha beta gamma delta'), (2, 'alpha beta gamma delta'), " +
      "(3, 'epsilon zeta eta theta')")
    assert(eng1.sql("SELECT id FROM v_r ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L),
      "the disk path still suppresses")
    // executor backend via DDL, on its own engine root
    val root2 = java.nio.file.Files.createTempDirectory("graft_gddl5").toString
    val eng2 = new ContViewEngine(spark, root2)
    eng2.sql("CREATE STREAM x_in (id int8, body text)")
    eng2.sql("CREATE STREAM x_clean (id int8, body text, fp int8)")
    eng2.sql("""CREATE VIEW x_gate WITH (action = transform, sink = 'x_clean',
              |  backend = 'executor',
              |  outputfunc = neardup_gate('body', 'id')) AS
              |SELECT id, body FROM x_in""".stripMargin)
    eng2.sql("""CREATE CONTINUOUS VIEW v_x WITH (changes = false) AS
              |SELECT id FROM x_clean""".stripMargin)
    val g2 = eng2.gateOf("x_gate").get.cores(0).asInstanceOf[SimHashNearDupGate]
    assert(g2.executorIndex != null && !g2.residentStats._1,
      "backend = 'executor' must stand up the distributed index")
    eng2.sql("INSERT INTO x_in (id, body) VALUES " +
      "(1, 'alpha beta gamma delta'), (2, 'epsilon zeta eta theta')")
    eng2.sql("INSERT INTO x_in (id, body) VALUES (3, 'alpha beta gamma delta')")
    assert(eng2.sql("SELECT id FROM v_x ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L),
      "the executor backend suppresses across batches")
    // catalog replay carries BOTH options (new engine on the same root)
    val eng3 = new ContViewEngine(spark, root2)
    val g3 = eng3.gateOf("x_gate").get.cores(0).asInstanceOf[SimHashNearDupGate]
    assert(g3.executorIndex != null, "replay must restore backend = 'executor'")
    eng3.sql("INSERT INTO x_in (id, body) VALUES (4, 'alpha beta gamma delta')")
    assert(eng3.sql("SELECT id FROM v_x ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L),
      "post-replay shards rebuild from the store and keep suppressing (the " +
        "replayed CV keeps its pre-restart rows; the re-fed dup adds nothing)")
    // a re-declaration changing only the options is a DIFFERENT definition
    val e1 = intercept[IllegalArgumentException] {
      eng3.sql("""CREATE VIEW x_gate WITH (action = transform, sink = 'x_clean',
                |  outputfunc = neardup_gate('body', 'id')) AS
                |SELECT id, body FROM x_in""".stripMargin)
    }
    assert(e1.getMessage.contains("different definition"))
    // guards: options on non-gate transforms / wrong gate kinds / sharding
    val e2 = intercept[IllegalArgumentException] {
      eng1.sql("""CREATE VIEW bad_r WITH (action = transform, resident_mb = 8,
                |  outputfunc = insert_into_stream('r_clean')) AS
                |SELECT id, body, CAST(NULL AS BIGINT) AS fp FROM r_in""".stripMargin)
    }
    assert(e2.getMessage.contains("gate transforms only"))
    val e3 = intercept[IllegalArgumentException] {
      eng1.sql("""CREATE VIEW bad_d WITH (action = transform, sink = 'r_clean',
                |  resident_mb = 8,
                |  outputfunc = dedup_gate('md5(body)', 'id')) AS
                |SELECT id, body FROM r_in""".stripMargin)
    }
    assert(e3.getMessage.contains("near-dup gates"))
    val e4 = intercept[IllegalArgumentException] {
      eng1.sql("""CREATE VIEW bad_s WITH (action = transform, sink = 'r_clean',
                |  backend = 'executor',
                |  outputfunc = neardup_gate('body', 'id', 3, 5000, 2)) AS
                |SELECT id, body FROM r_in""".stripMargin)
    }
    assert(e4.getMessage.contains("does not compose with shards"))
  }

  test("state_parts WITH option: applied, catalog-replayed, guarded") {
    // the executor shard count is the first knob an operator tunes on a
    // real cluster (P ≈ executors × cores) — DDL-settable, persisted,
    // replayed, and diff-refused like every other gate option
    val root = java.nio.file.Files.createTempDirectory("graft_gddl6").toString
    val eng1 = new ContViewEngine(spark, root)
    eng1.sql("CREATE STREAM p_in (id int8, body text)")
    eng1.sql("CREATE STREAM p_clean (id int8, body text, fp int8)")
    eng1.sql("""CREATE VIEW p_gate WITH (action = transform, sink = 'p_clean',
              |  backend = 'executor', state_parts = 7,
              |  outputfunc = neardup_gate('body', 'id')) AS
              |SELECT id, body FROM p_in""".stripMargin)
    eng1.sql("""CREATE CONTINUOUS VIEW v_p WITH (changes = false) AS
              |SELECT id FROM p_clean""".stripMargin)
    val g1 = eng1.gateOf("p_gate").get.cores(0).asInstanceOf[SimHashNearDupGate]
    assert(g1.executorIndex.parts === 7, "state_parts must size the shards")
    eng1.sql("INSERT INTO p_in (id, body) VALUES " +
      "(1, 'alpha beta gamma delta'), (2, 'epsilon zeta eta theta')")
    eng1.sql("INSERT INTO p_in (id, body) VALUES (3, 'alpha beta gamma delta')")
    assert(eng1.sql("SELECT id FROM v_p ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // catalog replay restores the shard count
    val eng2 = new ContViewEngine(spark, root)
    val g2 = eng2.gateOf("p_gate").get.cores(0).asInstanceOf[SimHashNearDupGate]
    assert(g2.executorIndex.parts === 7, "replay must restore state_parts")
    eng2.sql("INSERT INTO p_in (id, body) VALUES (4, 'alpha beta gamma delta')")
    assert(eng2.sql("SELECT id FROM v_p ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // changing only state_parts is a DIFFERENT definition
    val e1 = intercept[IllegalArgumentException] {
      eng2.sql("""CREATE VIEW p_gate WITH (action = transform, sink = 'p_clean',
                |  backend = 'executor', state_parts = 8,
                |  outputfunc = neardup_gate('body', 'id')) AS
                |SELECT id, body FROM p_in""".stripMargin)
    }
    assert(e1.getMessage.contains("different definition"))
    // guards: needs the executor backend; gate transforms only
    val e2 = intercept[IllegalArgumentException] {
      eng1.sql("""CREATE VIEW bad_p WITH (action = transform, sink = 'p_clean',
                |  state_parts = 4,
                |  outputfunc = neardup_gate('body', 'id')) AS
                |SELECT id, body FROM p_in""".stripMargin)
    }
    assert(e2.getMessage.contains("requires"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      eng1.sql("""CREATE CONTINUOUS VIEW bad_v WITH (state_parts = 4) AS
                |SELECT id FROM p_clean""".stripMargin)
    }
    assert(e3.getMessage.contains("gate transforms only"))
  }

  test("gate-spec string args support SQL '' quote escaping") {
    val root = java.nio.file.Files.createTempDirectory("graft_gddl3").toString
    val eng = new ContViewEngine(spark, root)
    eng.sql("CREATE STREAM q_in (id int8, body text, lang text)")
    eng.sql("CREATE STREAM q_clean (id int8, body text, lang text, h text)")
    // the dedup key concatenates with a literal '|' separator — expressible
    // only through the doubled-single-quote escape
    eng.sql("""CREATE VIEW q_gate WITH (action = transform, sink = 'q_clean',
              |  outputfunc = dedup_gate('md5(concat(body, ''|'', lang))', 'id')) AS
              |SELECT id, body, lang FROM q_in""".stripMargin)
    eng.sql("""CREATE CONTINUOUS VIEW v_q WITH (changes = false) AS
              |SELECT id FROM q_clean""".stripMargin)
    eng.sql("""INSERT INTO q_in (id, body, lang) VALUES
              |(1, 'aa', 'en'), (2, 'aa', 'de'), (3, 'aa', 'en')""".stripMargin)
    // same body under a different lang is a different key; (3) repeats (1)
    assert(eng.sql("SELECT id FROM v_q ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("neardup gate spec parses with optional args; bad spec rejected") {
    val root = java.nio.file.Files.createTempDirectory("graft_gddl2").toString
    val eng = new ContViewEngine(spark, root)
    eng.sql("CREATE STREAM n_in (id int8, body text)")
    eng.sql("CREATE STREAM n_clean (id int8, body text, fp int8)")
    eng.sql("""CREATE VIEW n_gate WITH (action = transform, sink = 'n_clean',
              |  outputfunc = neardup_gate('body', 'id', 3, 5000)) AS
              |SELECT id, body FROM n_in""".stripMargin)
    assert(eng.gateOf("n_gate").exists(_.cores(0).isInstanceOf[SimHashNearDupGate]))
    val e = intercept[IllegalArgumentException] {
      eng.sql("""CREATE VIEW bad_gate WITH (action = transform, sink = 'n_clean',
                |  outputfunc = dedup_gate('md5(body)')) AS
                |SELECT id, body FROM n_in""".stripMargin)
    }
    assert(e.getMessage.contains("unparseable gate outputfunc"))
    val e2 = intercept[IllegalArgumentException] {
      eng.sql("""CREATE VIEW bad2 WITH (action = transform,
                |  outputfunc = dedup_gate('md5(body)', 'id')) AS
                |SELECT id, body FROM n_in""".stripMargin)
    }
    assert(e2.getMessage.contains("requires a sink"))
    // identical re-declaration: no-op; different definition: loud error;
    // name clash with a plain transform: loud error (not NoSuchElement)
    eng.sql("""CREATE VIEW n_gate WITH (action = transform, sink = 'n_clean',
              |  outputfunc = neardup_gate('body', 'id', 3, 5000)) AS
              |SELECT id, body FROM n_in""".stripMargin)
    val e3 = intercept[IllegalArgumentException] {
      eng.sql("""CREATE VIEW n_gate WITH (action = transform, sink = 'n_clean',
                |  outputfunc = neardup_gate('body', 'id', 2)) AS
                |SELECT id, body FROM n_in""".stripMargin)
    }
    assert(e3.getMessage.contains("different definition"))
    eng.sql("""CREATE VIEW t_plain WITH (action = transform,
              |  outputfunc = insert_into_stream('n_clean')) AS
              |SELECT id, body, CAST(NULL AS BIGINT) AS fp FROM n_in""".stripMargin)
    val e4 = intercept[IllegalArgumentException] {
      eng.createGateTransform("t_plain", "SELECT id, body FROM n_in",
        "dedup_gate('md5(body)', 'id')", "n_clean")
    }
    assert(e4.getMessage.contains("not a gate"))
    // changes=true cannot silently no-op on a gate
    val e5 = intercept[IllegalArgumentException] {
      eng.sql("""CREATE VIEW g2 WITH (action = transform, changes = true,
                |  sink = 'n_clean', outputfunc = dedup_gate('md5(body)', 'id')) AS
                |SELECT id, body FROM n_in""".stripMargin)
    }
    assert(e5.getMessage.contains("changes = true is not supported"))
    // the round-9 spellings: jaccard_gate with the optional cap, and
    // cosine_gate's fifth (maxBucketSize) argument
    eng.sql("""CREATE VIEW j_gate WITH (action = transform, sink = 'n_clean',
              |  outputfunc = jaccard_gate('body', 'id', 0.9, 1000)) AS
              |SELECT id, body FROM n_in""".stripMargin)
    assert(eng.gateOf("j_gate").exists(_.cores(0).isInstanceOf[JaccardNearDupGate]))
    eng.sql("CREATE STREAM c_in (id int8, embedding array<double>)")
    eng.sql("CREATE STREAM c_clean (id int8, embedding array<double>)")
    eng.sql("""CREATE VIEW c_gate WITH (action = transform, sink = 'c_clean',
              |  outputfunc = cosine_gate('embedding', 'id', 0.98, 16, 500)) AS
              |SELECT id, embedding FROM c_in""".stripMargin)
    assert(eng.gateOf("c_gate").exists(_.cores(0).isInstanceOf[CosineNearDupGate]))
  }

  test("a gate with shards < 1 is refused, by DDL and by the Scala API") {
    val root = java.nio.file.Files.createTempDirectory("graft_gddl_s0").toString
    val eng = new ContViewEngine(spark, root)
    eng.sql("CREATE STREAM z_in (id int8, body text)")
    eng.sql("CREATE STREAM z_clean (id int8, body text, h text)")
    val e1 = intercept[IllegalArgumentException] {
      eng.sql("""CREATE VIEW z_gate WITH (action = transform, sink = 'z_clean',
                |  outputfunc = dedup_gate('md5(body)', 'id', 0)) AS
                |SELECT id, body FROM z_in""".stripMargin)
    }
    assert(e1.getMessage.contains("shards"), e1.getMessage)
    assert(eng.gateOf("z_gate").isEmpty, "a refused gate is not registered")
    val e2 = intercept[IllegalArgumentException] {
      StreamDedupGate.create(eng, "z_api", "SELECT id, body FROM z_in",
        keySql = "md5(body)", orderCol = "id", sink = "z_clean",
        storeRoot = s"$root/gate", shards = 0)
    }
    assert(e2.getMessage.contains("shards"), e2.getMessage)
    // G = 2 still opens, and the DDL catalog records the sharded gate
    eng.sql("""CREATE VIEW z_gate WITH (action = transform, sink = 'z_clean',
              |  outputfunc = dedup_gate('md5(body)', 'id', 2)) AS
              |SELECT id, body FROM z_in""".stripMargin)
    assert(eng.gateOf("z_gate").map(_.shardCount) === Some(2))
  }
}
