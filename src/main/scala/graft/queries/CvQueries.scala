package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cv.ContViewEngine

/** End-to-end continuous-view queries for the driver gate: the events table
  * is replayed through the ingest path in multiple batches (FIXTURES.md §2),
  * then the overlay/combine/output-stream read path produces the result.
  * The DuckDB oracle recomputes the same answer single-shot — asserting the
  * engine's core invariant, incremental-equals-batch.
  */
object CvQueries {

  private val NumChunks = 2

  /** max(events.ts) per (session, sfDir) — the deterministic "now" every
    * window/TTL read pins to. The testdata is immutable, so scanning the
    * parquet for it on EVERY q_cv_sliding/ttl/sw_combine invocation was
    * pure fixed cost (~0.14 s/read at sf0.1, the dominant share of those
    * queries' driver-side build time); in a real deployment "now" is the
    * wall clock and costs nothing.
    */
  private val maxTsCache =
    scala.collection.mutable.Map.empty[(SparkSession, String), java.sql.Timestamp]

  private def maxEventTs(s: SparkSession, dir: String): java.sql.Timestamp = synchronized {
    maxTsCache.getOrElseUpdate((s, dir),
      Tables.events(s, dir).agg(max("ts")).collect()(0).getTimestamp(0))
  }

  /** One engine per (session, sfDir) hosting all four CVs, replayed once —
    * matches the reference runtime shape (many CVs fan out from one stream,
    * each micro-batch feeds all of them) and amortizes the replay across
    * the driver's per-query invocations.
    */
  // keyed by the session REFERENCE (SparkSession has default reference
  // equality) — identityHashCode can collide across distinct sessions
  private val engines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  private def engineFor(s: SparkSession, dir: String): ContViewEngine = synchronized {
    engines.getOrElseUpdate((s, dir), {
      val root = java.nio.file.Files.createTempDirectory("graft_cvq").toString
      val eng = new ContViewEngine(s, root)
      val events = Tables.events(s, dir)
      eng.createStream("ev_stream", events.schema)
      // the DDL front door maintains this one (commands.c:219-253 UX) —
      // q_cv_count's oracle row doubles as the DDL path's correctness gate
      eng.sql("""CREATE CONTINUOUS VIEW v_counts WITH (changes = false) AS
                |SELECT event_type, count(*) AS n, sum(value) AS sv
                |FROM ev_stream GROUP BY event_type""".stripMargin)
      eng.createContView("v_by_user",
        """SELECT event_type, user_id AS uid, count(*) AS n, avg(value) AS av,
          |count(DISTINCT user_id) AS nd FROM ev_stream
          |GROUP BY event_type, user_id""".stripMargin,
        emitChanges = false)
      eng.sql("""CREATE CONTINUOUS VIEW v_sw
                |WITH (sw = '7 days', sw_column = ts, changes = false) AS
                |SELECT event_type, count(*) AS n FROM ev_stream GROUP BY event_type""".stripMargin)
      // ttl_expiration.sql: day-bucketed CV whose state is reaped at 7 days
      eng.sql("""CREATE CONTINUOUS VIEW v_ttl
                |WITH (ttl = '7 days', ttl_column = d, changes = false) AS
                |SELECT date_round(ts, '1 day') AS d, count(*) AS n, sum(value) AS sv
                |FROM ev_stream GROUP BY date_round(ts, '1 day')""".stripMargin)
      eng.createContView("v_os",
        "SELECT user_id, count(*) AS n FROM ev_stream GROUP BY user_id")
      // continuous delta chaining: a second-level CV reading v_os's OUTPUT
      // STREAM (not the raw events) — every upsert's delta batch re-aggregates
      // at a coarser key (delta_streams.sql:7-58)
      eng.createContView("v_os_rollup",
        """SELECT CAST(user_id % 10 AS BIGINT) AS ub, sum(delta.n) AS n
          |FROM output_of('v_os') GROUP BY CAST(user_id % 10 AS BIGINT)""".stripMargin,
        emitChanges = false)
      // grouping sets inside a CV: state keyed by (keys, grouping_id)
      eng.createContView("v_rollup",
        """SELECT event_type, user_id % 10 AS ub,
          |       grouping(event_type)*2 + grouping(user_id % 10) AS gid,
          |       count(*) AS n, sum(value) AS sv
          |FROM ev_stream GROUP BY ROLLUP(event_type, user_id % 10)""".stripMargin,
        emitChanges = false)
      // append-only (non-aggregating) CV: one matrel row per event, blind
      // segment appends, duplicates preserved (stream_exprs.sql:2,
      // cont_view_namespace.sql:61)
      eng.createContView("v_append",
        "SELECT event_id, event_type, value FROM ev_stream WHERE value > 150",
        emitChanges = false)
      // keyless global aggregate: exactly one state row, merged in place
      // (cont_count.sql's SELECT count(*) FROM stream shape)
      eng.createContView("v_global",
        """SELECT count(*) AS n, sum(value) AS sv,
          |       min(user_id) AS mn, max(user_id) AS mx FROM ev_stream""".stripMargin,
        emitChanges = false)
      // SELECT DISTINCT desugared into grouping (analyzer.c:2605-2624): the
      // matrel stores one row per distinct tuple, no visible aggregate
      eng.createContView("v_distinct",
        "SELECT DISTINCT event_type, user_id % 7 AS ub FROM ev_stream",
        emitChanges = false)
      // DISTINCT ON: one surviving row per ON-group; the engine picks the
      // deterministic lexicographic-min row (by output order)
      eng.createContView("v_distinct_on",
        "SELECT DISTINCT ON (user_id % 100) event_type, user_id, value FROM ev_stream",
        emitChanges = false)
      // bool/bit aggregates maintained incrementally (cont_bool_agg.sql):
      // every is Spark's alias for bool_and, matching PG
      eng.createContView("v_bool",
        """SELECT event_type,
          |       bool_and(value > 50) AS ba, bool_or(value > 500) AS bo,
          |       every(value > 0) AS ev,
          |       bit_and(user_id) AS band, bit_or(user_id) AS bor
          |FROM ev_stream GROUP BY event_type""".stripMargin,
        emitChanges = false)
      // FILTER (WHERE ...) on CV aggregates (PG filter clause; the
      // reference's hypothetical-set shapes are filtered counts underneath)
      eng.createContView("v_filter",
        """SELECT event_type, count(*) AS n,
          |       count(*) FILTER (WHERE value > 100) AS n_hi,
          |       sum(value) FILTER (WHERE user_id % 2 = 0) AS sv_even,
          |       avg(value) FILTER (WHERE value > 50) AS av_hi
          |FROM ev_stream GROUP BY event_type""".stripMargin,
        emitChanges = false)
      // flat subselect below the aggregate (cont_subselect.sql:1-30): the
      // kept child plan carries the inner projection + filter per batch
      eng.createContView("v_subsel",
        """SELECT ub, count(*) AS n, sum(v2) AS sv FROM (
          |  SELECT user_id % 5 AS ub, value * 2 AS v2 FROM ev_stream
          |  WHERE value > 100) t
          |GROUP BY ub""".stripMargin,
        emitChanges = false)
      // JSON unrolling below the aggregate (cont_subselect.sql:32-58,
      // json_array_elements ≈ explode/Generate in the child plan)
      eng.createContView("v_unroll",
        """SELECT e, count(*) AS n FROM (
          |  SELECT explode(from_json(
          |           concat('[', get_json_object(props, '$.k'), ',',
          |                  CAST(user_id % 50 AS STRING), ']'),
          |           'array<bigint>')) AS e
          |  FROM ev_stream WHERE value > 50) t
          |GROUP BY e""".stripMargin,
        emitChanges = false)
      // type-breadth parity (reference sql:142-225 combinable avg/sum over
      // intervals and numerics): day-time-interval avg and a full-precision
      // DECIMAL(38,10) sum maintained through the split state
      eng.createContView("v_typed",
        """SELECT event_type,
          |       avg(ts - TIMESTAMP '2024-01-01 00:00:00') AS gap,
          |       sum(CAST(event_id AS DECIMAL(20,0)) * 0.0000000001) AS ds
          |FROM ev_stream GROUP BY event_type""".stripMargin,
        emitChanges = false)
      // continuous transform chain: hot events re-routed to a second stream
      // feeding its own CV (insert_into_stream semantics)
      eng.createStream("ev_hot", events.schema)
      eng.createContTransform("t_hot",
        "SELECT event_id, ts, user_id, event_type, value, props FROM ev_stream WHERE value > 100",
        sinkStream = Some("ev_hot"),
        emitChanges = false) // nothing reads output_of(t_hot); v_hot gets the rows via the sink
      eng.createContView("v_hot",
        "SELECT event_type, count(*) AS n FROM ev_hot GROUP BY event_type",
        emitChanges = false)
      (0 until NumChunks).foreach { i =>
        // persist the chunk: all six CQs consume it (each with 2+ jobs) —
        // without this every job re-scans the events parquet
        val chunk = events.where(pmod(col("event_id"), lit(NumChunks)) === i).persist()
        try eng.insertInto("ev_stream", chunk)
        finally chunk.unpersist()
      }
      eng
    })
  }

  /** Second memoized engine exercising the lifecycle ops the main battery
    * can't express as reads (COPY bulk load, combine_table backfill, SW
    * expiry ticks). All mutations happen ONCE here at setup; the query fns
    * below only read, so repeated invocations (bench min-of-N) stay
    * idempotent.
    */
  private val lifecycleEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  private def lifecycleFor(s: SparkSession, dir: String): ContViewEngine = synchronized {
    lifecycleEngines.getOrElseUpdate((s, dir), {
      val root = java.nio.file.Files.createTempDirectory("graft_cvlc").toString
      val eng = new ContViewEngine(s, root)
      val events = Tables.events(s, dir)
      // COPY FROM (copy.c / commands.c:201-217): the events parquet bulk-
      // loaded straight into a stream; v_tick rides the same stream with a
      // 7-day sliding window so tick emission has buckets to expire
      eng.createStream("cp_stream", events.schema)
      eng.sql("""CREATE CONTINUOUS VIEW v_copy WITH (changes = false) AS
                |SELECT event_type, count(*) AS n, sum(value) AS sv
                |FROM cp_stream GROUP BY event_type""".stripMargin)
      eng.createContView("v_tick",
        "SELECT event_type, count(*) AS n FROM cp_stream GROUP BY event_type",
        graft.cv.CvPlanner.CvOptions(sw = Some("7 days"), swColumn = "ts"))
      // COPY expects a file whose columns match the stream schema; the raw
      // driver parquet carries TIMESTAMP(NANOS) ts (readable only as long
      // under nanosAsLong, which a long→timestamp cast would misinterpret
      // as seconds), so stage the normalized table once and COPY that
      // no leading underscore: DataSource treats `_`/`.`-prefixed paths as
      // hidden and logs a spurious "All paths were ignored" WARN per read
      val copySrc = s"$root/copy_src"
      events.write.parquet(copySrc)
      eng.copyInto("cp_stream", copySrc)
      // combine_table backfill (combiner.c:2252-2350): two CVs each fed a
      // disjoint half via stream_targets, then one's matrel merged into the
      // other — the combined view must equal the single-shot full answer
      eng.createStream("bf_stream", events.schema)
      val bfSql = "SELECT user_id, count(*) AS n, sum(value) AS sv FROM bf_stream GROUP BY user_id"
      eng.createContView("v_bf", bfSql, emitChanges = false)
      eng.createContView("v_bf_other", bfSql, emitChanges = false)
      eng.insertInto("bf_stream", events.where(pmod(col("event_id"), lit(2)) === 0),
        targets = Some(Set("v_bf")))
      eng.insertInto("bf_stream", events.where(pmod(col("event_id"), lit(2)) === 1),
        targets = Some(Set("v_bf_other")))
      eng.combineTable("v_bf", eng.stateOf("v_bf_other"))
      // SW expiry ticks pinned at max(ts): every step bucket that fell out
      // of the 7-day window emits (old=finalized, new=NULL, delta) once
      val maxTs = events.agg(max("ts")).collect()(0).getTimestamp(0)
      eng.tickSw("v_tick", Some(maxTs))
      // async ingest (stream_insert_level=async): four enqueued chunks
      // drained by the flush() barrier — state must equal the batch answer
      eng.createStream("as_stream", events.schema)
      eng.createContView("v_async",
        "SELECT event_type, count(*) AS n, sum(value) AS sv FROM as_stream GROUP BY event_type",
        emitChanges = false)
      (0 until 4).foreach { i =>
        eng.insertIntoAsync("as_stream", events.where(pmod(col("event_id"), lit(4)) === i))
      }
      eng.flush()
      // activate/deactivate gate: the middle third arrives while the CV is
      // deactivated and must never reach its state (cont_activate.sql)
      eng.createStream("act_stream", events.schema)
      eng.createContView("v_act",
        "SELECT event_type, count(*) AS n FROM act_stream GROUP BY event_type",
        emitChanges = false)
      eng.insertInto("act_stream", events.where(pmod(col("event_id"), lit(3)) === 0))
      eng.deactivate("v_act")
      eng.insertInto("act_stream", events.where(pmod(col("event_id"), lit(3)) === 1))
      eng.activate("v_act")
      eng.insertInto("act_stream", events.where(pmod(col("event_id"), lit(3)) === 2))
      // truncate mid-stream (cont_truncate.sql / management API): first
      // third ingested then truncated away; the answer is the later two
      // thirds only, with post-truncate merges building on empty state
      eng.createStream("tr_stream", events.schema)
      eng.createContView("v_trunc",
        """SELECT event_type, count(*) AS n, sum(value) AS sv
          |FROM tr_stream GROUP BY event_type""".stripMargin,
        emitChanges = false)
      eng.insertInto("tr_stream", events.where(pmod(col("event_id"), lit(3)) === 0))
      eng.truncateContView("v_trunc")
      eng.insertInto("tr_stream", events.where(pmod(col("event_id"), lit(3)) === 1))
      eng.insertInto("tr_stream", events.where(pmod(col("event_id"), lit(3)) === 2))
      // schema namespaces (cont_view_namespace.sql): a qualified CV created
      // and fed under one schema, then carried through ALTER SCHEMA RENAME —
      // reading the renamed qualified spelling must equal the batch answer
      // (gates qualified DDL, insert routing, rename, and the SQL rewrite)
      // matrel CHECK constraints (matrel_constraints.sql): violating combiner
      // writes are skipped, keeping the last passing state. Batches arrive in
      // per-user arrival-rank order (rank 1, rank 2, then everything later),
      // so the freeze point is deterministic: each group's state holds its
      // first two events — exactly what the DuckDB oracle recomputes.
      eng.createStream("cn_stream", events.schema)
      eng.sql("""CREATE CONTINUOUS VIEW v_con WITH (changes = false) AS
                |SELECT user_id, count(*) AS n, sum(value) AS sv
                |FROM cn_stream GROUP BY user_id""".stripMargin)
      eng.sql("ALTER TABLE v_con_mrel ADD CONSTRAINT con_key CHECK (user_id > 5)")
      eng.sql("ALTER TABLE v_con_mrel ADD CONSTRAINT con_cap CHECK (n < 3)")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      val withRn = events.withColumn("__rn", row_number().over(w))
      Seq(col("__rn") === 1, col("__rn") === 2, col("__rn") >= 3).foreach { p =>
        eng.insertInto("cn_stream", withRn.where(p).drop("__rn"))
      }
      // direct matrel DML (cont_matrel.sql): even half ingested, state for
      // user_id < 3 DELETEd, odd half ingested on top — deleted groups
      // resurrect with odd-only state (merge into absent state = fresh
      // group), everyone else keeps both halves. Then one group's sum
      // state is zeroed via UPDATE; no further ingest touches it.
      eng.createStream("dm_stream", events.schema)
      eng.createContView("v_dml",
        """SELECT user_id, count(*) AS n, sum(value) AS sv
          |FROM dm_stream GROUP BY user_id""".stripMargin,
        emitChanges = false)
      eng.insertInto("dm_stream", events.where(pmod(col("event_id"), lit(2)) === 0))
      eng.matrelsWritable = true
      eng.sql("DELETE FROM v_dml_mrel WHERE user_id < 3")
      eng.sql("UPDATE v_dml_mrel SET sv = 0 WHERE user_id = 5")
      eng.matrelsWritable = false
      eng.insertInto("dm_stream", events.where(pmod(col("event_id"), lit(2)) === 1))
      eng.sql("CREATE SCHEMA ns1")
      eng.createStream("ns1.ev", events.schema)
      eng.sql("""CREATE CONTINUOUS VIEW ns1.by_type WITH (changes = false) AS
                |SELECT event_type, count(*) AS n, sum(value) AS sv
                |FROM ns1.ev GROUP BY event_type""".stripMargin)
      eng.insertInto("ns1.ev", events)
      eng.sql("ALTER SCHEMA ns1 RENAME TO ns2")
      eng
    })
  }

  /** Third memoized engine: checkpoint restart. One engine instance creates
    * a schema-qualified CV and ingests the even half of the events, then is
    * abandoned mid-life; a FRESH instance on the same root replays the
    * persisted catalog (schema entry, stream, CV definition) plus the
    * on-disk matrel state and ingests the odd half. Reading the overlay
    * from the second instance must equal the single-shot batch answer —
    * an end-to-end DuckDB-oracle gate on the replay path (previously
    * spec-only), including sketch (HLL) state surviving the restart.
    */
  private val restartEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  private def restartFor(s: SparkSession, dir: String): ContViewEngine = synchronized {
    restartEngines.getOrElseUpdate((s, dir), {
      val root = java.nio.file.Files.createTempDirectory("graft_cvrs").toString
      val events = Tables.events(s, dir)
      val eng1 = new ContViewEngine(s, root)
      eng1.sql("CREATE SCHEMA rs1")
      eng1.createStream("rs1.ev", events.schema)
      eng1.sql("""CREATE CONTINUOUS VIEW rs1.agg WITH (changes = false) AS
                |SELECT event_type, count(*) AS n, sum(value) AS sv,
                |       avg(value) AS av, count(DISTINCT user_id) AS nd
                |FROM rs1.ev GROUP BY event_type""".stripMargin)
      // second CV on the same stream, renamed AFTER the restart+full ingest:
      // gates rename-with-state through the replayed engine (q_cv_rename)
      eng1.sql("""CREATE CONTINUOUS VIEW rs1.agg2 WITH (changes = false) AS
                |SELECT event_type, count(*) AS n, sum(value) AS sv
                |FROM rs1.ev GROUP BY event_type""".stripMargin)
      eng1.insertInto("rs1.ev", events.where(pmod(col("event_id"), lit(2)) === 0))
      // "crash": eng1 is dropped on the floor with state half-built; the
      // replacement engine must pick up everything from root alone
      val eng2 = new ContViewEngine(s, root)
      eng2.insertInto("rs1.ev", events.where(pmod(col("event_id"), lit(2)) === 1))
      eng2.sql("ALTER VIEW rs1.agg2 RENAME TO rs1.agg_renamed")
      eng2
    })
  }

  /** Object-store-root engine (round 18): the SAME restart shape as
    * [[restartFor]], but every byte — catalog journal (segmented
    * put-if-absent objects), matrel manifests (etag conditional-PUT
    * swaps), and Spark's bulk parquet (through
    * [[graft.io.BlobFileSystem]]) — lives in a registered in-memory
    * object store under a `graftoq://` root. The S3-class deployment
    * shape, hash-gated by the driver oracle every round like the
    * `file:`-scheme fixtures (ObjectRootSpec carries the crash windows;
    * THIS carries the clean-path end-to-end equality). */
  private val objectEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]
  private val objectRootCounter = new java.util.concurrent.atomic.AtomicInteger()

  private def objectRootFor(s: SparkSession, dir: String): ContViewEngine = synchronized {
    objectEngines.getOrElseUpdate((s, dir), {
      val scheme = "graftoq"
      if (graft.io.StoreFs.objectStoreFor(scheme).isEmpty)
        graft.io.StoreFs.registerObjectScheme(scheme, new graft.io.MemBlobStore)
      s.sparkContext.hadoopConfiguration.set(s"fs.$scheme.impl",
        classOf[graft.io.BlobFileSystem].getName)
      val root = s"$scheme://cv${objectRootCounter.incrementAndGet()}/root"
      val events = Tables.events(s, dir)
      val eng1 = new ContViewEngine(s, root)
      eng1.createStream("oq_ev", events.schema)
      eng1.sql("""CREATE CONTINUOUS VIEW oq_agg WITH (changes = false) AS
                |SELECT event_type, count(*) AS n, sum(value) AS sv,
                |       count(DISTINCT user_id) AS nd
                |FROM oq_ev GROUP BY event_type""".stripMargin)
      eng1.insertInto("oq_ev", events.where(pmod(col("event_id"), lit(2)) === 0))
      // "crash": the replacement engine replays the segmented catalog and
      // rebinds the conditional-PUT-committed matrel state from the store
      val eng2 = new ContViewEngine(s, root)
      eng2.insertInto("oq_ev", events.where(pmod(col("event_id"), lit(2)) === 1))
      eng2
    })
  }

  /** Fourth memoized engine: the Structured Streaming driver end-to-end
    * (previously spec-only). Events are staged as three parquet drops and
    * consumed by a real `readStream` file source one file-batch at a time
    * through [[ContViewEngine.startStreamingInto]] (stream fan-out — the
    * scheduler.c shape), so the checkpointed foreachBatch micro-batch loop,
    * not the synchronous API, builds the state the query reads.
    */
  private val streamingEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  private def streamingFor(s: SparkSession, dir: String): ContViewEngine = synchronized {
    streamingEngines.getOrElseUpdate((s, dir), {
      val root = java.nio.file.Files.createTempDirectory("graft_cvst").toString
      val eng = new ContViewEngine(s, root)
      val events = Tables.events(s, dir)
      eng.createStream("st_ev", events.schema)
      eng.sql("""CREATE CONTINUOUS VIEW v_stream WITH (changes = false) AS
                |SELECT event_type, count(*) AS n, sum(value) AS sv,
                |       avg(value) AS av, count(DISTINCT user_id) AS nd
                |FROM st_ev GROUP BY event_type""".stripMargin)
      // two staged drops → two file-source micro-batches (one per trigger
      // with maxFilesPerTrigger=1): the incremental-equals-batch invariant
      // is exercised across REAL streaming triggers
      val srcDir = s"$root/_stream_src"
      (0 until 2).foreach { i =>
        events.where(pmod(col("event_id"), lit(3)) === i)
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      def source() = s.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q1 = eng.startStreamingInto("st_ev", source())
      try { q1.processAllAvailable() } finally q1.stop()
      // exactly-once checkpoint resume, oracle-gated: the third drop lands
      // while no query runs; a NEW query on the SAME checkpoint must process
      // ONLY the new file — foreachBatch state merges are not idempotent, so
      // any reprocessing of the first two drops would double their counts
      // and hash-mismatch the single-shot DuckDB answer
      events.where(pmod(col("event_id"), lit(3)) === 2)
        .coalesce(1).write.mode("append").parquet(srcDir)
      val q2 = eng.startStreamingInto("st_ev", source())
      try { q2.processAllAvailable() } finally q2.stop()
      eng
    })
  }

  /** Fifth memoized engine: the streaming exact-dedup gate
    * ([[graft.streaming.StreamDedupGate]]) — documents (plus seeded exact
    * duplicates of every 4th doc at doc_id+100000) replayed in three
    * ascending doc_id ranges, so the gate sees cross-batch repeats (copies
    * of batch-1/2 originals arriving in batch 3) AND within-batch repeats
    * (originals >= 400 and their copies share batch 3). Survivors flow to a
    * sink stream feeding an append-only CV; first-occurrence-wins under
    * ordered replay means the admitted set is exactly min(doc_id) per
    * content hash — which DuckDB recomputes single-shot.
    */
  private val gateEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  /** Exactly-once dedup-gate fixture (q_dedup_stream_eo): a DDL-declared
    * `dedup_gate(..., 'exactly_once')` fed with a FORCED mid-batch crash —
    * the failpoint fires after the epoch's store append, before its sink
    * delivery — followed by an engine restart (same root: the catalog
    * replays the gate, bootstrap recovery delivers the interrupted
    * epoch's spool) and an upstream re-feed of the crashed batch. The
    * counting CV turns delivery bugs into oracle mismatches: a duplicate
    * forward shows as c=2, a lost row as a missing id — DuckDB recomputes
    * first-wins with every count exactly 1. */
  private val eoEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  private def eoGateFor(s: SparkSession, dir: String): ContViewEngine = synchronized {
    eoEngines.getOrElseUpdate((s, dir), {
      // file:-SCHEME root: the exactly-once spool commits, the crash
      // recovery, and the restart bootstrap run through HadoopStoreFs
      val root = "file:" +
        java.nio.file.Files.createTempDirectory("graft_cveo").toString
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.where(pmod(col("doc_id"), lit(6)) === 0)
          .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
      def setup(eng: ContViewEngine): ContViewEngine = {
        eng.createStream("eo_in", corpus.schema)
        eng.createStream("eo_clean", org.apache.spark.sql.types.StructType(
          corpus.schema.fields :+ org.apache.spark.sql.types.StructField("h",
            org.apache.spark.sql.types.StringType)))
        // the CV exists before the gate so a bootstrap-recovery delivery
        // lands in it; count(*) is the duplicate detector
        eng.createContView("v_eo",
          "SELECT doc_id, count(*) AS c FROM eo_clean GROUP BY doc_id",
          emitChanges = false)
        eng.sql("""CREATE VIEW eo_gate WITH (action = transform, sink = 'eo_clean',
                  |  outputfunc = dedup_gate('md5(text)', 'doc_id', 1, 'exactly_once')) AS
                  |SELECT doc_id, text FROM eo_in""".stripMargin)
        eng
      }
      def feed(eng: ContViewEngine, lo: Long, hi: Long): Unit =
        eng.insertInto("eo_in",
          corpus.where(col("doc_id") >= lo && col("doc_id") < hi))
      val eng1 = setup(new ContViewEngine(s, root))
      feed(eng1, Long.MinValue, 150L)
      // forced crash: epoch 2's spool + store land, its delivery doesn't
      eng1.gateOf("eo_gate").get.epochs.failAt = "after-store"
      try feed(eng1, 150L, 300L)
      catch { case e: IllegalStateException
        if e.getMessage.startsWith("failpoint") => () }
      // "crash": eng1 abandoned; the replayed engine's bootstrap recovery
      // must deliver the spooled epoch exactly once
      val eng2 = setup(new ContViewEngine(s, root))
      feed(eng2, 150L, 300L) // upstream at-least-once re-feed of the batch
      feed(eng2, 300L, Long.MaxValue)
      eng2
    })
  }

  /** Stacked-gate pipeline fixture (q_gate_pipeline): three DDL-declared
    * gates chained sink-to-stream — exact dedup → Jaccard near-dup →
    * benchmark decontamination — the canonical curation funnel, fed with a
    * mid-feed engine restart. The FULL admitted set is DuckDB-recomputable
    * because the corpus's natural pairwise Jaccard is BIMODAL (measured:
    * nothing between 0.11 and 0.93 at sf0.01), so at gate threshold 0.7
    * every ≥0.93 pair is suppressed with certainty ~1-3e-13 (estimate
    * z≈7σ; banding collision 1-1e-6) and every ≤0.11 pair admitted with
    * certainty — the oracle cuts the gap at true Jaccard 0.5. */
  private val pipelineEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  private def pipelineFor(s: SparkSession, dir: String): ContViewEngine = synchronized {
    pipelineEngines.getOrElseUpdate((s, dir), {
      val root = java.nio.file.Files.createTempDirectory("graft_cvpl").toString
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // eval/reference corpus for the decontamination stage — registered
      // as a temp view BEFORE the engine constructs, because the catalog
      // replays the contamination gate's reference SQL at restart
      docs.where(col("doc_id") < 20).createOrReplaceTempView("pl_ref")
      val feedDocs = docs.where(col("doc_id") >= 20)
      val corpus = feedDocs.unionByName(
        feedDocs.where(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 800000L).as("doc_id"), col("text")))
      def setup(eng: ContViewEngine): ContViewEngine = {
        eng.createStream("pl_in", corpus.schema)
        eng.createStream("pl_s1", org.apache.spark.sql.types.StructType(
          corpus.schema.fields :+ org.apache.spark.sql.types.StructField("h",
            org.apache.spark.sql.types.StringType)))
        eng.createStream("pl_s2", corpus.schema)
        eng.createStream("pl_clean", corpus.schema)
        eng.sql("""CREATE VIEW pl_g1 WITH (action = transform, sink = 'pl_s1',
                  |  outputfunc = dedup_gate('md5(text)', 'doc_id')) AS
                  |SELECT doc_id, text FROM pl_in""".stripMargin)
        eng.sql("""CREATE VIEW pl_g2 WITH (action = transform, sink = 'pl_s2',
                  |  outputfunc = jaccard_gate('text', 'doc_id', 0.7)) AS
                  |SELECT doc_id, text FROM pl_s1""".stripMargin)
        // stage 3 runs SHARDED (2 gram-hash-slice cores) so the sharded
        // contamination path is oracle-gated through the pipeline too
        eng.sql("""CREATE VIEW pl_g3 WITH (action = transform, sink = 'pl_clean',
                  |  outputfunc = contamination_gate('text', 'doc_id',
                  |                 'SELECT text FROM pl_ref', 3, 2)) AS
                  |SELECT doc_id, text FROM pl_s2""".stripMargin)
        eng.createContView("v_pl", "SELECT doc_id FROM pl_clean",
          emitChanges = false)
        eng
      }
      def feed(eng: ContViewEngine, lo: Long, hi: Long): Unit =
        eng.insertInto("pl_in",
          corpus.where(col("doc_id") >= lo && col("doc_id") < hi))
      val eng1 = setup(new ContViewEngine(s, root))
      feed(eng1, Long.MinValue, 200L)
      feed(eng1, 200L, 400L)
      // mid-feed "crash": all three gates replay from the catalog on the
      // same root; batch 3 (carrying the +800000 exact copies of batch-1/2
      // content) must still be gated by the persisted stores
      val eng2 = setup(new ContViewEngine(s, root))
      // force one LOST deferred commit on stage 1's FINAL batch (nothing
      // is fed after it, so no decision depends on the dropped append):
      // graft_gate_stats.lost_commits is oracle-gated alongside the funnel
      val g1 = eng2.gateOf("pl_g1").get
      g1.commitPipeline.failNextTask = true
      feed(eng2, 400L, Long.MaxValue)
      g1.drainCommits() // observe + count the loss before stats are read
      eng2
    })
  }

  /** Windowed (TTL) dedup-gate fixture (q_dedup_stream_ttl): a
    * DDL-declared `dedup_gate` with `ttl = '1 day', ttl_column = ts` over
    * the events stream — one event per user per trailing day, the
    * re-crawl/refresh admission policy — fed in event_id order across
    * three batches with a mid-feed engine restart. DuckDB mirrors the
    * window exactly: admitted(e) ⇔ no earlier-arriving event of the same
    * user with ts inside (e.ts − 1 day, ∞). */
  private val ttlEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  private def ttlGateFor(s: SparkSession, dir: String): ContViewEngine = synchronized {
    ttlEngines.getOrElseUpdate((s, dir), {
      // file:-SCHEME root (see dedupGateFor): the TTL gate's seen-time
      // store + fold-time reaping on the Hadoop FS path
      val root = "file:" +
        java.nio.file.Files.createTempDirectory("graft_cvttl").toString
      val events = Tables.events(s, dir).select("event_id", "ts", "user_id")
      def setup(eng: ContViewEngine): ContViewEngine = {
        eng.createStream("tw_in", events.schema)
        eng.createStream("tw_out", org.apache.spark.sql.types.StructType(
          events.schema.fields :+ org.apache.spark.sql.types.StructField("h",
            org.apache.spark.sql.types.LongType)))
        eng.sql("""CREATE VIEW tw_gate WITH (action = transform, sink = 'tw_out',
                  |  ttl = '1 day', ttl_column = ts,
                  |  outputfunc = dedup_gate('user_id', 'event_id')) AS
                  |SELECT event_id, ts, user_id FROM tw_in""".stripMargin)
        eng.createContView("v_ttl", "SELECT event_id FROM tw_out",
          emitChanges = false)
        eng
      }
      def feed(eng: ContViewEngine, lo: Long, hi: Long): Unit =
        eng.insertInto("tw_in",
          events.where(col("event_id") >= lo && col("event_id") < hi))
      val eng1 = setup(new ContViewEngine(s, root))
      feed(eng1, Long.MinValue, 2000L)
      feed(eng1, 2000L, 4000L)
      // mid-feed "crash": the windowed gate replays from the catalog and
      // bootstrap restores the bloom AND the reaper watermark
      val eng2 = setup(new ContViewEngine(s, root))
      feed(eng2, 4000L, Long.MaxValue)
      eng2
    })
  }

  /** Windowed (TTL) near-dup gate fixture (q_neardup_stream_ttl): a
    * DDL-declared `neardup_gate` with `ttl = '1 hour', ttl_column = ts` —
    * the re-crawl/refresh admission policy on the SimHash gate. The ts
    * schedule (minutes = doc_id; copies at +30 / +100 / +130) exercises
    * all three window cases per copied doc: in-window copy suppressed,
    * aged-out copy admitted, third copy suppressed by the second's
    * REFRESHED window. Texts are SYNTHESIZED from doc_id with pairwise-
    * DISJOINT token sets (natural corpus text carries natural Hamming-≤3
    * pairs DuckDB cannot recompute), so similarity is exactly base-doc
    * identity and the oracle mirrors the window on it; mid-feed engine
    * restart as ever.
    */
  private val ndTtlEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  private def ndTtlGateFor(s: SparkSession, dir: String): ContViewEngine = synchronized {
    ndTtlEngines.getOrElseUpdate((s, dir), {
      val root = java.nio.file.Files.createTempDirectory("graft_cvndttl").toString
      // deterministic pairwise-distant bodies: 12 doc-unique tokens — the
      // oracle needs only doc ids, similarity is base identity
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        expr("concat_ws(' ', transform(sequence(0, 11), " +
          "j -> concat('d', doc_id, 't', j)))").as("text"))
      def withTs(df: org.apache.spark.sql.DataFrame, offset: Int, idOff: Long) =
        df.select((col("doc_id") + idOff).as("doc_id"), col("text"),
          expr(s"timestamp'2024-01-01 00:00:00' + " +
            s"make_interval(0, 0, 0, 0, 0, CAST(doc_id AS INT) + $offset, 0)").as("ts"))
      val copies = docs.where(pmod(col("doc_id"), lit(4)) === 0)
      val corpus = withTs(docs, 0, 0L)
        .unionByName(withTs(copies, 30, 1000000L))
        .unionByName(withTs(copies, 100, 2000000L))
        .unionByName(withTs(copies, 130, 3000000L))
      def setup(eng: ContViewEngine): ContViewEngine = {
        eng.createStream("ndttl_in", corpus.schema)
        eng.createStream("ndttl_out", org.apache.spark.sql.types.StructType(
          corpus.schema.fields :+ org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.LongType)))
        eng.sql("""CREATE VIEW ndttl_gate WITH (action = transform,
                  |  sink = 'ndttl_out', ttl = '1 hour', ttl_column = ts,
                  |  outputfunc = neardup_gate('text', 'doc_id')) AS
                  |SELECT doc_id, text, ts FROM ndttl_in""".stripMargin)
        eng.createContView("v_ndttl", "SELECT doc_id FROM ndttl_out",
          emitChanges = false)
        eng
      }
      def feed(eng: ContViewEngine, lo: Long, hi: Long): Unit =
        eng.insertInto("ndttl_in",
          corpus.where(col("doc_id") >= lo && col("doc_id") < hi))
      val eng1 = setup(new ContViewEngine(s, root))
      feed(eng1, Long.MinValue, 1000000L)
      feed(eng1, 1000000L, 2000000L)
      // mid-feed "crash": the windowed gate replays from the catalog;
      // bootstrap restores the store, the resident tier's per-entry ts,
      // and the reaper watermark
      val eng2 = setup(new ContViewEngine(s, root))
      feed(eng2, 2000000L, Long.MaxValue)
      eng2
    })
  }

  /** All-exactly-once stacked pipeline fixture (q_gate_pipeline_eo): the
    * q_gate_pipeline funnel with `delivery='exactly_once'` on EVERY stage
    * (microbatch.h:33-56 parity for the whole family), a failpoint-forced
    * crash INSIDE stage 2's epoch mid-feed (which also interrupts stage
    * 1's delivery — the chain runs synchronously), an engine restart, and
    * an upstream re-feed of the crashed batch. Per-stage spool+marker
    * recovery must converge the chain: every finally-admitted doc reaches
    * the end of the funnel with count exactly 1.
    */
  private val pipelineEoEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  private def pipelineEoFor(s: SparkSession, dir: String): ContViewEngine = synchronized {
    pipelineEoEngines.getOrElseUpdate((s, dir), {
      // file:-SCHEME root (see dedupGateFor): the stacked exactly-once
      // gate pipeline's per-stage spools + recovery on the Hadoop FS path
      val root = "file:" +
        java.nio.file.Files.createTempDirectory("graft_cvpleo").toString
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      docs.where(col("doc_id") < 20).createOrReplaceTempView("pl2_ref")
      val feedDocs = docs.where(col("doc_id") >= 20)
      val corpus = feedDocs.unionByName(
        feedDocs.where(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 800000L).as("doc_id"), col("text")))
      def setup(eng: ContViewEngine): ContViewEngine = {
        eng.createStream("pl2_in", corpus.schema)
        eng.createStream("pl2_s1", org.apache.spark.sql.types.StructType(
          corpus.schema.fields :+ org.apache.spark.sql.types.StructField("h",
            org.apache.spark.sql.types.StringType)))
        eng.createStream("pl2_s2", corpus.schema)
        eng.createStream("pl2_clean", corpus.schema)
        eng.createContView("v_pl2",
          "SELECT doc_id, count(*) AS c FROM pl2_clean GROUP BY doc_id",
          emitChanges = false)
        eng.sql("""CREATE VIEW pl2_g1 WITH (action = transform, sink = 'pl2_s1',
                  |  outputfunc = dedup_gate('md5(text)', 'doc_id', 1, 'exactly_once')) AS
                  |SELECT doc_id, text FROM pl2_in""".stripMargin)
        eng.sql("""CREATE VIEW pl2_g2 WITH (action = transform, sink = 'pl2_s2',
                  |  outputfunc = jaccard_gate('text', 'doc_id', 0.7, 2147483647, 1, 'exactly_once')) AS
                  |SELECT doc_id, text FROM pl2_s1""".stripMargin)
        eng.sql("""CREATE VIEW pl2_g3 WITH (action = transform, sink = 'pl2_clean',
                  |  outputfunc = contamination_gate('text', 'doc_id',
                  |                 'SELECT text FROM pl2_ref', 3, 2, 'exactly_once')) AS
                  |SELECT doc_id, text FROM pl2_s2""".stripMargin)
        eng
      }
      def feed(eng: ContViewEngine, lo: Long, hi: Long): Unit =
        eng.insertInto("pl2_in",
          corpus.where(col("doc_id") >= lo && col("doc_id") < hi))
      val eng1 = setup(new ContViewEngine(s, root))
      feed(eng1, Long.MinValue, 200L)
      // forced crash INSIDE stage 2's epoch: its spool lands, its commit/
      // delivery don't — and stage 1 is left mid-delivery too
      eng1.gateOf("pl2_g2").get.epochs.failAt = "after-spool"
      try feed(eng1, 200L, 400L)
      catch { case e: IllegalStateException
        if e.getMessage.startsWith("failpoint") => () }
      // "crash": eng1 abandoned; all three gates replay from the catalog
      // and recover their pending epochs
      val eng2 = setup(new ContViewEngine(s, root))
      feed(eng2, 200L, 400L) // upstream at-least-once re-feed
      feed(eng2, 400L, Long.MaxValue)
      eng2
    })
  }

  /** Gate under the REAL Structured Streaming driver (q_gate_streaming):
    * a checkpointed file-source readStream feeds the gate's input stream
    * through [[ContViewEngine.startStreamingInto]], with an exactly-once
    * dedup gate as the stream's reader. The query is stopped mid-stream,
    * the ENGINE is restarted (catalog replay re-binds the gate; its
    * bootstrap recovers the epoch spool), a new source file lands, and a
    * NEW streaming query resumes from the SAME checkpoint — the
    * interaction the r10 verdict called untested: Spark's foreachBatch is
    * at-least-once under checkpoint replay, so any re-delivered batch
    * must be fully suppressed by the gate's recovered store, and the
    * counting CV must show every admitted doc exactly once.
    */
  private val gateStreamingEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  private def gateStreamingFor(s: SparkSession, dir: String): ContViewEngine = synchronized {
    gateStreamingEngines.getOrElseUpdate((s, dir), {
      val root = java.nio.file.Files.createTempDirectory("graft_cvgst").toString
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val copies = docs.where(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 700000L).as("doc_id"), col("text"))
      def setup(eng: ContViewEngine): ContViewEngine = {
        eng.createStream("gst_in", docs.schema)
        eng.createStream("gst_clean", org.apache.spark.sql.types.StructType(
          docs.schema.fields :+ org.apache.spark.sql.types.StructField("h",
            org.apache.spark.sql.types.StringType)))
        eng.createContView("v_gst",
          "SELECT doc_id, count(*) AS c FROM gst_clean GROUP BY doc_id",
          emitChanges = false)
        eng.sql("""CREATE VIEW gst_gate WITH (action = transform, sink = 'gst_clean',
                  |  outputfunc = dedup_gate('md5(text)', 'doc_id', 1, 'exactly_once')) AS
                  |SELECT doc_id, text FROM gst_in""".stripMargin)
        eng
      }
      val srcDir = s"$root/_stream_src"
      // two initial drops → two file-source micro-batches
      (0 until 2).foreach { i =>
        docs.where(pmod(col("doc_id"), lit(2)) === i)
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      val eng1 = setup(new ContViewEngine(s, root))
      def source() = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q1 = eng1.startStreamingInto("gst_in", source())
      try { q1.processAllAvailable() } finally q1.stop()
      // engine restart + a third drop (exact copies of earlier content)
      // while no query runs; the resumed query on the SAME checkpoint must
      // process only the new file, and the replayed gate must suppress
      // every copy against its recovered store
      copies.coalesce(1).write.mode("append").parquet(srcDir)
      val eng2 = setup(new ContViewEngine(s, root))
      val q2 = eng2.startStreamingInto("gst_in", source())
      try { q2.processAllAvailable() } finally q2.stop()
      eng2
    })
  }

  /** NEAR-DUP gate under the REAL Structured Streaming driver with a
    * mid-stream CRASH (q_neardup_streaming): an exactly-once jaccard gate
    * fed by a checkpointed file source, failpoint-killed BETWEEN the
    * epoch spool and its delivery marker, then resumed on a fresh engine
    * from the SAME checkpoint — the one recovery surface the r11 verdict
    * flagged as un-oracled (the full-batch spool × checkpoint re-delivery
    * of a committed-to-spool batch against a seen-based store). Bodies
    * are SYNTHESIZED from doc_id (12 tokens, disjoint across ids), so the
    * only near-pairs are the seeded exact copies (estimate 1.0) and the
    * admitted set is pure doc_id arithmetic DuckDB mirrors exactly; the
    * counting CV pins exactly-once (any double delivery shows c=2, any
    * loss a missing row). */
  private val neardupStreamingEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  private def neardupStreamingFor(s: SparkSession, dir: String): ContViewEngine =
    synchronized {
      neardupStreamingEngines.getOrElseUpdate((s, dir), {
        // file:-SCHEME root (see dedupGateFor): near-dup gate + TTL +
        // Structured Streaming restart on the Hadoop FS path
        val root = "file:" +
          java.nio.file.Files.createTempDirectory("graft_cvngst").toString
        def body(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          concat_ws(" ",
          (1 to 12).map(i =>
            concat(lit("w"), (id * 37 + lit(i)).cast("string"))): _*)
        val ids = Tables.documents(s, dir).select("doc_id")
        val base = ids.select(col("doc_id"), body(col("doc_id")).as("text"))
        // exact copies of every 3rd base doc (signature estimate 1.0 →
        // always suppressed) + genuinely fresh post-restart docs
        val copies = base.where(pmod(col("doc_id"), lit(3)) === 0)
          .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
        val fresh = ids.where(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 950000L).as("doc_id"))
          .select(col("doc_id"), body(col("doc_id")).as("text"))
        def setup(eng: ContViewEngine): ContViewEngine = {
          eng.createStream("ngst_in", base.schema)
          eng.createStream("ngst_clean", base.schema)
          eng.createContView("v_ngst",
            "SELECT doc_id, count(*) AS c FROM ngst_clean GROUP BY doc_id",
            emitChanges = false)
          eng.sql("""CREATE VIEW ngst_gate WITH (action = transform, sink = 'ngst_clean',
                    |  outputfunc = jaccard_gate('text', 'doc_id', 0.8, 100000, 1,
                    |                            'exactly_once')) AS
                    |SELECT doc_id, text FROM ngst_in""".stripMargin)
          eng
        }
        val srcDir = s"$root/_stream_src"
        def source() = s.readStream.schema(base.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        // drop A: half the base docs — processed cleanly
        base.where(pmod(col("doc_id"), lit(2)) === 0)
          .coalesce(1).write.mode("append").parquet(srcDir)
        val eng1 = setup(new ContViewEngine(s, root))
        val q1 = eng1.startStreamingInto("ngst_in", source())
        try { q1.processAllAvailable() } finally q1.stop()
        // drop B: the other half — CRASH between spool and marker, so the
        // checkpoint does NOT commit the batch and the resume re-delivers it
        base.where(pmod(col("doc_id"), lit(2)) === 1)
          .coalesce(1).write.mode("append").parquet(srcDir)
        eng1.gateOf("ngst_gate").get.epochs.failAt = "after-spool"
        val q2 = eng1.startStreamingInto("ngst_in", source())
        intercept(q2.processAllAvailable())
        q2.stop()
        // engine restart (catalog replay + spool recovery) + drop C
        // (copies of both halves' content + fresh docs); the resumed query
        // on the SAME checkpoint first RE-DELIVERS drop B — the recovered
        // store must suppress all of it (its spooled epoch already
        // delivered once at recovery) — then gates drop C normally
        copies.unionByName(fresh)
          .coalesce(1).write.mode("append").parquet(srcDir)
        val eng2 = setup(new ContViewEngine(s, root))
        val q3 = eng2.startStreamingInto("ngst_in", source())
        try { q3.processAllAvailable() } finally q3.stop()
        eng2
      })
    }

  private def intercept(f: => Unit): Unit = {
    val crashed = try { f; false } catch { case _: Exception => true }
    require(crashed, "expected the batch to crash")
  }

  /** EXECUTOR-BACKEND gate fixture (q_dedup_stream_exec /
    * q_neardup_stream_exec): an exact gate and a jaccard gate, both
    * DDL-declared with `backend = 'executor'` (state on
    * executor-partitioned shards — SeenKind / IndexKind ExecutorShards —
    * no driver bloom, no driver hot tier), fed in three batches with a
    * mid-feed engine restart (catalog replay carries the backend option;
    * the new instance's shards rebuild from the durable stores). Jaccard
    * bodies are synthesized from doc_id with disjoint token sets, so its
    * suppression is exactly the seeded copies and both admitted sets are
    * pure doc_id arithmetic for DuckDB. */
  private val execGateEngines =
    scala.collection.mutable.Map.empty[(SparkSession, String), ContViewEngine]

  private def execGateFor(s: SparkSession, dir: String): ContViewEngine =
    synchronized {
      execGateEngines.getOrElseUpdate((s, dir), {
        // file:-SCHEME root: the executor-distributed backend's shared
        // store (shard rebuild scans, owner stamps) rides HadoopStoreFs
        val root = "file:" +
          java.nio.file.Files.createTempDirectory("graft_cvxg").toString
        def body(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          concat_ws(" ", (1 to 12).map(i =>
            concat(lit("x"), (id * 41 + lit(i)).cast("string"))): _*)
        val ids = Tables.documents(s, dir).select("doc_id")
        val base = ids.select(col("doc_id"), body(col("doc_id")).as("text"))
        // every 4th doc re-fed as an exact copy (+600000) — suppressed by
        // BOTH gates (md5 equality; jaccard estimate 1.0)
        val copies = base.where(pmod(col("doc_id"), lit(4)) === 0)
          .select((col("doc_id") + 600000L).as("doc_id"), col("text"))
        val corpus = base.unionByName(copies)
        // reference corpus for the executor contamination gate: every 20th
        // base doc. Tokens are doc-disjoint by construction, so a streamed
        // doc shares a 3-gram with the reference iff it IS a reference doc
        // or its +600000 exact copy — doc_id arithmetic for DuckDB. The
        // view registers BEFORE the engine constructs (catalog replay
        // re-resolves the reference SQL at the mid-feed restart).
        base.where(pmod(col("doc_id"), lit(20)) === 0).select("text")
          .createOrReplaceTempView("xg_ct_ref")
        def setup(eng: ContViewEngine): ContViewEngine = {
          eng.createStream("xg_in", corpus.schema)
          eng.createStream("xg_d_out", org.apache.spark.sql.types.StructType(
            corpus.schema.fields :+ org.apache.spark.sql.types.StructField(
              "h", org.apache.spark.sql.types.StringType)))
          eng.createStream("xg_j_out", corpus.schema)
          eng.createStream("xg_ct_out", corpus.schema)
          // state_parts = 4 / 3: NON-default shard counts, so the oracle
          // rows drive the sharded-state geometry (and its catalog replay
          // across the mid-feed restart) end-to-end, not just the default
          eng.sql("""CREATE VIEW xg_dedup WITH (action = transform,
                    |  sink = 'xg_d_out', backend = 'executor',
                    |  state_parts = 4,
                    |  outputfunc = dedup_gate('md5(text)', 'doc_id')) AS
                    |SELECT doc_id, text FROM xg_in""".stripMargin)
          eng.sql("""CREATE VIEW xg_jac WITH (action = transform,
                    |  sink = 'xg_j_out', backend = 'executor',
                    |  state_parts = 3,
                    |  outputfunc = jaccard_gate('text', 'doc_id', 0.8)) AS
                    |SELECT doc_id, text FROM xg_in""".stripMargin)
          // third sibling, SAME input stream: the contamination gate with
          // its static reference membership on executor shards (no driver
          // bloom, no driver reference read) — SeenKind shards over the
          // hashed-gram store, state_parts = 5 (another non-default count)
          eng.sql("""CREATE VIEW xg_ct WITH (action = transform,
                    |  sink = 'xg_ct_out', backend = 'executor',
                    |  state_parts = 5,
                    |  outputfunc = contamination_gate('text', 'doc_id',
                    |    'SELECT text FROM xg_ct_ref')) AS
                    |SELECT doc_id, text FROM xg_in""".stripMargin)
          eng.createContView("v_xg_d", "SELECT doc_id FROM xg_d_out",
            emitChanges = false)
          eng.createContView("v_xg_j", "SELECT doc_id FROM xg_j_out",
            emitChanges = false)
          eng.createContView("v_xg_ct", "SELECT doc_id FROM xg_ct_out",
            emitChanges = false)
          eng
        }
        def feed(eng: ContViewEngine, lo: Long, hi: Long): Unit =
          eng.insertInto("xg_in",
            corpus.where(col("doc_id") >= lo && col("doc_id") < hi))
        val eng1 = setup(new ContViewEngine(s, root))
        feed(eng1, Long.MinValue, 300L)
        // mid-feed "crash": the replayed gates must carry backend =
        // 'executor' from the catalog and rebuild their shards from the
        // persisted stores — the +600000 copies of batch-1 content arrive
        // only AFTER the restart
        val eng2 = setup(new ContViewEngine(s, root))
        feed(eng2, 300L, Long.MaxValue)
        eng2
      })
    }

  private def dedupGateFor(s: SparkSession, dir: String): ContViewEngine = synchronized {
    gateEngines.getOrElseUpdate((s, dir), {
      // file:-SCHEME root: this whole fixture — the DDL sharded exact
      // gate, simhash + sharded-cosine + jaccard near-dup gates, their
      // stores/spools/geometry stamps, and the mid-feed engine restart —
      // drives the gate tier through HadoopStoreFs, so the driver's own
      // oracle battery gates the URI-root port every round (the deploy
      // shape of an hdfs://-rooted curation pipeline)
      val root = "file:" +
        java.nio.file.Files.createTempDirectory("graft_cvdg").toString
      val docs = Tables.documents(s, dir).select("doc_id", "text", "lang")
      val corpus = docs.unionByName(
        docs.where(pmod(col("doc_id"), lit(4)) === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"), col("lang")))
      val ndCorpus = docs.unionByName(
        docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang")))
      val mhCorpus = docs.unionByName(
        docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text"), col("lang")))
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding", "label")
      val cosCorpus = emb.unionByName(
        emb.where(pmod(col("vec_id"), lit(5)) === 0)
          .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"),
            col("label")))
      // the whole fixture is built by an idempotent setup script run on a
      // FRESH engine handle twice — before the feed and again mid-feed — so
      // the oracle rows gate the restart path end-to-end: the DDL-declared
      // exact gate replays itself from the catalog, and the Scala-API
      // near-dup gates take the documented re-run-the-script rebind, all
      // three rebuilding their bloom/CMS state from the persisted stores
      def setup(eng: ContViewEngine): ContViewEngine = {
      eng.createStream("dg_in", corpus.schema)
      eng.createStream("dg_clean", org.apache.spark.sql.types.StructType(
        corpus.schema.fields :+
          org.apache.spark.sql.types.StructField("h",
            org.apache.spark.sql.types.StringType)))
      // the exact gate takes the DDL spelling — recorded in the catalog
      // (kind=gate), replayed WITH its callback at restart — in its
      // SHARDED form (2 key-space cores), so the horizontal scale-out
      // path is oracle-gated end-to-end incl. the mid-feed restart
      eng.sql("""CREATE VIEW dg_gate WITH (action = transform, sink = 'dg_clean',
                |  outputfunc = dedup_gate('md5(text)', 'doc_id', 2)) AS
                |SELECT doc_id, text, lang FROM dg_in""".stripMargin)
      eng.createContView("v_clean", "SELECT doc_id, h, lang FROM dg_clean",
        emitChanges = false)
      // sibling NEAR-dup gate on its own stream: exact copies of every 2nd
      // doc seeded at +1000000 sit at Hamming distance 0 from their
      // originals, so the gate must suppress every copy (cross-batch for
      // originals < 400, within-batch for the rest) — the single-shot
      // recomputable slice of the admitted set (natural near-pairs are
      // spec-verified, not oracle-verified, same split as q_simhash_neardup)
      eng.createStream("nd_in", ndCorpus.schema)
      eng.createStream("nd_clean", org.apache.spark.sql.types.StructType(
        ndCorpus.schema.fields :+
          org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.LongType)))
      graft.streaming.SimHashNearDupGate.create(eng, "nd_gate",
        "SELECT doc_id, text, lang FROM nd_in",
        textSql = "text", orderCol = "doc_id", sink = "nd_clean",
        storeRoot = root)
      eng.createContView("v_nd_clean", "SELECT doc_id, lang FROM nd_clean",
        emitChanges = false)
      // third sibling: the embedding-cosine gate, on the embeddings table
      // (exact copies of every 5th vector seeded at +200000 → cosine 1.0 to
      // an earlier arrival, structurally suppressed). Unlike the simhash
      // slice, the FULL admitted set is oracle-expressible here: DuckDB
      // brute-forces cos >= 0.99 over the same corpus, and LSH recall at
      // that threshold is structural for copies and ~1-1.6e-10 for any
      // natural pair (q_ann_lsh's operating point).
      eng.createStream("cg_in", cosCorpus.schema)
      eng.createStream("cg_clean", cosCorpus.schema)
      // sharded form (2 table-position cores, shared embedding store) so
      // the near-dup scale-out path is oracle-gated too
      graft.streaming.CosineNearDupGate.create(eng, "cg_gate",
        "SELECT vec_id, embedding, label FROM cg_in",
        embSql = "embedding", orderCol = "vec_id", sink = "cg_clean",
        storeRoot = root, threshold = 0.99, dim = 64, shards = 2)
      eng.createContView("v_cg_clean", "SELECT vec_id, label FROM cg_clean",
        emitChanges = false)
      // fourth sibling: the MinHash/Jaccard gate, declared through DDL so
      // the jaccard_gate spelling (incl. catalog replay at the mid-feed
      // restart) is oracle-gated. Exact copies of every 3rd doc seeded at
      // +3000000 have IDENTICAL signatures (estimate 1.0 ≥ 0.9, banding
      // collision certain), so every copy must be suppressed; which
      // natural docs also get suppressed depends on signature hashing
      // DuckDB can't recompute — spec-verified instead, same split as
      // q_neardup_stream.
      eng.createStream("mh_in", corpus.schema)
      eng.createStream("mh_clean", corpus.schema)
      eng.sql("""CREATE VIEW mh_gate WITH (action = transform, sink = 'mh_clean',
                |  outputfunc = jaccard_gate('text', 'doc_id', 0.9)) AS
                |SELECT doc_id, text, lang FROM mh_in""".stripMargin)
      eng.createContView("v_mh_clean", "SELECT doc_id, lang FROM mh_clean",
        emitChanges = false)
      // fifth sibling: the benchmark-decontamination gate — docs < 20 act
      // as the eval/reference corpus (the q_decontaminate split), the
      // stream carries the rest, and any doc sharing a word 3-gram with
      // the reference is suppressed. Matching is exact on gram hashes, so
      // the FULL admitted set is DuckDB-expressible (no LSH slice split).
      eng.createStream("ct_in", corpus.schema)
      eng.createStream("ct_clean", corpus.schema)
      graft.streaming.ContaminationGate.create(eng, "ct_gate",
        "SELECT doc_id, text, lang FROM ct_in",
        textSql = "text", orderCol = "doc_id", sink = "ct_clean",
        storeRoot = root, reference = docs.where(col("doc_id") < 20))
      eng.createContView("v_ct_clean", "SELECT doc_id, lang FROM ct_clean",
        emitChanges = false)
      eng
      }
      def feed(eng: ContViewEngine, lo: Long, hi: Long): Unit = {
        eng.insertInto("dg_in",
          corpus.where(col("doc_id") >= lo && col("doc_id") < hi))
        eng.insertInto("nd_in",
          ndCorpus.where(col("doc_id") >= lo && col("doc_id") < hi))
        eng.insertInto("cg_in",
          cosCorpus.where(col("vec_id") >= lo && col("vec_id") < hi))
        eng.insertInto("mh_in",
          mhCorpus.where(col("doc_id") >= lo && col("doc_id") < hi))
        eng.insertInto("ct_in",
          docs.where(col("doc_id") >= 20L &&
            col("doc_id") >= lo && col("doc_id") < hi))
      }
      val eng1 = setup(new ContViewEngine(s, root))
      feed(eng1, Long.MinValue, 200L)
      feed(eng1, 200L, 400L)
      // "crash" after two batches: eng1 is abandoned, a fresh engine on the
      // same root replays the catalog and the setup script re-runs — batch
      // 3 (carrying copies of batch-1/2 content) must still be suppressed
      // by the stores the first incarnation persisted
      val eng2 = setup(new ContViewEngine(s, root))
      feed(eng2, 400L, Long.MaxValue)
      eng2
    })
  }

  /** Pre-build (or just touch) the engines for a (session, sfDir) pair.
    * The bench calls this from its untimed warm-up on a background thread:
    * in a real deployment the CVs are maintained continuously while ad-hoc
    * queries run, so the replay overlaps the unrelated query work instead
    * of being billed to whichever CV query happens to run first.
    */
  def warm(s: SparkSession, dir: String): Unit = {
    engineFor(s, dir); lifecycleFor(s, dir); restartFor(s, dir)
    streamingFor(s, dir); dedupGateFor(s, dir); ()
  }

  val all: Seq[QDef] = Seq(
    // cont_count/cont_sum: incremental counts and sums equal a single shot.
    QDef(
      "q_cv_count",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        // read through the SQL front door (SELECT over the registered
        // overlay) so the DDL-created CV's read path is oracle-gated too
        engineFor(s, dir).sql(
          """SELECT event_type, n, round(sv, 2) AS sv
            |FROM v_counts ORDER BY event_type""".stripMargin)
    },

    // user_combine: stored states re-grouped to a coarser key at read time.
    QDef(
      "q_cv_combine",
      """SELECT event_type, count(*) AS n, round(avg(value), 6) AS av,
        |       count(DISTINCT user_id) AS nd
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        // nd per (type,user) is 1; combining to event_type must give the
        // true distinct count because HLL states union losslessly here
        engineFor(s, dir).combine("v_by_user", Seq("event_type"))
          .select(col("event_type"), col("n"), round(col("av"), 6).as("av"), col("nd"))
          .orderBy("event_type")
    },

    // cont_sw_count: sliding-window overlay with read-time expiry at the
    // step-bucket granularity; "now" pinned to max(ts) for determinism.
    QDef(
      "q_cv_sliding",
      """SELECT event_type, count(*) AS n FROM events
        |WHERE floor(epoch(ts)/30240)*30240 >
        |      (SELECT epoch(max(ts)) FROM events) - 604800
        |GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        val maxTs = maxEventTs(s, dir)
        engineFor(s, dir).overlay("v_sw", Some(maxTs)).orderBy("event_type")
    },

    // ttl_expiration.sql: storage-level expiry. The reaper deletes state
    // rows whose ttl column fell behind now-ttl (deleteWhere d < cutoff);
    // DuckDB recomputes the surviving day buckets from the raw events with
    // the mirrored predicate. "now" pinned to max(ts) for determinism.
    QDef(
      "q_cv_ttl",
      """SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS d,
        |       count(*) AS n, round(sum(value), 2) AS sv
        |FROM events
        |WHERE to_timestamp(floor(epoch(ts)/86400)*86400) >=
        |      (SELECT max(ts) - INTERVAL 7 DAY FROM events)
        |GROUP BY 1 ORDER BY d""".stripMargin) {
      (s, dir) =>
        val eng = engineFor(s, dir)
        val maxTs = maxEventTs(s, dir)
        eng.expireTtl("v_ttl", Some(maxTs))
        eng.overlay("v_ttl")
          .select(col("d").cast("long").as("d"), col("n"), round(col("sv"), 2).as("sv"))
          .orderBy("d")
    },

    // stream_insert_level=async + flush barrier: enqueued chunks equal batch.
    QDef(
      "q_cv_async",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        lifecycleFor(s, dir).overlay("v_async")
          .select(col("event_type"), col("n"), round(col("sv"), 2).as("sv"))
          .orderBy("event_type")
    },

    // matrel_constraints.sql: CHECK-violating combiner writes are skipped —
    // each surviving group holds the state of its first two events (the
    // third increment always violates n < 3), keys <= 5 never materialize.
    QDef(
      "q_cv_constraint",
      """SELECT user_id, least(count(*), 2) AS n,
        |       round(sum(value) FILTER (WHERE rn <= 2), 2) AS sv
        |FROM (SELECT user_id, value,
        |             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |      FROM events)
        |WHERE user_id > 5
        |GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, dir) =>
        lifecycleFor(s, dir).sql(
          """SELECT user_id, n, round(sv, 2) AS sv
            |FROM v_con ORDER BY user_id""".stripMargin)
    },

    // Checkpoint restart (test_crash_recovery.py / catalog replay): half the
    // events ingested by an abandoned engine instance, the rest by a fresh
    // replay of the same root — incremental-across-restart equals batch.
    QDef(
      "q_cv_restart",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv,
        |       round(avg(value), 6) AS av, count(DISTINCT user_id) AS nd
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        restartFor(s, dir).sql(
          """SELECT event_type, n, round(sv, 2) AS sv, round(av, 6) AS av, nd
            |FROM rs1.agg ORDER BY event_type""".stripMargin)
    },

    // Checkpoint restart on an OBJECT-STORE root (round 18): the same
    // incremental-across-restart-equals-batch invariant as q_cv_restart,
    // with every commit point a conditional PUT (no renames exist) and
    // the catalog a concatenation of put-if-absent segment objects —
    // the s3://-rooted deployment shape, oracle-hash-gated per round.
    QDef(
      "q_cv_object_restart",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv,
        |       count(DISTINCT user_id) AS nd
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        objectRootFor(s, dir).sql(
          """SELECT event_type, n, round(sv, 2) AS sv, nd
            |FROM oq_agg ORDER BY event_type""".stripMargin)
    },

    // cont_matrel.sql: direct matrel DML under matrels_writable. Groups
    // user_id < 3 are DELETEd after the even half (they resurrect with
    // odd-only state; a group with no odd events stays gone), user 5's sum
    // state is zeroed by UPDATE between the halves (its count state and
    // later merges are untouched).
    QDef(
      "q_cv_matrel_dml",
      """SELECT user_id,
        |       count(*) FILTER (WHERE user_id >= 3 OR event_id % 2 = 1) AS n,
        |       round(coalesce(sum(value) FILTER (
        |         WHERE (user_id >= 3 AND user_id <> 5) OR event_id % 2 = 1), 0), 2) AS sv
        |FROM events GROUP BY user_id
        |HAVING count(*) FILTER (WHERE user_id >= 3 OR event_id % 2 = 1) > 0
        |ORDER BY user_id""".stripMargin) {
      (s, dir) =>
        lifecycleFor(s, dir).sql(
          "SELECT user_id, n, round(sv, 2) AS sv FROM v_dml ORDER BY user_id")
    },

    // cont_truncate.sql: state truncated after the first third; overlay
    // equals the batch answer over the remaining two thirds.
    QDef(
      "q_cv_truncate",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv
        |FROM events WHERE event_id % 3 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        lifecycleFor(s, dir).sql(
          """SELECT event_type, n, round(sv, 2) AS sv
            |FROM v_trunc ORDER BY event_type""".stripMargin)
    },

    // cont_alter.sql: CV renamed (by the post-restart engine) after both
    // ingest halves — state answers to the new qualified name.
    QDef(
      "q_cv_rename",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        restartFor(s, dir).sql(
          """SELECT event_type, n, round(sv, 2) AS sv
            |FROM rs1.agg_renamed ORDER BY event_type""".stripMargin)
    },

    // cont_view_namespace.sql: schema-qualified CV fed under its original
    // schema and read after ALTER SCHEMA RENAME re-keyed every object.
    QDef(
      "q_cv_schema",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        lifecycleFor(s, dir).sql(
          """SELECT event_type, n, round(sv, 2) AS sv
            |FROM ns2.by_type ORDER BY event_type""".stripMargin)
    },

    // cont_activate.sql: batches arriving while deactivated never land.
    QDef(
      "q_cv_activate",
      """SELECT event_type, count(*) AS n FROM events
        |WHERE event_id % 3 <> 1 GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        lifecycleFor(s, dir).overlay("v_act").orderBy("event_type")
    },

    // sw_combine (sql:122-140): re-aggregate a SW view's stored state at a
    // coarser grouping, honoring read-time expiry — here collapsed to the
    // grand total over the live window.
    QDef(
      "q_cv_sw_combine",
      """SELECT count(*) AS n FROM events
        |WHERE floor(epoch(ts)/30240)*30240 >
        |      (SELECT epoch(max(ts)) FROM events) - 604800""".stripMargin) {
      (s, dir) =>
        val maxTs = maxEventTs(s, dir)
        engineFor(s, dir).swCombine("v_sw", Seq(), Some(maxTs))
    },

    // cont_transform: stateless transform chained into a downstream CV.
    QDef(
      "q_cv_transform_chain",
      """SELECT event_type, count(*) AS n FROM events
        |WHERE value > 100 GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).overlay("v_hot").orderBy("event_type")
    },

    // delta_streams: the output stream's delta states sum back to the input.
    QDef(
      "q_cv_delta_rollup",
      "SELECT count(*) AS total FROM events") {
      (s, dir) =>
        engineFor(s, dir).outputOf("v_os").get.agg(sum(col("delta.n")).as("total"))
    },

    // delta_streams chaining: the CHAINED CV (maintained continuously off
    // v_os's output stream) equals a single-shot batch rollup of the input.
    QDef(
      "q_cv_chained",
      """SELECT CAST(user_id % 10 AS BIGINT) AS ub, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY ub""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).overlay("v_os_rollup").orderBy("ub")
    },

    // copy.c: COPY FROM bulk load through the ingest path equals batch agg.
    QDef(
      "q_cv_copy",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        lifecycleFor(s, dir).overlay("v_copy")
          .select(col("event_type"), col("n"), round(col("sv"), 2).as("sv"))
          .orderBy("event_type")
    },

    // combiner.c:2252: combine_table backfill — two half-fed CVs merged
    // into one must equal the single-shot answer over everything.
    QDef(
      "q_cv_combine_table",
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS sv
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, dir) =>
        lifecycleFor(s, dir).overlay("v_bf")
          .select(col("user_id"), col("n"), round(col("sv"), 2).as("sv"))
          .orderBy("user_id")
    },

    // combiner.c:992 tick_sw_groups: expired step buckets emit their
    // finalized groups to the output stream with new=NULL; DuckDB
    // recomputes the expired (bucket, event_type) counts directly.
    QDef(
      "q_cv_ticks",
      """WITH b AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts)/30240)*30240 AS BIGINT) AS bkt
        |  FROM events)
        |SELECT bkt, event_type, count(*) AS n FROM b
        |WHERE bkt <= (SELECT epoch(max(ts)) - 604800 FROM events)
        |GROUP BY bkt, event_type ORDER BY bkt, event_type""".stripMargin) {
      (s, dir) =>
        lifecycleFor(s, dir).outputOf("v_tick").get
          .where(col("new").isNull)
          .select(col("__sw_bucket").cast("long").as("bkt"),
            col("event_type"), col("old.n").as("n"))
          .orderBy("bkt", "event_type")
    },

    // Non-aggregating CV (stream_exprs.sql:2): every qualifying event is one
    // stored row — the incremental append equals the single-shot filter.
    QDef(
      "q_cv_append",
      """SELECT event_id, event_type, round(value, 2) AS v FROM events
        |WHERE value > 150 ORDER BY event_id""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).overlay("v_append")
          .select(col("event_id"), col("event_type"), round(col("value"), 2).as("v"))
          .orderBy("event_id")
    },

    // cont_count.sql's keyless shape: a global aggregate CV holds exactly
    // one row, merged in place across batches.
    QDef(
      "q_cv_global",
      """SELECT count(*) AS n, round(sum(value), 2) AS sv,
        |       min(user_id) AS mn, max(user_id) AS mx FROM events""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).overlay("v_global")
          .select(col("n"), round(col("sv"), 2).as("sv"), col("mn"), col("mx"))
    },

    // cont_distinct.sql:62-106: SELECT DISTINCT in a CV — pure grouping,
    // incremental result equals the single-shot distinct.
    QDef(
      "q_cv_distinct",
      """SELECT DISTINCT event_type, user_id % 7 AS ub FROM events
        |ORDER BY event_type, ub""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).overlay("v_distinct").orderBy("event_type", "ub")
    },

    // cont_distinct.sql: DISTINCT ON — one row per ON-group. The engine's
    // deterministic representative is the lexicographic-min row (by output
    // order), mirrored in DuckDB with a row_number window.
    QDef(
      "q_cv_distinct_on",
      """SELECT event_type, user_id, value FROM (
        |  SELECT event_type, user_id, value,
        |         row_number() OVER (PARTITION BY user_id % 100
        |                            ORDER BY event_type, user_id, value) AS rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id, event_type, value""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).overlay("v_distinct_on")
          .orderBy("user_id", "event_type", "value")
    },

    // cont_bool_agg.sql: bool_and/bool_or/every/bit_and/bit_or maintained
    // incrementally inside a CV equal the single-shot batch answer.
    QDef(
      "q_cv_bool",
      """SELECT event_type,
        |       bool_and(value > 50) AS ba, bool_or(value > 500) AS bo,
        |       bool_and(value > 0) AS ev,
        |       bit_and(user_id) AS band, bit_or(user_id) AS bor
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).overlay("v_bool").orderBy("event_type")
    },

    // FILTER (WHERE ...) aggregates maintained incrementally: the filter
    // rides the split state (If(p, x, NULL) inputs), so incremental equals
    // single shot.
    QDef(
      "q_cv_filter",
      """SELECT event_type, count(*) AS n,
        |       count(*) FILTER (WHERE value > 100) AS n_hi,
        |       round(sum(value) FILTER (WHERE user_id % 2 = 0), 2) AS sv_even,
        |       round(avg(value) FILTER (WHERE value > 50), 4) AS av_hi
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).overlay("v_filter")
          .select(col("event_type"), col("n"), col("n_hi"),
            round(col("sv_even"), 2).as("sv_even"), round(col("av_hi"), 4).as("av_hi"))
          .orderBy("event_type")
    },

    // cont_subselect.sql:1-30: flat subselect (projection + filter) below
    // the CV aggregate — incremental equals single shot.
    QDef(
      "q_cv_subselect",
      """SELECT user_id % 5 AS ub, count(*) AS n, round(sum(value * 2), 2) AS sv
        |FROM events WHERE value > 100 GROUP BY 1 ORDER BY ub""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).overlay("v_subsel")
          .select(col("ub"), col("n"), round(col("sv"), 2).as("sv"))
          .orderBy("ub")
    },

    // cont_subselect.sql:32-58: JSON unrolling (explode below the aggregate)
    // — each event contributes one row per unrolled element.
    QDef(
      "q_cv_json_unroll",
      """SELECT e, count(*) AS n FROM (
        |  SELECT unnest([CAST(regexp_extract(props, '[0-9]+') AS BIGINT),
        |                 user_id % 50]) AS e
        |  FROM events WHERE value > 50) t
        |GROUP BY e ORDER BY e""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).overlay("v_unroll").orderBy("e")
    },

    // reference sql:142-225 type breadth: avg over day-time intervals and a
    // DECIMAL(38,10)-precision sum, both maintained through the split state.
    // The interval avg surfaces as seconds (rounded, micro-resolution
    // division differs from DuckDB's double math in the last digits); the
    // decimal surfaces as its exact scale-10 string.
    QDef(
      "q_cv_typed",
      """SELECT event_type,
        |       round(avg(epoch(ts - TIMESTAMP '2024-01-01 00:00:00')), 2) AS gap_s,
        |       CAST(sum(CAST(event_id AS DECIMAL(20,0)) * 0.0000000001) AS VARCHAR) AS ds
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).overlay("v_typed")
          .select(col("event_type"),
            round(expr("unix_micros(TIMESTAMP '1970-01-01 00:00:00' + gap)") / 1e6, 2)
              .as("gap_s"),
            col("ds").cast("string").as("ds"))
          .orderBy("event_type")
    },

    // cont_grouping_sets: ROLLUP maintained incrementally inside a CV — the
    // hidden grouping-id key keeps rolled-up NULLs apart from real NULLs.
    QDef(
      "q_cv_rollup",
      """SELECT event_type, user_id % 10 AS ub,
        |       grouping(event_type)*2 + grouping(user_id % 10) AS gid,
        |       count(*) AS n, round(sum(value), 2) AS sv
        |FROM events GROUP BY ROLLUP(event_type, user_id % 10)
        |ORDER BY gid, event_type, ub""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).overlay("v_rollup")
          .select(col("event_type"), col("ub"), col("gid").cast("long").as("gid"),
            col("n"), round(col("sv"), 2).as("sv"))
          .orderBy("gid", "event_type", "ub")
    },

    // Structured Streaming driver end-to-end (previously spec-only): a
    // checkpointed readStream file source drives startStreamingInto through
    // three real triggers; the overlay (incl. HLL distinct state) must equal
    // the single-shot batch answer.
    QDef(
      "q_cv_streaming",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv,
        |       round(avg(value), 2) AS av, count(DISTINCT user_id) AS nd
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        streamingFor(s, dir).overlay("v_stream")
          .select(col("event_type"), col("n"), round(col("sv"), 2).as("sv"),
            round(col("av"), 2).as("av"), col("nd"))
          .orderBy("event_type")
    },

    // Monitoring views (pipelinedb.query_stats / stats.c, previously
    // spec-only): the deterministic counter columns of query_stats are an
    // oracle-expressible read — batches is the fixture's replay chunking and
    // groups_out is the per-batch touched-group count, which DuckDB can
    // recompute as per-chunk distinct group counts (touched groups per
    // micro-batch = distinct groups present in that chunk). Covers an
    // aggregating CV, the keyless global CV, the append-only CV (rows
    // admitted), the delta-chained rollup, a transform, and its sink-fed CV.
    QDef(
      "q_cv_stats",
      """WITH c0 AS (SELECT * FROM events WHERE event_id % 2 = 0),
        |     c1 AS (SELECT * FROM events WHERE event_id % 2 = 1)
        |SELECT * FROM (
        |  SELECT 't_hot' AS name, 'transform' AS kind, CAST(2 AS BIGINT) AS batches,
        |         CAST(0 AS BIGINT) AS groups_out
        |  UNION ALL
        |  SELECT 'v_append', 'view', 2,
        |         (SELECT count(*) FROM events WHERE value > 150)
        |  UNION ALL
        |  SELECT 'v_counts', 'view', 2,
        |         (SELECT count(DISTINCT event_type) FROM c0)
        |       + (SELECT count(DISTINCT event_type) FROM c1)
        |  UNION ALL
        |  SELECT 'v_global', 'view', 2, 2
        |  UNION ALL
        |  SELECT 'v_hot', 'view', 2,
        |         (SELECT count(DISTINCT event_type) FROM c0 WHERE value > 100)
        |       + (SELECT count(DISTINCT event_type) FROM c1 WHERE value > 100)
        |  UNION ALL
        |  SELECT 'v_os', 'view', 2,
        |         (SELECT count(DISTINCT user_id) FROM c0)
        |       + (SELECT count(DISTINCT user_id) FROM c1)
        |  UNION ALL
        |  SELECT 'v_os_rollup', 'view', 2,
        |         (SELECT count(DISTINCT user_id % 10) FROM c0)
        |       + (SELECT count(DISTINCT user_id % 10) FROM c1)
        |) ORDER BY name""".stripMargin) {
      (s, dir) =>
        engineFor(s, dir).stats()
          .where(col("name").isin(
            "t_hot", "v_append", "v_counts", "v_global", "v_hot", "v_os", "v_os_rollup"))
          .select(col("name"), col("kind"), col("batches"),
            col("groupsOut").as("groups_out"))
          .orderBy("name")
    },

    // Streaming exact-dedup gate (StreamDedupGate, beyond-ref): only the
    // first occurrence of each content hash ever seen on the stream reaches
    // the sink. Batches replay in ascending doc_id ranges and the gate is
    // first-wins within a batch, so the admitted set is exactly the
    // min-doc_id representative per hash — single-shot recomputable.
    QDef(
      "q_dedup_stream",
      """WITH corpus AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text, lang
        |  FROM documents WHERE doc_id % 4 = 0
        |), firsts AS (
        |  SELECT md5(text) AS h, min(doc_id) AS keep
        |  FROM corpus GROUP BY md5(text)
        |)
        |SELECT c.doc_id, f.h, c.lang
        |FROM corpus c JOIN firsts f
        |  ON md5(c.text) = f.h AND c.doc_id = f.keep
        |ORDER BY c.doc_id""".stripMargin) {
      (s, dir) =>
        dedupGateFor(s, dir).sql(
          "SELECT doc_id, h, lang FROM v_clean ORDER BY doc_id")
    },

    // Windowed (TTL) dedup gate (beyond-ref; TTL semantics from the
    // reference's reaper — reaper.c:49-352 — applied to the gate store):
    // one event per user per trailing day. The oracle's NOT EXISTS is the
    // exact window mirror; the whole feed flows through the same engine
    // root, so the CV carries all three batches across the restart.
    QDef(
      "q_dedup_stream_ttl",
      """SELECT e.event_id FROM events e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events p
        |  WHERE p.user_id = e.user_id AND p.event_id < e.event_id
        |    AND p.ts > e.ts - INTERVAL 1 DAY)
        |ORDER BY e.event_id""".stripMargin) {
      (s, dir) => ttlGateFor(s, dir).sql(
        "SELECT event_id FROM v_ttl ORDER BY event_id")
    },

    // Gate under the REAL Structured Streaming driver (beyond-ref;
    // reference anchor: worker.c:339-467 + test_crash_recovery.py): an
    // exactly-once dedup gate fed by a checkpointed readStream, stopped
    // mid-stream, engine-restarted, resumed from the same checkpoint with
    // new (duplicate-bearing) files. No duplicate or lost forwards across
    // the resume: every first occurrence delivered once, every copy
    // suppressed — DuckDB recomputes first-wins with c = 1.
    QDef(
      "q_gate_streaming",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 700000 AS doc_id, text
        |  FROM documents WHERE doc_id % 3 = 0
        |), firsts AS (
        |  SELECT min(doc_id) AS keep FROM corpus GROUP BY md5(text)
        |)
        |SELECT keep AS doc_id, CAST(1 AS BIGINT) AS c FROM firsts
        |ORDER BY doc_id""".stripMargin) {
      (s, dir) => gateStreamingFor(s, dir).sql(
        "SELECT doc_id, c FROM v_gst ORDER BY doc_id")
    },

    // EXECUTOR-BACKEND gates, oracle-gated end-to-end (see execGateFor):
    // an exact gate and a jaccard gate with their decision state on
    // executor-partitioned shards (no driver bloom / hot tier), declared
    // through DDL with backend = 'executor', catalog-replayed across a
    // mid-feed restart. Synthesized disjoint-token bodies make both
    // admitted sets doc_id arithmetic: every +600000 exact copy is
    // suppressed (md5 equality; jaccard signature estimate 1.0), every
    // base doc admitted.
    QDef(
      "q_dedup_stream_exec",
      "SELECT doc_id FROM documents ORDER BY doc_id") {
      (s, dir) => execGateFor(s, dir).sql(
        "SELECT doc_id FROM v_xg_d ORDER BY doc_id")
    },

    QDef(
      "q_neardup_stream_exec",
      "SELECT doc_id FROM documents ORDER BY doc_id") {
      (s, dir) => execGateFor(s, dir).sql(
        "SELECT doc_id FROM v_xg_j ORDER BY doc_id")
    },

    // Contamination gate with backend = 'executor' (see execGateFor): the
    // static reference-gram membership lives on SeenKind shards
    // (state_parts = 5), catalog-replayed across the mid-feed restart.
    // Reference = every 20th base doc; tokens are doc-disjoint, so the
    // suppressed set is exactly the reference docs + their +600000 copies.
    QDef(
      "q_contamination_stream_exec",
      """WITH ids AS (
        |  SELECT doc_id FROM documents
        |  UNION ALL
        |  SELECT doc_id + 600000 AS doc_id FROM documents WHERE doc_id % 4 = 0
        |)
        |SELECT doc_id FROM ids
        |WHERE NOT (doc_id < 600000 AND doc_id % 20 = 0)
        |  AND NOT (doc_id >= 600000 AND (doc_id - 600000) % 20 = 0)
        |ORDER BY doc_id""".stripMargin) {
      (s, dir) => execGateFor(s, dir).sql(
        "SELECT doc_id FROM v_xg_ct ORDER BY doc_id")
    },

    // NEAR-DUP gate (exactly-once jaccard) under the REAL Structured
    // Streaming driver with a mid-stream CRASH between the epoch spool and
    // its delivery marker, resumed on a fresh engine from the SAME
    // checkpoint (see neardupStreamingFor): the full-batch spool protocol
    // composed with checkpoint re-delivery against a seen-based store.
    // Bodies synthesized from doc_id (disjoint token sets), so suppression
    // is exactly the seeded copies and the oracle is doc_id arithmetic;
    // c = 1 everywhere pins exactly-once across the crash + resume.
    QDef(
      "q_neardup_streaming",
      """SELECT doc_id, CAST(1 AS BIGINT) AS c FROM documents
        |UNION ALL
        |SELECT doc_id + 950000 AS doc_id, CAST(1 AS BIGINT) AS c
        |FROM documents WHERE doc_id % 7 = 0
        |ORDER BY doc_id""".stripMargin) {
      (s, dir) => neardupStreamingFor(s, dir).sql(
        "SELECT doc_id, c FROM v_ngst ORDER BY doc_id")
    },

    // Stacked-pipeline MONITORING (beyond-ref; the reference's
    // stream_stats shape — stats.c:556, pipelinefuncs.c — extended with
    // per-stage funnel attrition): graft_gate_stats reports rows_in /
    // rows_out per gate, so the three-stage curation funnel is directly
    // queryable. Counters are session-scoped (they restart with the
    // engine, like the reference's proc_stats), so the mirror computes
    // the POST-RESTART batch's funnel — stage decisions still depend on
    // the persisted full-history stores.
    QDef(
      "q_gate_stats",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 20
        |  UNION ALL
        |  SELECT doc_id + 800000 AS doc_id, text FROM documents
        |  WHERE doc_id >= 20 AND doc_id % 5 = 0
        |), s1 AS (
        |  SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)
        |), s1docs AS (
        |  SELECT c.doc_id, c.text FROM corpus c JOIN s1 USING (doc_id)
        |), toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, ' '), x -> x <> '') AS t
        |  FROM s1docs
        |), grams AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM toks
        |), inv AS (
        |  SELECT doc_id, unnest(g) AS gram FROM grams
        |), overlap AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
        |  FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), sizes AS (
        |  SELECT doc_id, len(g) AS n FROM grams
        |), nearsup AS (
        |  SELECT DISTINCT o.j AS doc_id
        |  FROM overlap o
        |  JOIN sizes sa ON o.i = sa.doc_id
        |  JOIN sizes sb ON o.j = sb.doc_id
        |  WHERE CAST(o.inter AS DOUBLE) / (sa.n + sb.n - o.inter) >= 0.5
        |), reftoks AS (
        |  SELECT list_filter(regexp_split_to_array(text, ' '), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 20
        |), refgrams AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM reftoks
        |), contaminated AS (
        |  SELECT DISTINCT i.doc_id FROM inv i
        |  JOIN refgrams r ON i.gram = r.gram
        |), b3s1 AS (
        |  SELECT doc_id FROM s1docs WHERE doc_id >= 400
        |), b3s2 AS (
        |  SELECT doc_id FROM b3s1
        |  WHERE doc_id NOT IN (SELECT doc_id FROM nearsup)
        |), b3s3 AS (
        |  SELECT doc_id FROM b3s2
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |)
        |SELECT * FROM (
        |  SELECT 'pl_g1' AS gate,
        |         (SELECT count(*) FROM corpus WHERE doc_id >= 400) AS rows_in,
        |         (SELECT count(*) FROM b3s1) AS rows_out,
        |         CAST(1 AS BIGINT) AS lost_commits,
        |         CAST(0 AS BIGINT) AS pending_remote_drops
        |  UNION ALL
        |  SELECT 'pl_g2', (SELECT count(*) FROM b3s1),
        |         (SELECT count(*) FROM b3s2), CAST(0 AS BIGINT),
        |         CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT 'pl_g3', (SELECT count(*) FROM b3s2),
        |         (SELECT count(*) FROM b3s3), CAST(0 AS BIGINT),
        |         CAST(0 AS BIGINT)
        |) ORDER BY gate""".stripMargin) {
      // pending_remote_drops: executors a distributed drop sweep gave up
      // on (session-global, stamped on every row) — 0 on a healthy run
      (s, dir) => pipelineFor(s, dir).sql(
        """SELECT gate, rowsIn AS rows_in, rowsOut AS rows_out,
          |       lostCommits AS lost_commits,
          |       pendingRemoteDrops AS pending_remote_drops
          |FROM graft_gate_stats WHERE gate LIKE 'pl\_g%' ORDER BY gate""".stripMargin)
    },

    // Windowed (TTL) NEAR-DUP gate (beyond-ref; reaper.c TTL semantics on
    // the SimHash gate store): re-crawl admission — an in-window copy is
    // suppressed, an aged-out copy admitted, and a third copy suppressed
    // by the second's refreshed window. The oracle mirrors the window on
    // text equality (no natural Hamming-≤3 pairs at oracle SF — see the
    // fixture note); the feed crosses a mid-stream engine restart.
    QDef(
      "q_neardup_stream_ttl",
      """WITH corpus AS (
        |  SELECT doc_id, doc_id AS base, doc_id AS m FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, doc_id, doc_id + 30
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, doc_id, doc_id + 100
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, doc_id, doc_id + 130
        |  FROM documents WHERE doc_id % 4 = 0
        |)
        |SELECT c.doc_id FROM corpus c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM corpus p
        |  WHERE p.base = c.base AND p.doc_id < c.doc_id
        |    AND p.m > c.m - 60)
        |ORDER BY c.doc_id""".stripMargin) {
      (s, dir) => ndTtlGateFor(s, dir).sql(
        "SELECT doc_id FROM v_ndttl ORDER BY doc_id")
    },

    // All-exactly-once stacked pipeline (beyond-ref; microbatch.h:33-56
    // sync_commit parity across the WHOLE gate family): the q_gate_pipeline
    // funnel with delivery='exactly_once' on every stage, a forced crash
    // inside stage 2's epoch, an engine restart, and an upstream re-feed.
    // The counting CV turns any duplicate delivery into c=2 and any loss
    // into a missing row; DuckDB recomputes the funnel with every c = 1.
    QDef(
      "q_gate_pipeline_eo",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 20
        |  UNION ALL
        |  SELECT doc_id + 800000 AS doc_id, text FROM documents
        |  WHERE doc_id >= 20 AND doc_id % 5 = 0
        |), s1 AS (
        |  SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)
        |), s1docs AS (
        |  SELECT c.doc_id, c.text FROM corpus c JOIN s1 USING (doc_id)
        |), toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, ' '), x -> x <> '') AS t
        |  FROM s1docs
        |), grams AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM toks
        |), inv AS (
        |  SELECT doc_id, unnest(g) AS gram FROM grams
        |), overlap AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
        |  FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), sizes AS (
        |  SELECT doc_id, len(g) AS n FROM grams
        |), nearsup AS (
        |  SELECT DISTINCT o.j AS doc_id
        |  FROM overlap o
        |  JOIN sizes sa ON o.i = sa.doc_id
        |  JOIN sizes sb ON o.j = sb.doc_id
        |  WHERE CAST(o.inter AS DOUBLE) / (sa.n + sb.n - o.inter) >= 0.5
        |), reftoks AS (
        |  SELECT list_filter(regexp_split_to_array(text, ' '), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 20
        |), refgrams AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM reftoks
        |), contaminated AS (
        |  SELECT DISTINCT i.doc_id FROM inv i
        |  JOIN refgrams r ON i.gram = r.gram
        |)
        |SELECT s.doc_id, CAST(1 AS BIGINT) AS c FROM s1docs s
        |LEFT JOIN nearsup ns ON s.doc_id = ns.doc_id
        |LEFT JOIN contaminated ct ON s.doc_id = ct.doc_id
        |WHERE ns.doc_id IS NULL AND ct.doc_id IS NULL
        |ORDER BY s.doc_id""".stripMargin) {
      (s, dir) => pipelineEoFor(s, dir).sql(
        "SELECT doc_id, c FROM v_pl2 ORDER BY doc_id")
    },

    // Stacked-gate pipeline (beyond-ref; the osrel-chaining surface —
    // analyzer.c:776-830 — under gate load): exact dedup → Jaccard
    // near-dup → decontamination, all three DDL-declared and chained
    // sink-to-stream, with a mid-feed engine restart. The FULL admitted
    // set is DuckDB-recomputed: stage 1 is first-wins on md5, stage 2 cuts
    // the corpus's bimodal Jaccard gap (see pipelineFor — no natural pair
    // sits between 0.11 and 0.93, so the 0.5 oracle cut is exact), stage 3
    // is the deterministic reference-gram test.
    QDef(
      "q_gate_pipeline",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 20
        |  UNION ALL
        |  SELECT doc_id + 800000 AS doc_id, text FROM documents
        |  WHERE doc_id >= 20 AND doc_id % 5 = 0
        |), s1 AS (
        |  SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)
        |), s1docs AS (
        |  SELECT c.doc_id, c.text FROM corpus c JOIN s1 USING (doc_id)
        |), toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, ' '), x -> x <> '') AS t
        |  FROM s1docs
        |), grams AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM toks
        |), inv AS (
        |  SELECT doc_id, unnest(g) AS gram FROM grams
        |), overlap AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
        |  FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), sizes AS (
        |  SELECT doc_id, len(g) AS n FROM grams
        |), nearsup AS (
        |  SELECT DISTINCT o.j AS doc_id
        |  FROM overlap o
        |  JOIN sizes sa ON o.i = sa.doc_id
        |  JOIN sizes sb ON o.j = sb.doc_id
        |  WHERE CAST(o.inter AS DOUBLE) / (sa.n + sb.n - o.inter) >= 0.5
        |), reftoks AS (
        |  SELECT list_filter(regexp_split_to_array(text, ' '), x -> x <> '') AS t
        |  FROM documents WHERE doc_id < 20
        |), refgrams AS (
        |  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM reftoks
        |), contaminated AS (
        |  SELECT DISTINCT i.doc_id FROM inv i
        |  JOIN refgrams r ON i.gram = r.gram
        |)
        |SELECT s.doc_id FROM s1docs s
        |LEFT JOIN nearsup ns ON s.doc_id = ns.doc_id
        |LEFT JOIN contaminated ct ON s.doc_id = ct.doc_id
        |WHERE ns.doc_id IS NULL AND ct.doc_id IS NULL
        |ORDER BY s.doc_id""".stripMargin) {
      (s, dir) => pipelineFor(s, dir).sql(
        "SELECT doc_id FROM v_pl ORDER BY doc_id")
    },

    // Exactly-once dedup gate (delivery='exactly_once' DDL, beyond-ref;
    // reference anchor: stream_insert_level sync_commit, microbatch.h:33-56):
    // the fixture forces a crash between an epoch's store append and its
    // sink delivery, restarts the engine (bootstrap recovery delivers the
    // spooled epoch), and re-feeds the crashed batch — every admitted doc
    // must reach the sink EXACTLY once (the counting CV turns a duplicate
    // forward into c=2 and a loss into a missing row), which DuckDB
    // recomputes as first-wins with every count 1.
    QDef(
      "q_dedup_stream_eo",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000 AS doc_id, text
        |  FROM documents WHERE doc_id % 6 = 0
        |), firsts AS (
        |  SELECT min(doc_id) AS keep FROM corpus GROUP BY md5(text)
        |)
        |SELECT keep AS doc_id, CAST(1 AS BIGINT) AS c FROM firsts
        |ORDER BY doc_id""".stripMargin) {
      (s, dir) => eoGateFor(s, dir).sql(
        "SELECT doc_id, c FROM v_eo ORDER BY doc_id")
    },

    // Streaming SimHash near-dup gate (SimHashNearDupGate, beyond-ref):
    // the oracle-comparable slice is the SUPPRESSED seeded-copy set —
    // every +1000000 exact copy is Hamming distance 0 from its earlier
    // original, so all of them must be gated out; which NATURAL docs also
    // get suppressed depends on fingerprint hashing DuckDB can't
    // recompute, so that behavior is pinned by brute force in
    // SimHashNearDupGateSpec instead (the q_simhash_neardup split).
    QDef(
      "q_neardup_stream",
      """SELECT doc_id + 1000000 AS doc_id, lang
        |FROM documents WHERE doc_id % 2 = 0
        |ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val admitted = dedupGateFor(s, dir).overlay("v_nd_clean")
        val docs = Tables.documents(s, dir)
        docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"))
          .join(admitted.select(col("doc_id").as("a_id")),
            col("doc_id") === col("a_id"), "left_anti")
          .orderBy("doc_id")
    },

    // Streaming cosine near-dup gate (CosineNearDupGate, beyond-ref): the
    // FULL admitted set, oracle-brute-forced — "seen"-closed suppression
    // means admitted(v) ⇔ no earlier vector at cosine >= 0.99, a prefix
    // property DuckDB recomputes with an all-pairs join at this SF.
    QDef(
      "q_cosine_stream",
      """WITH corpus AS (
        |  SELECT vec_id, embedding, label FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 200000 AS vec_id, embedding, label
        |  FROM embeddings WHERE vec_id % 5 = 0
        |), sup AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])) >= 0.99
        |)
        |SELECT c.vec_id, c.label
        |FROM corpus c LEFT JOIN sup s ON c.vec_id = s.vec_id
        |WHERE s.vec_id IS NULL
        |ORDER BY c.vec_id""".stripMargin) {
      (s, dir) =>
        dedupGateFor(s, dir).overlay("v_cg_clean").orderBy("vec_id")
    },

    // Streaming MinHash/Jaccard near-dup gate (JaccardNearDupGate,
    // beyond-ref, DDL-declared through jaccard_gate(...) incl. the
    // mid-feed restart): the oracle-comparable slice is the SUPPRESSED
    // seeded-copy set — every +3000000 exact copy has an identical
    // signature (estimate 1.0), so all of them must be gated out; natural
    // near-pair suppression depends on signature hashing DuckDB can't
    // recompute and is pinned by JaccardNearDupGateSpec brute force.
    QDef(
      "q_jaccard_stream",
      """SELECT doc_id + 3000000 AS doc_id, lang
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val admitted = dedupGateFor(s, dir).overlay("v_mh_clean")
        val docs = Tables.documents(s, dir)
        docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"))
          .join(admitted.select(col("doc_id").as("a_id")),
            col("doc_id") === col("a_id"), "left_anti")
          .orderBy("doc_id")
    },

    // Streaming benchmark-decontamination gate (ContaminationGate,
    // beyond-ref — the incremental q_decontaminate): docs < 20 are the
    // eval/reference set; any streamed doc sharing a word 3-gram with it
    // is suppressed. Matching is exact (xxhash64 of the gram — collision
    // probability vanishing and deterministic), so the FULL admitted set
    // is DuckDB-recomputable; the fixture's mid-feed restart also gates
    // the persisted-reference bootstrap path.
    QDef(
      "q_contamination_stream",
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         list_filter(regexp_split_to_array(text, ' '), x -> x <> '') AS t
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g3
        |  FROM toks
        |), ref AS (
        |  SELECT DISTINCT unnest(g3) AS g FROM grams WHERE doc_id < 20
        |), hits AS (
        |  SELECT DISTINCT s.doc_id
        |  FROM (SELECT doc_id, unnest(g3) AS g FROM grams WHERE doc_id >= 20) s
        |  JOIN ref r ON s.g = r.g
        |)
        |SELECT d.doc_id, d.lang
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id >= 20 AND h.doc_id IS NULL
        |ORDER BY d.doc_id""".stripMargin) {
      (s, dir) =>
        dedupGateFor(s, dir).overlay("v_ct_clean").orderBy("doc_id")
    })
}
