package graft.cv

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.StreamingQuery

/** The engine: streams + continuous views + the ingest/read lifecycle —
  * the Spark re-expression of the reference's worker/combiner/overlay
  * pipeline (SURVEY §3.2):
  *
  *   insertInto(stream, batch)                        [stream INSERT]
  *     → per reading CV: plan.workerPartials(batch)   [worker: partial agg,
  *        one shuffle on the group key ≈ worker→combiner hash routing]
  *     → StateStore.upsert(partials, reAggs)          [combiner: merge with
  *        on-disk groups, bucket-level rewrite ≈ PhysicalGroupLookup+upsert]
  *     → changes append (old/new/delta)               [output stream emit]
  *
  *   overlay(cv)          → finalize(state)           [read-time overlay view]
  *   combine(cv, keys)    → reAgg+finalize at coarser grouping
  *   expireTtl(cv)        → state delete              [reaper]
  *
  * Sliding windows follow the reference design (analyzer.c:1672-1768): the
  * worker groups into step buckets (date_round(ts, step)); the overlay
  * filters live buckets at read time and re-combines — results change
  * between reads with no new data, and storage expiry (TTL reaper) is
  * decoupled from read-time expiry (sw_expiration.sql semantics).
  */
final class ContViewEngine(val spark: SparkSession, val root: String,
    ingestShufflePartitions: Int = 8,
    smallStateBytes: Long = StateStore.DefaultSmallStateBytes,
    maxAppendSegments: Int = 64) {

  import CvPlanner._

  /** Planning runs on the caller's session (stream and dimension temp
    * views live there); all ingest ACTIONS run on a derived session tuned for
    * micro-batch-sized jobs: a handful of shuffle partitions (a micro-batch
    * is bounded by batch_size/batch_mem — reference config.c:357-372 — not
    * by cluster width; size this up for real deployments) and no AQE (its
    * per-query-stage scheduling adds more latency than it saves on jobs
    * this small). The caller's session keeps its own settings for ad-hoc
    * reads of overlays/state.
    */
  private val exec: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", ingestShufflePartitions.toString)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // state parquet must carry INT64 timestamps (not INT96): the TTL
    // reaper's bucket pruning reads footer min/max statistics of the ttl
    // column, and INT96 columns have none
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    s
  }

  final case class StreamDef(name: String, schema: StructType,
      leafIds: Seq[org.apache.spark.sql.catalyst.expressions.ExprId])
  final case class CvHandle(plan: CvPlan, store: StateStore, streamName: String,
      active: Boolean = true, changes: Boolean = true)

  final case class CtHandle(
      plan: CtPlan,
      streamName: String,
      sinkStream: Option[String],
      outputFunc: Option[DataFrame => Unit],
      active: Boolean = true,
      changes: Boolean = true)

  private val streams = mutable.LinkedHashMap.empty[String, StreamDef]
  private val views = mutable.LinkedHashMap.empty[String, CvHandle]
  private val readers = mutable.LinkedHashMap.empty[String, mutable.Buffer[String]] // stream → CQs
  private val transforms = mutable.LinkedHashMap.empty[String, CtHandle]
  // name → definition signature, for idempotent re-creates: replayed setup
  // code (or a catalog replay followed by unconditional creates) must not
  // register the same CQ twice — a duplicate readers entry would run
  // ingestBatch twice concurrently against the SAME StateStore.
  private val defSignatures = mutable.HashMap.empty[String, String]
  // name → original SELECT text, for the user-facing catalog views
  // (reference pipelinedb.views/transforms keep the deparsed query)
  private val defs = mutable.HashMap.empty[String, String]

  graft.functions.GraftFunctions.register(spark)
  graft.functions.GraftFunctions.register(exec)
  loadCatalog()

  // ---- catalog persistence (reference pipelinedb.cont_query +
  // pipelinedb.stream catalogs, pipeline_query.h:23-67) ----

  private case class CatalogEntry(
      kind: String, name: String, payload: String, // stream: schema DDL; cv/ct: SELECT sql
      sw: String, swColumn: String, stepFactor: Double,
      ttl: String, ttlColumn: String, sink: String, changes: Boolean)

  // scheme-portable store ops (plain root = java.nio; URI root = Hadoop
  // FileSystem — see graft.io.StoreFs). The CV tier (catalog journal,
  // matrel state, tick marks, renames, drops) is fully routed; the gate
  // tier's stores remain POSIX-rooted (GateStore staging writes).
  private def sfs: graft.io.StoreFs = graft.io.StoreFs.forRoot(root)

  private def catalogPath = s"$root/_catalog.jsonl"
  private var loading = false
  // set while a compound DDL (ALTER SCHEMA RENAME) performs constituent
  // renames: only the ONE compound entry is persisted, so replay doesn't
  // apply the parts twice
  private var suppressCatalog = false

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def appendCatalog(e: CatalogEntry): Unit = if (!loading && !suppressCatalog) {
    sfs.mkdirs(root)
    val line = s"""{"kind":${q(e.kind)},"name":${q(e.name)},"payload":${q(e.payload)},""" +
      s""""sw":${q(e.sw)},"swColumn":${q(e.swColumn)},"stepFactor":${e.stepFactor},""" +
      s""""ttl":${q(e.ttl)},"ttlColumn":${q(e.ttlColumn)},"sink":${q(e.sink)},"changes":${e.changes}}"""
    sfs.appendLine(catalogPath, line)
  }

  /** Rebuild streams/CVs/CTs from the persisted catalog — definitions (and
    * their state tables, which live under the same root) survive restarts.
    */
  private def loadCatalog(): Unit = {
    // a crash inside HadoopStoreFs's rewrite-append leaves only the
    // .prev aside — replay from it rather than forgetting every
    // definition (the same fallback StateStore.readManifest carries)
    val path =
      if (sfs.exists(catalogPath)) catalogPath
      else if (sfs.exists(catalogPath + ".prev")) catalogPath + ".prev"
      else return
    loading = true
    try {
      val fieldRe = """"(\w+)":(?:"((?:[^"\\]|\\.)*)"|([0-9.]+|true|false))""".r
      // left-to-right escape decoding: a sequential replace chain corrupts
      // payloads containing literal backslashes (\\n would decode to
      // backslash+newline) and never handles the \uXXXX forms q() writes
      def unescape(s: String): String = {
        val sb = new java.lang.StringBuilder(s.length)
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          if (c == '\\' && i + 1 < s.length) {
            s.charAt(i + 1) match {
              case '"' => sb.append('"'); i += 2
              case '\\' => sb.append('\\'); i += 2
              case 'n' => sb.append('\n'); i += 2
              case 'r' => sb.append('\r'); i += 2
              case 't' => sb.append('\t'); i += 2
              case 'u' if i + 5 < s.length =>
                sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
                i += 6
              case other => sb.append(other); i += 2
            }
          } else { sb.append(c); i += 1 }
        }
        sb.toString
      }
      sfs.readString(path).linesIterator.foreach { line =>
        val fields = fieldRe.findAllMatchIn(line).map { m =>
          val raw = Option(m.group(2)).getOrElse(m.group(3))
          m.group(1) -> unescape(raw)
        }.toMap
        // A single unreplayable definition (e.g. one rejected by a
        // validation rule added after it was created) must not brick the
        // whole engine at restart — skip it loudly and load the rest, like
        // the reference's per-CQ error isolation in the scheduler.
        try fields("kind") match {
          case "stream" =>
            createStream(fields("name"), StructType.fromDDL(fields("payload")))
          case "view" =>
            val opts = CvOptions(
              sw = Option(fields("sw")).filter(_.nonEmpty),
              swColumn = fields("swColumn"),
              stepFactor = fields("stepFactor").toDouble,
              ttl = Option(fields("ttl")).filter(_.nonEmpty),
              ttlColumn = Option(fields("ttlColumn")).filter(_.nonEmpty),
              pk = fields.get("sink").filter(_.nonEmpty))
            createContView(fields("name"), fields("payload"), opts,
              emitChanges = fields("changes").toBoolean)
          case "rename" =>
            renameContView(fields("name"), fields("payload"))
          case "rename_stream" =>
            renameStream(fields("name"), fields("payload"))
          case "rename_transform" =>
            renameContTransform(fields("name"), fields("payload"))
          case "schema_create" => createSchema(fields("name"))
          // members were already dropped by their own replayed entries
          case "schema_drop" => dropSchema(fields("name"))
          case "schema_rename" =>
            renameSchema(fields("name"), fields("payload"))
          case "transform" =>
            createContTransform(fields("name"), fields("payload"),
              sinkStream = Option(fields("sink")).filter(_.nonEmpty),
              emitChanges = fields("changes").toBoolean)
          // declared dedup gate: the spec re-parses and the gate's
          // bootstrap re-derives its filters from the persisted store, so
          // suppression state survives the restart end-to-end
          case "gate" =>
            val gateOpts = fields("swColumn").split(",").iterator
              .filter(_.contains("=")).map { kv =>
                val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1))
              }.toMap
            createGateTransform(fields("name"), fields("payload"),
              fields("sw"), fields("sink"),
              ttl = Option(fields("ttl")).filter(_.nonEmpty),
              ttlColumn = Option(fields("ttlColumn")).filter(_.nonEmpty),
              residentMb = gateOpts.get("resident_mb").map(_.toLong),
              backendOpt = gateOpts.get("backend"),
              statePartsOpt = gateOpts.get("state_parts").map(_.toInt))
          case "activate" => activate(fields("name"))
          case "deactivate" => deactivate(fields("name"))
          case "drop" => fields("payload") match {
            case "view" => dropContView(fields("name"))
            case "transform" => dropContTransform(fields("name"))
            case "stream" => dropStream(fields("name"))
          }
          case "set_ttl" =>
            setTtl(fields("name"), Option(fields("ttl")).filter(_.nonEmpty),
              Option(fields("ttlColumn")).filter(_.nonEmpty))
          case "index" =>
            createIndex(fields("name"), fields("payload").split(",").toSeq: _*)
          case "constraint" =>
            addMatrelConstraint(fields("name"), fields("sink"), fields("payload"))
          case _ => ()
        } catch {
          case e: Exception =>
            System.err.println(s"[graft] catalog replay: skipping " +
              s"${fields.getOrElse("kind", "?")} '${fields.getOrElse("name", "?")}': " +
              e.getMessage)
        }
      }
    } finally loading = false
  }

  /** SQL front door (reference commands.c:219-253 + the psql read path):
    * CREATE STREAM / CREATE [CONTINUOUS] VIEW WITH (...) / CREATE CONTINUOUS
    * TRANSFORM / ACTIVATE / DEACTIVATE / INSERT / DROP, parsed by [[CvDdl]]
    * into the API calls below — plus plain SELECT, routed to [[query]] so
    * CVs, `<cv>_mrel` matrels, and `output_of('cv')` are queryable by name.
    * DDL statements return an empty frame; SELECT returns its result.
    */
  def sql(stmt: String): DataFrame = {
    if ("""(?is)^\s*(SELECT|WITH)\b""".r.findFirstIn(stmt).isDefined) query(stmt)
    else { runDdl(stmt); spark.emptyDataFrame }
  }

  /** SELECT read path: binds every referenced CV overlay, `<cv>_mrel`
    * matrel, and `output_of('cv')` changes read to session temp views, then
    * delegates to Spark SQL. The reference's equivalents are the overlay
    * view, the matrel relation, and the osrel rewrite (analyzer.c:776-830);
    * `combine(col)`/`finalize(col)` over `_mrel` columns resolve through the
    * registered SQL functions and the state columns' combine-kind metadata.
    */
  def query(selectSql0: String): DataFrame = synchronized {
    // schema-qualified CV/stream/matrel spellings → their session bindings
    // (temp-view names cannot contain dots); unknown schemas pass through
    val selectSql = rewriteQualifiedRefs(selectSql0)
    // Temp-view bindings made for THIS query: dropped again once the
    // statement is analyzed, so the session catalog is not left littered
    // with stale engine bindings. Bindings that already existed (an explicit
    // registerOverlay, the stream registrations) are refreshed in place.
    // A same-named temp view the engine does NOT own is a user view —
    // clobbering it silently would swap their data out from under them.
    // The whole bind→analyze→drop sequence holds the engine lock: two
    // concurrent query() calls would otherwise drop each other's transient
    // bindings mid-analysis (and race on the ownedTempViews set). Only
    // ANALYSIS is serialized — spark.sql returns an analyzed lazy frame,
    // and execution happens after the lock is released.
    val created = mutable.Buffer.empty[String]
    def bind(name: String)(register: => Unit): Unit = {
      val existed = spark.catalog.tableExists(name)
      if (existed && !ownedTempViews.contains(name))
        throw new IllegalStateException(
          s"cannot bind '$name' for a continuous-query read: a user temp view " +
            "with that name already exists in this session")
      if (!existed) created += name
      register
      ownedTempViews += name
    }
    // monitoring relations are SQL-addressable (the reference's
    // pipelinedb.views / query_stats / … catalogs, sql:77-108 + 2681-2800):
    // accept the reference's qualified spelling as a drop-in alias. The
    // rewrite runs only OUTSIDE string literals (escape-aware split): a
    // literal containing 'pipelinedb.views' is data, not a reference.
    val monitorAliased = mapOutsideLiterals(selectSql,
      ("""(?i)(?<![\w.])pipelinedb\.""" +
        """(views|transforms|query_stats|proc_stats|stream_stats|stream_readers|db_stats)\b""").r
        .replaceAllIn(_, m => "graft_" + m.group(1).toLowerCase))
    // output_of('cv') reads bind to the changes table — NOT the `<cv>_osrel`
    // stream registration, which is an empty relation whose attribute ids
    // downstream CQ planning depends on (clobbering it would break chaining)
    val rewritten = """(?i)output_of\s*\(\s*'([\w.]+)'\s*\)""".r
      .replaceAllIn(monitorAliased, m => {
        val cv = normalizeName(m.group(1), "continuous query")
        val view = "__graft_read_" + bindName(osrelName(cv))
        val changes = outputOf(cv).getOrElse(throw new IllegalStateException(
          s"continuous query $cv has no output stream to read"))
        bind(view) {
          org.apache.spark.sql.GraftBridge.ofRows(spark,
            org.apache.spark.sql.GraftBridge.analyzed(changes))
            .createOrReplaceTempView(view)
        }
        view
      })
    // catalog keys are dotted for non-public schemas; the rewritten SQL
    // spells them as their __gns__ bindings — match on the binding.
    // String literals are blanked first: a relation name appearing INSIDE a
    // literal (`WHERE stream = 'ev'`) is data, not a table reference — it
    // must neither trip the stream wall nor force a binding. The literal
    // pattern honors backslash escapes ('it\'s') and '' doubling.
    val scanText = ContViewEngine.SqlLiteral.replaceAllIn(rewritten, "''")
    def mentioned(key: String): Boolean =
      ("""(?i)(?<![\w.])""" + java.util.regex.Pattern.quote(bindName(key)) + """(?![\w.])""").r
        .findFirstIn(scanText).isDefined
    // Streams (incl. `<cv>_osrel` output streams) are unstored event
    // sources only continuous queries may scan — an ad-hoc SELECT would
    // silently read the empty stream relation and return nothing. The
    // reference rejects it the same way (typed_streams.sql:6-7; ad-hoc
    // change reads go through output_of('cv') instead).
    streams.keys.foreach { s =>
      if (mentioned(s))
        throw new IllegalArgumentException(
          s"stream '$s' can only be read by continuous queries; " +
            (if (s.endsWith("_osrel"))
               s"use output_of('${s.stripSuffix("_osrel")}') for ad-hoc change reads"
             else "create a continuous view or transform over it"))
    }
    views.keys.foreach { v =>
      if (mentioned(v)) bind(bindName(v))(registerOverlay(v))
      if (mentioned(s"${v}_mrel")) {
        // reference matrels name the state column after the target-list
        // column (avg → `av` holds the transition state): expose single-state
        // columns under their plain names; multi-state internals (decomposed
        // scalar-over-aggregate outputs) keep the __state_ spelling. The
        // rename is an attribute alias, so the combine-kind metadata that
        // SQL combine()/finalize() resolve against survives.
        val h = views(v)
        val owned = h.plan.singleOwnedStates
        val df = stateOf(v)
        val renamed = df.columns.foldLeft(df) { (d, c) =>
          owned.get(c) match {
            case Some(plain) if !df.columns.contains(plain) =>
              d.withColumnRenamed(c, plain)
            case _ => d
          }
        }
        bind(bindName(v) + "_mrel")(
          renamed.createOrReplaceTempView(bindName(v) + "_mrel"))
      }
    }
    // monitoring views: bound on demand as point-in-time snapshots (the
    // reference's stats catalogs are live views; a SELECT here re-snapshots
    // per statement, which is the same observable granularity)
    val monitors: Seq[(String, () => DataFrame)] = Seq(
      "graft_views" -> (() => viewsCatalog()),
      "graft_transforms" -> (() => transformsCatalog()),
      "graft_query_stats" -> (() => stats()),
      "graft_proc_stats" -> (() => procStats()),
      "graft_stream_stats" -> (() => streamStats()),
      "graft_stream_readers" -> (() => streamReaders()),
      "graft_gate_stats" -> (() => gateStats()),
      "graft_db_stats" -> (() => dbStats()))
    monitors.foreach { case (nm, mk) =>
      // a user CV/CT/stream that happens to carry a monitoring name wins:
      // its binding (made above) must not be shadowed by the stats snapshot
      val userOwns = views.contains(nm) || transforms.contains(nm) || streams.contains(nm)
      if (!userOwns &&
          ("""(?i)(?<![\w.])""" + nm + """(?![\w.])""").r.findFirstIn(scanText).isDefined)
        bind(nm)(mk().createOrReplaceTempView(nm))
    }
    // spark.sql analyzes eagerly, so the bindings created for this statement
    // are no longer needed once it returns — the analyzed plan holds the
    // resolved relations
    try spark.sql(rewritten)
    finally created.foreach { n =>
      spark.catalog.dropTempView(n); ownedTempViews -= n
    }
  }

  // Session temp-view names this engine registered (stream registrations,
  // overlays, transient query() bindings) — anything else with a colliding
  // name belongs to the user and must not be clobbered.
  // lazy: createStream touches this during the constructor's catalog replay,
  // before later-declared fields would otherwise initialize
  private lazy val ownedTempViews = mutable.Set.empty[String]

  private def runDdl(ddl: String): Unit = CvDdl.parse(ddl) match {
    case CvDdl.CreateStream(name, schemaDdl) =>
      createStream(name, StructType.fromDDL(schemaDdl))
    case CvDdl.CreateView(name, select, opts, changes) =>
      createContView(name, select, opts, emitChanges = changes); ()
    case CvDdl.CreateTransform(name, select, sink, changes) =>
      sink.foreach { s => require(streams.contains(normalizeName(s, "stream")),
        s"outputfunc insert_into_stream('$s'): unknown stream $s") }
      createContTransform(name, select, sinkStream = sink, emitChanges = changes); ()
    case CvDdl.CreateGateTransform(name, select, gateSpec, sink, ttl, ttlCol,
        residentMb, backendOpt, statePartsOpt) =>
      createGateTransform(name, select, gateSpec, sink, ttl, ttlCol,
        residentMb, backendOpt, statePartsOpt); ()
    case CvDdl.Rename(name0, newName) =>
      val name = normalizeName(name0, "continuous query")
      if (transforms.contains(name)) renameContTransform(name, newName)
      else renameContView(name, newName)
    case CvDdl.RenameStream(name, newName) =>
      renameStream(normalizeName(name, "stream"), newName)
    case CvDdl.AlterViewModify(name0, _) =>
      // commands.c:382-389: AlterTableStmt-encoded changes (column defaults)
      // are refused on live CVs; on a missing relation the resolver's error
      // wins, matching cont_alter.sql:7's post-rename "does not exist"
      val name = normalizeName(name0, "continuous view")
      if (views.contains(name) || transforms.contains(name))
        throw new IllegalArgumentException("continuous views cannot be modified")
      throw new IllegalArgumentException(s"relation \"$name0\" does not exist")
    case CvDdl.AddConstraint(table, conName, check) =>
      addMatrelConstraint(mrelTarget("ALTER TABLE", table), conName, check)
    case CvDdl.CreateSchema(name) => createSchema(name)
    case CvDdl.DropSchema(name, cascade) => dropSchema(name, cascade)
    case CvDdl.RenameSchema(name, newName) => renameSchema(name, newName)
    case CvDdl.Activate(name) => activate(normalizeName(name, "continuous query"))
    case CvDdl.Deactivate(name) => deactivate(normalizeName(name, "continuous query"))
    case CvDdl.Drop(kind, name0) =>
      val name = normalizeName(name0, kind)
      kind match {
      case "view" if views.contains(name) => dropContView(name)
      case "view" if transforms.contains(name) => dropContTransform(name)
      case "view" => throw new IllegalArgumentException(s"unknown continuous query $name")
      case "transform" => dropContTransform(name)
      case _ => dropStream(name)
    }
    case CvDdl.Insert(name0, columns, valuesSql)
        if normalizeName(name0, "relation").endsWith("_mrel") &&
          views.contains(normalizeName(name0, "relation").stripSuffix("_mrel")) =>
      // INSERT INTO <cv>_mrel (cols) VALUES … — direct state insert,
      // honored only under matrels_writable (cont_matrel.sql:7,35-36)
      val name = normalizeName(name0, "relation")
      val cols = columns.getOrElse(throw new IllegalArgumentException(
        s"INSERT INTO $name requires an explicit column list"))
      val df = spark.sql(s"SELECT * FROM (VALUES $valuesSql) AS t(${cols.mkString(", ")})")
      insertMatrel(name.stripSuffix("_mrel"), df); ()
    case CvDdl.Insert(name0, columns, valuesSql) =>
      val name = normalizeName(name0, "stream")
      require(streams.contains(name), s"unknown stream $name")
      val schema = streams(name).schema
      val cols = columns.getOrElse(
        schema.fieldNames.filterNot(_ == "arrival_timestamp").toSeq)
      cols.foreach(c => require(schema.fieldNames.contains(c),
        s"stream $name has no column $c"))
      // VALUES rows analyzed by Catalyst as an inline table (expressions
      // allowed, like the reference's stream_exprs.sql inserts); missing
      // stream columns default to NULL with cast coercion
      // (stream_fdw.c:270-438 semantics)
      var df = spark.sql(s"SELECT * FROM (VALUES $valuesSql) AS t(${cols.mkString(", ")})")
      schema.fields.filterNot(f => cols.contains(f.name) || f.name == "arrival_timestamp")
        .foreach(f => df = df.withColumn(f.name, lit(null).cast(f.dataType)))
      insertInto(name, df)
    case CvDdl.InsertSelect(name0, columns, select) =>
      val name = normalizeName(name0, "stream")
      require(streams.contains(name), s"unknown stream $name")
      val schema = streams(name).schema
      var df = spark.sql(select)
      // explicit column list: SELECT outputs map to the named stream
      // columns positionally (INSERT INTO s (k, x) SELECT a, b FROM t)
      columns.foreach { cols =>
        cols.foreach(c => require(schema.fieldNames.contains(c),
          s"stream $name has no column $c"))
        require(df.columns.length == cols.length,
          s"INSERT INTO $name (${cols.mkString(", ")}): SELECT returns " +
            s"${df.columns.length} columns, expected ${cols.length}")
        df = df.toDF(cols: _*)
      }
      schema.fields.filterNot(f =>
          df.columns.contains(f.name) || f.name == "arrival_timestamp")
        .foreach(f => df = df.withColumn(f.name, lit(null).cast(f.dataType)))
      insertInto(name, df)
    case CvDdl.CreateIndex(view, cols) =>
      // the reference indexes the mrel through the overlay name (CREATE
      // INDEX … ON test_cont_index0 …, cont_index.sql:5) — accept either
      createIndex(normalizeName(view, "relation").stripSuffix("_mrel"), cols: _*)
    case CvDdl.Update(table, set, where) =>
      updateMatrel(mrelTarget("UPDATE", table), set, where); ()
    case CvDdl.Delete(table, where) =>
      deleteMatrel(mrelTarget("DELETE", table), where); ()
  }

  /** `<cv>_mrel` → cv, for the direct-DML statements; anything else is not
    * a writable relation in this engine (streams take INSERT, not
    * UPDATE/DELETE; overlays are views).
    */
  private def mrelTarget(verb: String, table0: String): String = {
    val table = normalizeName(table0, "relation")
    val cv = table.stripSuffix("_mrel")
    require(table.endsWith("_mrel") && views.contains(cv),
      s"$verb targets must be a continuous view's materialization table " +
        s"(<cv>_mrel); got '$table'")
    cv
  }

  /** `FROM output_of('cv')` → the CQ's registered output stream — the
    * reference's RewriteFromClause (analyzer.c:776-830). Purely textual;
    * the definition keeps the user's spelling in the catalog.
    */
  private def rewriteOutputOf(sql: String): String =
    """(?i)output_of\s*\(\s*'([\w.]+)'\s*\)""".r
      .replaceAllIn(sql, m => osrelName(m.group(1)))

  /** CREATE FOREIGN TABLE s (...) SERVER pipelinedb analogue: registers the
    * stream schema as an empty relation so CV SQL analyzes against it.
    * `arrival_timestamp` is appended implicitly (pipeline_stream.c:101-132).
    */
  def createStream(name0: String, schema: StructType): Unit = {
    val name = normalizeName(name0, "stream")
    // streams accept NULLs in any column (missing INSERT fields default to
    // NULL — stream_fdw.c:270-438), and batches often arrive from parquet
    // where nothing is NOT NULL: normalize recursively so batch-to-leaf
    // coercion casts never fight over nullability
    val nullable = asNullable(schema).asInstanceOf[StructType]
    val withArrival =
      if (nullable.fieldNames.contains("arrival_timestamp")) nullable
      else nullable.add("arrival_timestamp", "timestamp")
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), withArrival)
      .createOrReplaceTempView(bindName(name))
    ownedTempViews += bindName(name)
    // capture the registered view's leaf attribute ids — they uniquely
    // identify this stream in any analyzed CV/CT plan (two streams may
    // share a schema, so names alone cannot disambiguate)
    val leafIds = org.apache.spark.sql.GraftBridge.analyzed(spark.table(bindName(name)))
      .collect { case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => lr }
      .head.output.map(_.exprId)
    streams(name) = StreamDef(name, withArrival, leafIds)
    readers.getOrElseUpdate(name, mutable.Buffer.empty)
    appendCatalog(CatalogEntry("stream", name, withArrival.toDDL, "", "", 0, "", "", "", changes = false))
  }

  private def asNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = asNullable(a.elementType))
      case m: MapType => m.copy(valueType = asNullable(m.valueType))
      case other => other
    }
  }

  // ---- schemas / namespaces (cont_view_namespace.sql) ----
  //
  // Catalog keys are canonical: "base" for the default schema and
  // "schema.base" otherwise; "public.x" normalizes to "x" (the reference's
  // search_path default). Because the qualified key IS the dotted spelling,
  // every name-taking API accepts qualified names with no extra plumbing —
  // only the session temp-view layer needs sanitized bindings (Spark
  // temp-view names cannot contain dots).

  // lazy: the constructor's catalog replay touches this before
  // later-declared fields would otherwise initialize
  private lazy val schemas = mutable.Set("public")

  /** Registered schema names ("public" is always present). */
  def schemaNames: Seq[String] = synchronized(schemas.toSeq.sorted)

  /** Registered object names, as canonical catalog keys ("base" or
    * "schema.base") — the programmatic spelling of the catalog views.
    */
  def viewNames: Seq[String] = synchronized(views.keys.toSeq)
  def transformNames: Seq[String] = synchronized(transforms.keys.toSeq)
  def streamNames: Seq[String] = synchronized(streams.keys.toSeq)

  def createSchema(name: String): Unit = synchronized {
    require(name.matches("""\w+"""), s"invalid schema name '$name'")
    require(!schemas.contains(name), s"schema \"$name\" already exists")
    schemas += name
    appendCatalog(CatalogEntry("schema_create", name, "", "", "", 0, "", "", "", changes = false))
  }

  /** DROP SCHEMA [CASCADE]: without CASCADE the schema must be empty; with
    * it, contained CQs and streams drop first (reference DROP SCHEMA
    * semantics, cont_view_namespace.sql:24-29).
    */
  def dropSchema(name: String, cascade: Boolean = false): Unit = synchronized {
    require(name != "public", "cannot drop schema public")
    require(schemas.contains(name), s"schema \"$name\" does not exist")
    val pref = name + "."
    def members: Seq[String] = (transforms.keys ++ views.keys ++ streams.keys)
      .filter(k => k.startsWith(pref) && !k.endsWith("_osrel")).toSeq.distinct
    val initial = members
    if (initial.nonEmpty) {
      require(cascade,
        s"schema $name is not empty (${initial.mkString(", ")}); use DROP SCHEMA ... CASCADE")
      // Validate BEFORE mutating: a member is undroppable iff a CQ outside
      // the schema reads one of its streams (the member itself, or a CQ
      // member's output stream). Failing here leaves the schema untouched —
      // no half-dropped members, no persisted partial catalog entries.
      initial.foreach { m =>
        val streamKeys =
          (if (streams.contains(m)) Seq(m) else Nil) ++
            (if (views.contains(m) || transforms.contains(m)) Seq(osrelName(m)) else Nil)
        streamKeys.foreach { sk =>
          val external = readers.getOrElse(sk, mutable.Buffer.empty)
            .filterNot(r => r.startsWith(pref))
          require(external.isEmpty, s"cannot drop schema $name: $sk is read by " +
            s"continuous queries outside it: ${external.mkString(", ")}")
        }
      }
      // drop to fixpoint: transforms unwind before the views/streams they
      // read; in-schema dependency order resolves across passes
      var progress = true
      var firstFailure: Option[Exception] = None
      while (progress) {
        progress = false
        members.foreach { m =>
          try {
            if (transforms.contains(m)) { dropContTransform(m); progress = true }
            else if (views.contains(m)) { dropContView(m); progress = true }
            else if (streams.contains(m)) { dropStream(m); progress = true }
            firstFailure = None // ordering failures clear once a pass succeeds
          } catch {
            case e: Exception => if (firstFailure.isEmpty) firstFailure = Some(e)
          }
        }
      }
      if (members.nonEmpty)
        throw new IllegalStateException(
          s"DROP SCHEMA $name CASCADE stalled with ${members.mkString(", ")} remaining",
          firstFailure.orNull)
    }
    schemas -= name
    appendCatalog(CatalogEntry("schema_drop", name, "", "", "", 0, "", "", "", changes = false))
  }

  /** ALTER SCHEMA old RENAME TO new — every contained stream, CV and CT
    * follows (the reference gets this for free from relid-based catalogs;
    * here the per-object rename machinery re-keys them).
    */
  def renameSchema(oldName: String, newName: String): Unit = synchronized {
    require(oldName != "public", "cannot rename schema public")
    require(schemas.contains(oldName), s"schema \"$oldName\" does not exist")
    require(newName.matches("""\w+"""), s"invalid schema name '$newName'")
    require(!schemas.contains(newName), s"schema \"$newName\" already exists")
    schemas += newName
    val pref = oldName + "."
    def move(k: String) = newName + "." + k.stripPrefix(pref)
    suppressCatalog = true
    try {
      // plain streams first: CV/CT handles re-point their streamName before
      // the CQs themselves rename; osrel streams move with their CQ
      streams.keys.filter(k => k.startsWith(pref) && !k.endsWith("_osrel")).toSeq
        .foreach(k => renameStream(k, move(k)))
      views.keys.filter(_.startsWith(pref)).toSeq
        .foreach(k => renameContView(k, move(k)))
      transforms.keys.filter(_.startsWith(pref)).toSeq
        .foreach(k => renameContTransform(k, move(k)))
    } finally suppressCatalog = false
    schemas -= oldName
    appendCatalog(CatalogEntry("schema_rename", oldName, newName, "", "", 0, "", "", "", changes = false))
  }

  private def schemaOf(key: String): String = {
    val i = key.indexOf('.'); if (i < 0) "public" else key.substring(0, i)
  }
  private def baseOf(key: String): String = {
    val i = key.indexOf('.'); if (i < 0) key else key.substring(i + 1)
  }

  /** Canonical catalog key for a possibly schema-qualified name. The schema
    * must exist (cont_view_namespace.sql:4: CREATE VIEW nonexistent.cv is a
    * creation-time error).
    */
  private def normalizeName(name: String, kind: String): String = name.trim.split('.') match {
    case Array(base) =>
      require(base.matches("""\w+"""), s"invalid $kind name '$name'")
      base
    case Array(sch, base) =>
      require(sch.matches("""\w+""") && base.matches("""\w+"""),
        s"invalid $kind name '$name'")
      require(synchronized(schemas.contains(sch)), s"schema \"$sch\" does not exist")
      if (sch == "public") base else s"$sch.$base"
    case _ => throw new IllegalArgumentException(
      s"invalid $kind name '$name' (expected [schema.]name)")
  }

  /** Session temp-view binding for a catalog key (temp-view names cannot
    * contain dots): `s.x` binds as `__gns__s__x`.
    */
  private def bindName(key: String): String =
    if (key.indexOf('.') < 0) key else "__gns__" + key.replace(".", "__")

  /** Rewrite schema-qualified references in SQL to their temp-view
    * bindings, outside string literals. Only KNOWN schema names rewrite, so
    * genuine db.table spellings against real Spark catalogs pass through.
    */
  /** Apply `f` to the non-literal segments of a SQL text; string literals
    * pass through untouched (see [[ContViewEngine.SqlLiteral]]).
    */
  private def mapOutsideLiterals(sqlText: String, f: String => String): String = {
    val sb = new StringBuilder
    var last = 0
    for (m <- ContViewEngine.SqlLiteral.findAllMatchIn(sqlText)) {
      sb.append(f(sqlText.substring(last, m.start))).append(m.matched)
      last = m.end
    }
    sb.append(f(sqlText.substring(last)))
    sb.toString
  }

  private def rewriteQualifiedRefs(sqlText: String): String = {
    val schemaSnapshot = synchronized(schemas.toSeq)
    val active = schemaSnapshot.filter(s => sqlText.contains(s + "."))
    if (active.isEmpty) return sqlText
    val pattern = ("""(?<![\w.`])(""" +
      active.map(java.util.regex.Pattern.quote).mkString("|") + """)\.(\w+)""").r
    val parts = sqlText.split("'", -1)
    parts.indices.foreach { i =>
      if (i % 2 == 0) parts(i) = pattern.replaceAllIn(parts(i), m =>
        java.util.regex.Matcher.quoteReplacement(
          if (m.group(1) == "public") m.group(2)
          else s"__gns__${m.group(1)}__${m.group(2)}"))
    }
    parts.mkString("'")
  }

  private def idempotent[H](name: String, signature: String)(create: => H): Option[H] =
    defSignatures.get(name) match {
      case Some(existing) =>
        require(existing == signature,
          s"continuous query '$name' already exists with a different definition")
        None // no-op re-create: same name, same definition
      case None =>
        defSignatures(name) = signature
        // a failed create must not leave the signature behind: a retry with
        // the same definition would look like a no-op re-create and then
        // fail looking up a handle that was never registered
        try Some(create)
        catch { case t: Throwable => defSignatures.remove(name); throw t }
    }

  /** CREATE VIEW name WITH (action=materialize, ...) AS selectSql.
    * Re-creating an existing view with the same definition is a no-op;
    * with a different definition it errors.
    */
  def createContView(name0: String, selectSql0: String,
      options0: CvOptions = CvOptions(), emitChanges: Boolean = true): CvHandle = {
    val name = normalizeName(name0, "continuous view")
    // WHERE ts > clock_timestamp() - interval '…' → WITH (sw = …), and
    // DISTINCT ON (…) → marked leading key outputs; the desugared form is
    // what persists (catalog/defs), so replay re-plans the same statement
    // the planner analyzed
    val (selectSql1, options) = CvPlanner.desugarSwPredicate(selectSql0, options0)
    val selectSql = CvPlanner.desugarDistinctOn(selectSql1)
    idempotent(name, s"view|$selectSql|$options|$emitChanges") {
      val plan = CvPlanner.plan(spark, name,
        rewriteQualifiedRefs(rewriteOutputOf(selectSql)), options,
        streamLeafIds = streams.values.map(_.leafIds).toSeq)
      // pk must name an output column of the view (cont_pk.sql: unknown
      // columns and non-identifier values are creation-time errors)
      options.pk.foreach { pk =>
        val outputs =
          if (plan.append) plan.appendOutputs
          else plan.keyNames ++ plan.aggs.filterNot(_.hidden).map(_.name)
        require(outputs.contains(pk),
          s"pk '$pk' is not a column of continuous view $name " +
            s"(columns: ${outputs.mkString(", ")})")
      }
      val leafIds = plan.streamLeaf.output.map(_.exprId)
      val streamName = streams.values.find(_.leafIds == leafIds)
        .map(_.name).getOrElse(throw new IllegalStateException(
          s"CV $name does not read a registered stream"))
      // bucket count follows the ingest shuffle width: buckets are the
      // scale-out unit (≈ executors × few on a real cluster), and micro-
      // batch merges should not pay list/write overhead for more dirs than
      // the ingest session can even fill in parallel
      val store = new StateStore(exec, s"$root/$name/state", plan.stateKeys,
        numBuckets = math.max(8, ingestShufflePartitions),
        smallStateBytes = smallStateBytes, appendOnly = plan.append,
        maxAppendSegments = maxAppendSegments)
      store.clusterBy = defaultClusterBy(plan)
      val handle = CvHandle(plan, store, streamName, changes = emitChanges)
      views(name) = handle
      val rs = readers.getOrElseUpdate(streamName, mutable.Buffer.empty)
      if (!rs.contains(name)) rs += name
      // the CV's output stream is itself a registered stream (reference
      // `<name>_osrel`, a foreign table like any other stream): downstream
      // CVs/CTs can read `FROM <name>_osrel` and receive every change batch
      // continuously (delta CQ chaining, analyzer.c:776-830)
      if (emitChanges) {
        val e = emptyState(handle)
        val changesSchema =
          if (plan.append) appendChangesFrame(handle, e).schema
          else changesFrame(handle, Some(e), e, e).schema
        createStream(osrelName(name), changesSchema)
      }
      appendCatalog(CatalogEntry("view", name, selectSql,
        options.sw.getOrElse(""), options.swColumn, options.stepFactor,
        options.ttl.getOrElse(""), options.ttlColumn.getOrElse(""),
        options.pk.getOrElse(""), changes = emitChanges))
      defs(name) = selectSql
      handle
    }.getOrElse(views(name))
  }

  /** ALTER VIEW name RENAME TO newName (cont_alter.sql:5): the view answers
    * to the new name everywhere — overlay, `<new>_mrel` SQL spelling, its
    * output stream (downstream readers keep working: their planned leaf
    * attribute ids move with the stream registration) — and the state/
    * changes storage moves with it. Running startStreaming drivers are NOT
    * retargeted; rename between, not during, streaming runs.
    */
  def renameContView(name: String, newName0: String): Unit = synchronized {
    val newName = normalizeName(newName0, "continuous view")
    if (name == newName) return
    val h = views.getOrElse(name, throw new IllegalArgumentException(
      s"$name is not a continuous view"))
    require(!views.contains(newName) && !transforms.contains(newName) &&
      !streams.contains(newName), s"cannot rename $name: '$newName' is already in use")
    // physical move: state, changes archive, tick marks all live under
    // root/<name>. During catalog replay the on-disk layout already
    // reflects the rename (the pre-rename dir never existed this boot).
    // The move happens under the STORE monitor: an insertInto/insertIntoAsync
    // batch mid-upsert for this CV holds it, so the mutation drains before
    // the directory disappears from under it; the store instance is then
    // re-pointed (not replaced), so async threads still holding this handle
    // keep writing — to the new path.
    h.store.synchronized {
      // drain any in-flight background version-dir deletion BEFORE the move:
      // its absolute paths go stale the instant the tree relocates
      h.store.quiesceGc()
      val from = s"$root/$name"
      if (sfs.exists(from)) sfs.move(from, s"$root/$newName")
      h.store.relocate(s"$root/$newName/state")
    }
    views.remove(name)
    views(newName) = h.copy(plan = h.plan.copy(name = newName))
    defs.remove(name).foreach(defs(newName) = _)
    defSignatures.remove(name).foreach(defSignatures(newName) = _)
    matrelConstraints.remove(name).foreach(matrelConstraints(newName) = _)
    statsMap.remove(name).foreach(s => statsMap(newName) = s.copy(name = newName))
    procMsMap.remove(name).foreach(procMsMap(newName) = _)
    readers.values.foreach { buf =>
      val i = buf.indexOf(name); if (i >= 0) buf(i) = newName
    }
    // the output stream follows the view; re-registering the SAME analyzed
    // relation keeps the attribute ids downstream CQ plans are bound to
    val (oldOs, newOs) = (osrelName(name), osrelName(newName))
    streams.remove(oldOs).foreach { sd =>
      streams(newOs) = sd.copy(name = newOs)
      rebindStreamView(oldOs, newOs)
      readers.remove(oldOs).foreach(readers(newOs) = _)
      streamBatches.remove(oldOs).foreach(streamBatches(newOs) = _)
    }
    // stale SQL bindings of the old name resolve against moved storage
    Seq(bindName(name), bindName(name) + "_mrel",
        "__graft_read_" + bindName(oldOs)).foreach { n =>
      if (ownedTempViews.contains(n)) {
        spark.catalog.dropTempView(n); ownedTempViews -= n
      }
    }
    appendCatalog(CatalogEntry("rename", name, newName, "", "", 0, "", "", "",
      changes = false))
  }

  /** Re-register the SAME analyzed relation under the new binding, so the
    * leaf attribute ids that reading CQ plans are bound to survive the move.
    */
  private def rebindStreamView(oldKey: String, newKey: String): Unit = {
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      org.apache.spark.sql.GraftBridge.analyzed(spark.table(bindName(oldKey))))
      .createOrReplaceTempView(bindName(newKey))
    spark.catalog.dropTempView(bindName(oldKey))
    ownedTempViews += bindName(newKey); ownedTempViews -= bindName(oldKey)
  }

  /** ALTER STREAM name RENAME TO newName. CQ output streams move with their
    * CQ, not directly. Reading CQ plans keep working: they are bound to the
    * stream's leaf attribute ids, which move with the re-registration.
    */
  def renameStream(name: String, newName0: String): Unit = synchronized {
    val newName = normalizeName(newName0, "stream")
    if (name == newName) return
    require(streams.contains(name), s"unknown stream $name")
    require(!name.endsWith("_osrel") && !newName.endsWith("_osrel"),
      s"cannot rename $name: CQ output streams follow their CQ's rename")
    require(!views.contains(newName) && !transforms.contains(newName) &&
      !streams.contains(newName), s"cannot rename $name: '$newName' is already in use")
    val sd = streams.remove(name).get
    streams(newName) = sd.copy(name = newName)
    rebindStreamView(name, newName)
    readers.remove(name).foreach(readers(newName) = _)
    streamBatches.remove(name).foreach(streamBatches(newName) = _)
    // reading CQ handles route ingests and derive empty-state schemas via
    // streamName — re-point them (and CT sink chains) at the new key
    views.mapValuesInPlace { (_, h) =>
      if (h.streamName == name) h.copy(streamName = newName) else h
    }
    transforms.mapValuesInPlace { (_, h) =>
      val h2 = if (h.streamName == name) h.copy(streamName = newName) else h
      if (h2.sinkStream.contains(name)) h2.copy(sinkStream = Some(newName)) else h2
    }
    appendCatalog(CatalogEntry("rename_stream", name, newName, "", "", 0, "", "", "",
      changes = false))
  }

  /** Rename a continuous transform: definition, stats, changes archive, and
    * its output stream all follow ([[renameContView]] minus the state store).
    */
  def renameContTransform(name: String, newName0: String): Unit = synchronized {
    val newName = normalizeName(newName0, "continuous transform")
    if (name == newName) return
    val h = transforms.getOrElse(name, throw new IllegalArgumentException(
      s"$name is not a continuous transform"))
    require(!views.contains(newName) && !transforms.contains(newName) &&
      !streams.contains(newName), s"cannot rename $name: '$newName' is already in use")
    val from = s"$root/$name"
    if (sfs.exists(from)) sfs.move(from, s"$root/$newName")
    transforms.remove(name)
    transforms(newName) = h.copy(plan = h.plan.copy(name = newName))
    defs.remove(name).foreach(defs(newName) = _)
    defSignatures.remove(name).foreach(defSignatures(newName) = _)
    statsMap.remove(name).foreach(s => statsMap(newName) = s.copy(name = newName))
    procMsMap.remove(name).foreach(procMsMap(newName) = _)
    readers.values.foreach { buf =>
      val i = buf.indexOf(name); if (i >= 0) buf(i) = newName
    }
    val (oldOs, newOs) = (osrelName(name), osrelName(newName))
    streams.remove(oldOs).foreach { sd =>
      streams(newOs) = sd.copy(name = newOs)
      rebindStreamView(oldOs, newOs)
      readers.remove(oldOs).foreach(readers(newOs) = _)
      streamBatches.remove(oldOs).foreach(streamBatches(newOs) = _)
    }
    Seq("__graft_read_" + bindName(oldOs)).foreach { n =>
      if (ownedTempViews.contains(n)) {
        spark.catalog.dropTempView(n); ownedTempViews -= n
      }
    }
    appendCatalog(CatalogEntry("rename_transform", name, newName, "", "", 0, "", "", "",
      changes = false))
  }

  /** CREATE VIEW t WITH (action=transform [, outputfunc=…]) AS selectSql —
    * stateless per-batch select/project/join; output goes to the CT's own
    * output stream, an optional sink stream (insert_into_stream chaining,
    * stream_fdw.c:589-640), and/or a callback (trigger outputfunc).
    */
  def createContTransform(name0: String, selectSql: String,
      sinkStream: Option[String] = None,
      outputFunc: Option[DataFrame => Unit] = None,
      emitChanges: Boolean = true): CtHandle = {
    val name = normalizeName(name0, "continuous transform")
    val sink = sinkStream.map(normalizeName(_, "stream"))
    // The reference's sliding-window spelling (WHERE ts > clock_timestamp()
    // - interval …) is only meaningful with aggregation; on a stateless
    // transform it must fail loudly as a domain error, not as Catalyst's
    // opaque "unknown function clock_timestamp".
    val (_, swProbe) = CvPlanner.desugarSwPredicate(selectSql, CvOptions())
    require(swProbe.sw.isEmpty,
      "sliding-window predicates (clock_timestamp()) are not supported in " +
        "continuous transforms; use a continuous view")
    idempotent(name, s"transform|$selectSql|$sink|$emitChanges") {
      val plan = CvPlanner.planTransform(spark, name,
        rewriteQualifiedRefs(rewriteOutputOf(selectSql)),
        streamLeafIds = streams.values.map(_.leafIds).toSeq)
      val leafIds = plan.streamLeaf.output.map(_.exprId)
      val streamName = streams.values.find(_.leafIds == leafIds)
        .map(_.name).getOrElse(throw new IllegalStateException(
          s"CT $name does not read a registered stream"))
      sink.foreach(sk => require(streams.contains(sk), s"unknown sink stream $sk"))
      val handle = CtHandle(plan, streamName, sink, outputFunc, changes = emitChanges)
      transforms(name) = handle
      val rs = readers.getOrElseUpdate(streamName, mutable.Buffer.empty)
      if (!rs.contains(name)) rs += name
      // a CT's output stream carries its projected rows (+ arrival), readable
      // by downstream CQs like any stream (transform_receiver.c → osrel)
      if (emitChanges) {
        val osSchema = org.apache.spark.sql.types.StructType(
          plan.plan.schema.fields.filterNot(_.name == "arrival_timestamp"))
        createStream(osrelName(name), osSchema)
      }
      appendCatalog(CatalogEntry("transform", name, selectSql, "", "", 0, "", "",
        sink.getOrElse(""), changes = emitChanges))
      defs(name) = selectSql
      handle
    }.getOrElse(transforms(name))
  }

  /** Re-attach an output callback to a registered transform. A Scala-API
    * gate's callback is code and cannot persist: after a restart the
    * catalog replays its transform BARE (outputFunc = None), and the
    * user's re-run of Gate.create hits the idempotent no-op — without this
    * rebind the gate would sit silently dead, neither deduplicating nor
    * forwarding. Unconditional: a same-session duplicate create rebinding
    * to an identically-configured fresh gate instance is harmless.
    */
  private[graft] def rebindTransformOutput(name: String,
      fn: DataFrame => Unit): Unit = synchronized {
    transforms.get(name).foreach { h =>
      transforms(name) = h.copy(outputFunc = Some(fn))
    }
  }

  /** Streaming dedup gate declared through DDL (beyond-ref surface):
    * `CREATE VIEW g WITH (action=transform, sink='clean',
    *   outputfunc=dedup_gate('md5(text)', 'doc_id')) AS SELECT … FROM s`.
    * Unlike a Scala `outputFunc` callback, the declared form is RECORDED in
    * the catalog (kind=gate, spec in the sw slot) and replays at restart —
    * the gate's bootstrap then re-derives its bloom/CMS filters from the
    * persisted store, so suppression resumes exactly. Specs:
    *   dedup_gate('<keySql>', '<orderCol>'[, shards[, '<delivery>']])
    *   neardup_gate('<textSql>', '<orderCol>'[, maxDist[, maxBucketSize[, shards[, '<delivery>']]]])
    *   cosine_gate('<embSql>', '<orderCol>', <threshold>, <dim>[, maxBucketSize[, expectedStoreSize[, shards[, '<delivery>']]]])
    *   jaccard_gate('<textSql>', '<orderCol>', <threshold>[, maxBucketSize[, shards[, '<delivery>']]])
    *   contamination_gate('<textSql>', '<orderCol>', '<refSelectSql>'[, n[, shards[, '<delivery>']]])
    * `delivery` ∈ {at_least_once (default), exactly_once} on EVERY gate
    * kind (microbatch.h:33-56 parity — `sync_commit` applies to every CQ):
    * the exactly-once form commits each batch via an atomic spool rename
    * and recovers interrupted epochs at restart — the exact gate spools
    * its survivor set (StreamDedupGate), the near-dup/contamination gates
    * the full flagged batch (GateEpochs; seen-based stores need every
    * arrival back).
    * A `shards` of G ≥ 2 key-space-partitions the gate into G concurrent
    * cores (ShardedDedupGate / ShardedNearDupGate) — identical admitted
    * set, horizontally-scaled decision loop.
    * String arguments follow SQL literal quoting — a literal single quote
    * inside one is escaped by doubling it ('').
    */
  def createGateTransform(name0: String, selectSql: String, gateSpec: String,
      sink0: String, ttl: Option[String] = None,
      ttlColumn: Option[String] = None,
      residentMb: Option[Long] = None,
      backendOpt: Option[String] = None,
      statePartsOpt: Option[Int] = None): AnyRef = synchronized {
    val name = normalizeName(name0, "continuous transform")
    val sink = normalizeName(sink0, "stream")
    require(streams.contains(sink), s"gate sink: unknown stream $sink")
    // per-gate state options (beyond-ref; the combiner-tier analogues):
    // resident_mb caps THIS gate's driver hot tier (beats the process-wide
    // GRAFT_GATE_RESIDENT_MB); backend = 'executor' moves the probe state
    // to executor-partitioned shards — every gate kind, and the
    // executor backend does not compose with driver-thread core sharding
    val kindWord = gateSpec.trim.takeWhile(c => c.isLetter || c == '_').toLowerCase
    val nearDupKind = Set("neardup_gate", "cosine_gate", "jaccard_gate")(kindWord)
    require(residentMb.isEmpty || nearDupKind,
      "resident_mb applies to the near-dup gates (neardup/cosine/jaccard) — " +
        "the exact/contamination gates keep no resident payload tier")
    require(residentMb.forall(_ >= 0), s"negative resident_mb $residentMb")
    backendOpt.foreach { b =>
      require(b == graft.streaming.StreamDedupGate.DriverBackend ||
        b == graft.streaming.StreamDedupGate.ExecutorBackend,
        s"unknown backend '$b' (expected driver or executor)")
    }
    // state_parts sizes the executor shard count — the first knob an
    // operator tunes on a real cluster (P ≈ executors × cores); it is
    // meaningless without backend = 'executor'
    statePartsOpt.foreach { p =>
      require(backendOpt.contains(graft.streaming.StreamDedupGate.ExecutorBackend),
        "state_parts sizes the executor state shards — it requires " +
          "backend = 'executor'")
      require(p >= 1, s"state_parts must be >= 1, got $p")
    }
    // windowed (TTL) gating: supported on the exact dedup gate; an
    // interval spec resolves through the same parser as CV ttl options
    val ttlMillis = ttl.map(CvPlanner.intervalSeconds(_) * 1000L).getOrElse(0L)
    require(ttlMillis == 0 || ttlColumn.nonEmpty,
      "ttl on a gate needs ttl_column = <event-time column>")
    require(ttlMillis == 0 || !gateSpec.trim.toLowerCase.startsWith("contamination_gate"),
      "ttl on a contamination gate is meaningless: the reference store " +
        "is static (nothing ages)")
    val optStr = (residentMb.map(v => s"resident_mb=$v") ++
      backendOpt.map(v => s"backend=$v") ++
      statePartsOpt.map(v => s"state_parts=$v")).mkString(",")
    if (transforms.contains(name)) {
      // mirror idempotent(): an identical re-declaration is a no-op, a
      // different one (or a clash with a non-gate transform) fails loudly
      require(gates.contains(name),
        s"$name already exists as a continuous transform (not a gate)")
      require(gateSignatures.get(name).contains(
        (selectSql, gateSpec, sink, ttl, ttlColumn, optStr)),
        s"gate $name already exists with a different definition")
      return gates(name)
    }
    // string arguments follow SQL literal quoting: '' inside a quoted
    // argument is an escaped single quote, so expressions like
    // md5(concat(text, '|', lang)) are spelled md5(concat(text, ''|'', lang))
    val arg = """'((?:[^']|'')*)'"""
    def unq(s: String): String = s.replace("''", "'")
    val dedupRe =
      s"""(?i)dedup_gate\\s*\\(\\s*$arg\\s*,\\s*$arg\\s*(?:,\\s*(\\d+)\\s*(?:,\\s*$arg\\s*)?)?\\)""".r
    val neardupRe =
      s"""(?i)neardup_gate\\s*\\(\\s*$arg\\s*,\\s*$arg\\s*(?:,\\s*(\\d+)\\s*(?:,\\s*(\\d+)\\s*(?:,\\s*(\\d+)\\s*(?:,\\s*$arg\\s*)?)?)?)?\\)""".r
    val cosineRe =
      s"""(?i)cosine_gate\\s*\\(\\s*$arg\\s*,\\s*$arg\\s*,\\s*([0-9.]+)\\s*,\\s*(\\d+)\\s*(?:,\\s*(\\d+)\\s*(?:,\\s*(\\d+)\\s*(?:,\\s*(\\d+)\\s*(?:,\\s*$arg\\s*)?)?)?)?\\)""".r
    val jaccardRe =
      s"""(?i)jaccard_gate\\s*\\(\\s*$arg\\s*,\\s*$arg\\s*,\\s*([0-9.]+)\\s*(?:,\\s*(\\d+)\\s*(?:,\\s*(\\d+)\\s*(?:,\\s*$arg\\s*)?)?)?\\)""".r
    val contaminationRe =
      s"""(?i)contamination_gate\\s*\\(\\s*$arg\\s*,\\s*$arg\\s*,\\s*$arg\\s*(?:,\\s*(\\d+)\\s*(?:,\\s*(\\d+)\\s*(?:,\\s*$arg\\s*)?)?)?\\)""".r
    // the gate's own createContTransform call must not write a second
    // catalog row — only the kind=gate entry replays (a plain transform
    // entry would re-create the transform WITHOUT its callback)
    val prevSuppress = suppressCatalog
    suppressCatalog = true
    def shardsOf(s: String): Int = Option(s).map(_.toInt).getOrElse(1)
    val gate: AnyRef =
      try gateSpec match {
        case dedupRe(keySql, orderCol, shards, dv) if shardsOf(shards) <= 1 =>
          graft.streaming.StreamDedupGate.create(this, name, selectSql,
            unq(keySql), unq(orderCol), sink, storeRoot = root,
            delivery = Option(dv).map(unq)
              .getOrElse(graft.streaming.StreamDedupGate.AtLeastOnce),
            ttlMillis = ttlMillis, ttlColumn = ttlColumn.getOrElse(""),
            backend = backendOpt
              .getOrElse(graft.streaming.StreamDedupGate.DriverBackend),
            stateParts = statePartsOpt.getOrElse(0))
        case dedupRe(keySql, orderCol, shards, dv) =>
          require(!backendOpt.contains(
            graft.streaming.StreamDedupGate.ExecutorBackend),
            "backend = 'executor' does not compose with shards >= 2")
          graft.streaming.StreamDedupGate.createSharded(this, name, selectSql,
            unq(keySql), unq(orderCol), sink, storeRoot = root,
            shards = shards.toInt,
            delivery = Option(dv).map(unq)
              .getOrElse(graft.streaming.StreamDedupGate.AtLeastOnce),
            ttlMillis = ttlMillis, ttlColumn = ttlColumn.getOrElse(""))
        case neardupRe(textSql, orderCol, maxDist, cap, shards, dv)
            if shardsOf(shards) <= 1 =>
          graft.streaming.SimHashNearDupGate.create(this, name, selectSql,
            unq(textSql), unq(orderCol), sink, storeRoot = root,
            maxDist = Option(maxDist).map(_.toInt).getOrElse(3),
            maxBucketSize = Option(cap).map(_.toInt).getOrElse(Int.MaxValue),
            delivery = Option(dv).map(unq)
              .getOrElse(graft.streaming.StreamDedupGate.AtLeastOnce),
            ttlMillis = ttlMillis, ttlColumn = ttlColumn.getOrElse(""),
            backend = backendOpt
              .getOrElse(graft.streaming.StreamDedupGate.DriverBackend),
            stateParts = statePartsOpt.getOrElse(0),
            residentMb = residentMb.getOrElse(-1L))
        case neardupRe(textSql, orderCol, maxDist, cap, shards, dv) =>
          require(!backendOpt.contains(
            graft.streaming.StreamDedupGate.ExecutorBackend),
            "backend = 'executor' does not compose with shards >= 2")
          graft.streaming.SimHashNearDupGate.createSharded(this, name,
            selectSql, unq(textSql), unq(orderCol), sink, storeRoot = root,
            shards = shards.toInt,
            maxDist = Option(maxDist).map(_.toInt).getOrElse(3),
            maxBucketSize = Option(cap).map(_.toInt).getOrElse(Int.MaxValue),
            delivery = Option(dv).map(unq)
              .getOrElse(graft.streaming.StreamDedupGate.AtLeastOnce),
            ttlMillis = ttlMillis, ttlColumn = ttlColumn.getOrElse(""),
            residentMb = residentMb.getOrElse(-1L))
        case cosineRe(embSql, orderCol, threshold, dim, cap, expected, shards, dv)
            if shardsOf(shards) <= 1 =>
          graft.streaming.CosineNearDupGate.create(this, name, selectSql,
            unq(embSql), unq(orderCol), sink, storeRoot = root,
            threshold = threshold.toDouble, dim = dim.toInt,
            maxBucketSize = Option(cap).map(_.toInt).getOrElse(Int.MaxValue),
            expectedStoreSize =
              Option(expected).map(_.toLong).getOrElse(1L << 20),
            delivery = Option(dv).map(unq)
              .getOrElse(graft.streaming.StreamDedupGate.AtLeastOnce),
            ttlMillis = ttlMillis, ttlColumn = ttlColumn.getOrElse(""),
            backend = backendOpt
              .getOrElse(graft.streaming.StreamDedupGate.DriverBackend),
            stateParts = statePartsOpt.getOrElse(0),
            residentMb = residentMb.getOrElse(-1L))
        case cosineRe(embSql, orderCol, threshold, dim, cap, expected, shards, dv) =>
          require(!backendOpt.contains(
            graft.streaming.StreamDedupGate.ExecutorBackend),
            "backend = 'executor' does not compose with shards >= 2")
          graft.streaming.CosineNearDupGate.createSharded(this, name,
            selectSql, unq(embSql), unq(orderCol), sink, storeRoot = root,
            threshold = threshold.toDouble, dim = dim.toInt,
            shards = shards.toInt,
            maxBucketSize = Option(cap).map(_.toInt).getOrElse(Int.MaxValue),
            expectedStoreSize =
              Option(expected).map(_.toLong).getOrElse(1L << 20),
            delivery = Option(dv).map(unq)
              .getOrElse(graft.streaming.StreamDedupGate.AtLeastOnce),
            ttlMillis = ttlMillis, ttlColumn = ttlColumn.getOrElse(""),
            residentMb = residentMb.getOrElse(-1L))
        case jaccardRe(textSql, orderCol, threshold, cap, shards, dv)
            if shardsOf(shards) <= 1 =>
          graft.streaming.JaccardNearDupGate.create(this, name, selectSql,
            unq(textSql), unq(orderCol), sink, storeRoot = root,
            threshold = threshold.toDouble,
            maxBucketSize = Option(cap).map(_.toInt).getOrElse(Int.MaxValue),
            delivery = Option(dv).map(unq)
              .getOrElse(graft.streaming.StreamDedupGate.AtLeastOnce),
            ttlMillis = ttlMillis, ttlColumn = ttlColumn.getOrElse(""),
            backend = backendOpt
              .getOrElse(graft.streaming.StreamDedupGate.DriverBackend),
            stateParts = statePartsOpt.getOrElse(0),
            residentMb = residentMb.getOrElse(-1L))
        case jaccardRe(textSql, orderCol, threshold, cap, shards, dv) =>
          require(!backendOpt.contains(
            graft.streaming.StreamDedupGate.ExecutorBackend),
            "backend = 'executor' does not compose with shards >= 2")
          graft.streaming.JaccardNearDupGate.createSharded(this, name,
            selectSql, unq(textSql), unq(orderCol), sink, storeRoot = root,
            threshold = threshold.toDouble, shards = shards.toInt,
            maxBucketSize = Option(cap).map(_.toInt).getOrElse(Int.MaxValue),
            delivery = Option(dv).map(unq)
              .getOrElse(graft.streaming.StreamDedupGate.AtLeastOnce),
            ttlMillis = ttlMillis, ttlColumn = ttlColumn.getOrElse(""),
            residentMb = residentMb.getOrElse(-1L))
        case contaminationRe(textSql, orderCol, refSql, n, shards, dv)
            if shardsOf(shards) <= 1 =>
          // the reference SELECT resolves against the SPARK session (temp
          // views / catalog tables) and must project the `text` column; at
          // catalog replay the hashed store already exists, so the query
          // only needs to stay RESOLVABLE, not re-read
          graft.streaming.ContaminationGate.create(this, name, selectSql,
            unq(textSql), unq(orderCol), sink, storeRoot = root,
            reference = spark.sql(unq(refSql)),
            n = Option(n).map(_.toInt).getOrElse(3),
            delivery = Option(dv).map(unq)
              .getOrElse(graft.streaming.StreamDedupGate.AtLeastOnce),
            backend = backendOpt
              .getOrElse(graft.streaming.StreamDedupGate.DriverBackend),
            stateParts = statePartsOpt.getOrElse(0))
        case contaminationRe(textSql, orderCol, refSql, n, shards, dv) =>
          require(!backendOpt.contains(
            graft.streaming.StreamDedupGate.ExecutorBackend),
            "backend = 'executor' does not compose with shards >= 2")
          graft.streaming.ContaminationGate.createSharded(this, name,
            selectSql, unq(textSql), unq(orderCol), sink, storeRoot = root,
            reference = spark.sql(unq(refSql)), shards = shards.toInt,
            n = Option(n).map(_.toInt).getOrElse(3),
            delivery = Option(dv).map(unq)
              .getOrElse(graft.streaming.StreamDedupGate.AtLeastOnce))
        case other => throw new IllegalArgumentException(
          s"unparseable gate outputfunc '$other' (expected dedup_gate('<key>','<order>'[,shards[,'<delivery>']]), " +
            "neardup_gate('<text>','<order>'[,maxDist[,maxBucketSize[,shards[,'<delivery>']]]]), " +
            "cosine_gate('<emb>','<order>',<threshold>,<dim>[,maxBucketSize[,expectedStoreSize[,shards[,'<delivery>']]]]) or " +
            "jaccard_gate('<text>','<order>',<threshold>[,maxBucketSize[,shards[,'<delivery>']]]) or " +
            "contamination_gate('<text>','<order>','<refSelectSql>'[,n[,shards[,'<delivery>']]]); " +
            "escape a literal quote inside a string argument by doubling it: '')")
      } finally suppressCatalog = prevSuppress
    gates(name) = gate
    gateSignatures(name) = (selectSql, gateSpec, sink, ttl, ttlColumn, optStr)
    appendCatalog(CatalogEntry("gate", name, selectSql, gateSpec, optStr, 0,
      ttl.getOrElse(""), ttlColumn.getOrElse(""), sink, changes = false))
    gate
  }

  // lazy: the constructor's catalog replay reaches createGateTransform
  // before later-declared fields would otherwise initialize
  private lazy val gates = mutable.Map.empty[String, AnyRef]
  private lazy val gateSignatures =
    mutable.Map.empty[String,
      (String, String, String, Option[String], Option[String], String)]

  /** The declared gate registered under `name`, if any. */
  def gateOf(name: String): Option[AnyRef] = synchronized(gates.get(name))

  /** activate/deactivate persist across restarts (the reference stores the
    * active flag in its cont_query catalog row).
    */
  def activate(name: String): Unit = {
    views.get(name).foreach(h => views(name) = h.copy(active = true))
    transforms.get(name).foreach(h => transforms(name) = h.copy(active = true))
    appendCatalog(CatalogEntry("activate", name, "", "", "", 0, "", "", "", changes = false))
  }
  def deactivate(name: String): Unit = {
    views.get(name).foreach(h => views(name) = h.copy(active = false))
    transforms.get(name).foreach(h => transforms(name) = h.copy(active = false))
    appendCatalog(CatalogEntry("deactivate", name, "", "", "", 0, "", "", "", changes = false))
  }

  /** pipelinedb.set_ttl(cv, ttl, ttl_column): change (or clear) a CV's TTL
    * at runtime; the reaper (`expireTtl`) picks it up on its next pass.
    */
  def setTtl(name: String, ttl: Option[String], ttlColumn: Option[String] = None): Unit = {
    val h = views(name)
    val opts = h.plan.options.copy(
      ttl = ttl,
      ttlColumn = ttlColumn.orElse(h.plan.options.ttlColumn))
    views(name) = h.copy(plan = h.plan.copy(options = opts))
    appendCatalog(CatalogEntry("set_ttl", name, "", "", "", 0,
      ttl.getOrElse(""), opts.ttlColumn.getOrElse(""), "", changes = false))
  }

  def truncateContView(name: String): Unit = views(name).store.truncate()

  /** Default within-file clustering for a new CV (the CREATE INDEX analogue
    * the reference applies implicitly: every SW matrel gets an index on its
    * window bucket, every matrel a group-hash index — cont_index.sql \\d+
    * output). Time-filtered reads are the ones that profit from ROW-GROUP
    * pruning here: SW liveness filters and TTL reaps.
    */
  private def defaultClusterBy(plan: CvPlan): Seq[String] =
    plan.sw.map(s => if (plan.append) CvPlanner.AppendSwTs else s.bucketCol)
      .orElse(plan.options.ttlColumn.filter(c =>
        if (plan.append) plan.appendOutputs.contains(c)
        else plan.stateKeys.contains(c)))
      .toSeq

  /** CREATE INDEX analogue (cont_index.sql): cluster the matrel's files by
    * a stored physical column. New writes (merges, compactions, reaps)
    * sort rows by the column inside each bucket file, so parquet row-group
    * stats prune range predicates on it — the closest Spark-state
    * equivalent of the reference's btree on a matrel column. Persisted in
    * the catalog; applies to data written from now on (existing files
    * re-cluster as their buckets are next rewritten).
    */
  def createIndex(name: String, columns: String*): Unit = {
    require(columns.nonEmpty, "CREATE INDEX requires at least one column")
    val h = views.getOrElse(name,
      throw new IllegalArgumentException(s"unknown continuous view $name"))
    val physical =
      if (h.plan.append) h.plan.appendOutputs :+ CvPlanner.AppendSwTs
      else h.plan.stateKeys
    columns.foreach(c => require(physical.contains(c),
      s"cannot index $name on '$c': only physically stored columns " +
        s"(${physical.mkString(", ")}) are indexable — aggregate outputs " +
        "are finalized at read time"))
    h.store.clusterBy = columns.toSeq
    appendCatalog(CatalogEntry("index", name, columns.mkString(","), "", "", 0,
      "", "", "", changes = false))
  }

  // CV → (constraint name, CHECK expression): evaluated against the matrel
  // spelling — group keys + single-state columns under their plain names.
  // lazy: the constructor's catalog replay reaches this before later-declared
  // fields would otherwise initialize
  private lazy val matrelConstraints =
    mutable.LinkedHashMap.empty[String, Vector[(String, String)]]

  /** The matrel spelling of a state frame: single-state columns renamed to
    * their plain output names (reference matrels name the state column after
    * the target-list column). Renames are attribute aliases, so combine-kind
    * metadata survives.
    */
  private def mrelSpelling(h: CvHandle, df: DataFrame): DataFrame = {
    val owned = h.plan.singleOwnedStates
    df.columns.foldLeft(df) { (d, c) =>
      owned.get(c).filterNot(df.columns.contains) match {
        case Some(plain) => d.withColumnRenamed(c, plain)
        case None => d
      }
    }
  }

  /** ALTER TABLE `<cv>`_mrel ADD CONSTRAINT name CHECK (expr) — reference
    * matrel_constraints.sql. Enforced at combiner-write time: a merged row
    * failing any CHECK is not written, so the group keeps its last passing
    * state (or never materializes if brand-new) and the batch continues —
    * violations are skips, not errors (matrel_constraints.out: count freezes
    * at 2 under CHECK (count < 3) across four inserts). NULL check results
    * pass, matching SQL CHECK semantics.
    */
  def addMatrelConstraint(name: String, conName: String, checkSql: String): Unit =
    synchronized {
      val h = views.getOrElse(name,
        throw new IllegalArgumentException(s"unknown continuous view $name"))
      require(!h.plan.append,
        s"CHECK constraints are supported on aggregating matrels; $name is append-only")
      // creation-time validation: the expression must analyze against the
      // matrel schema — a bad column fails here, not at the next micro-batch
      mrelSpelling(h, emptyState(h)).where(expr(checkSql))
      matrelConstraints(name) =
        matrelConstraints.getOrElse(name, Vector.empty) :+ (conName -> checkSql)
      installConstraints(name, h)
      appendCatalog(CatalogEntry("constraint", name, checkSql, "", "", 0, "", "",
        conName, changes = false))
    }

  /** (Re)build the store's constraint filter from the registered CHECKs. */
  private def installConstraints(name: String, h: CvHandle): Unit = {
    val cons = matrelConstraints.getOrElse(name, Vector.empty)
    if (cons.isEmpty) { h.store.constrain = None; return }
    val keys = h.plan.stateKeys
    h.store.constrain = Some { (cand, old) =>
      val owned = h.plan.singleOwnedStates
      val renames = cand.columns.toSeq.flatMap(c =>
        owned.get(c).filterNot(cand.columns.contains).map(c -> _))
      def toPlain(df: DataFrame) =
        renames.foldLeft(df) { case (d, (s, p)) => d.withColumnRenamed(s, p) }
      def toState(df: DataFrame) =
        renames.foldLeft(df) { case (d, (s, p)) => d.withColumnRenamed(p, s) }
      // SQL CHECK semantics: only a strictly-FALSE result violates
      val check = cons.map { case (_, sql) => coalesce(expr(sql), lit(true)) }
        .reduce(_ && _)
      val candP = toPlain(cand)
      val pass = toState(candP.where(check))
      old match {
        case None => pass
        case Some(ex) =>
          val failKeys = toState(candP.where(!check))
            .select((keys :+ StateStore.BucketCol).map(col): _*)
          // null-safe key match: a NULL group key still keeps its old row
          val kept = ex.join(failKeys,
            (keys :+ StateStore.BucketCol)
              .map(k => ex(k) <=> failKeys(k)).reduce(_ && _), "left_semi")
          pass.unionByName(kept)
      }
    }
  }

  // ---- DROP (reference ExecDropContQuery path: dropping a CV cascades to
  // its matrel/osrel/seq/def relations, pipeline_query.c:552-684) ----

  private def deleteDir(p: String): Unit = sfs.deleteRecursively(p)

  /** DROP a continuous view: removes the definition, its state and changes
    * storage, and its output stream. Fails while downstream CQs still read
    * the output stream — drop the readers first (the reference's dependency
    * machinery enforces the same order).
    */
  def dropContView(name: String): Unit = synchronized {
    val h = views.getOrElse(name,
      throw new IllegalArgumentException(s"unknown continuous view $name"))
    val osrel = osrelName(name)
    require(!readers.get(osrel).exists(_.nonEmpty),
      s"cannot drop $name: continuous queries ${readers(osrel).mkString(", ")} read $osrel")
    views.remove(name)
    defSignatures.remove(name)
    matrelConstraints.remove(name)
    readers.get(h.streamName).foreach(b => { b -= name; () })
    streams.remove(osrel)
    readers.remove(osrel)
    swTickMarks.remove(name)
    // during catalog replay the on-disk layout already reflects the drop
    // (and may now belong to a later same-name definition) — only a live
    // drop removes storage
    if (!loading) {
      h.store.truncate()
      deleteDir(s"$root/$name")
    }
    defs.remove(name)
    // session temp views the engine may have bound for this CV (overlay,
    // SQL-front-door matrel/osrel reads, the osrel stream registration) —
    // left behind they'd resolve against deleted storage
    Seq(bindName(name), bindName(name) + "_mrel", bindName(osrel),
        "__graft_read_" + bindName(osrel))
      .foreach { n => spark.catalog.dropTempView(n); ownedTempViews -= n }
    appendCatalog(CatalogEntry("drop", name, "view", "", "", 0, "", "", "", changes = false))
  }

  /** DROP a continuous transform (same cascade minus the state table). */
  def dropContTransform(name: String): Unit = synchronized {
    val h = transforms.getOrElse(name,
      throw new IllegalArgumentException(s"unknown continuous transform $name"))
    val osrel = osrelName(name)
    require(!readers.get(osrel).exists(_.nonEmpty),
      s"cannot drop $name: continuous queries ${readers(osrel).mkString(", ")} read $osrel")
    transforms.remove(name)
    defSignatures.remove(name)
    // root/name (incl. the gate's seen-store) is deleted below — a gate's
    // DEFERRED store commit (CommitPipeline) must finish first or the
    // delete races the in-flight append. Drained by DIRECTORY, not gate
    // handle: Scala-API gates never enter the gates map.
    gates.remove(name)
    // the gate registered its pipeline roots under GateStore.gateRoot's
    // spelling (absolute for plain paths) — the barrier must prefix-match
    // that exact spelling, not the raw engine-root string
    graft.streaming.CommitPipeline.drainUnder(
      graft.streaming.GateStore.gateRoot(root, name))
    // executor-backend shards keyed under this store root are dead weight
    // once the store is deleted — evict them from EVERY JVM's registry
    // (local sweep always; plus one task-per-slot cluster job when this
    // root ever hosted executor-tier instances, so remote executors free
    // their heap instead of waiting for recycle)
    graft.streaming.ExecutorGateState.dropDistributedUnder(spark,
      // shard registries key by the gate's store root — absolute for
      // plain paths, verbatim for URI roots (GateStore.gateRoot is the
      // one place that spelling lives)
      graft.streaming.GateStore.gateRoot(root, name))
    gateSignatures.remove(name)
    readers.get(h.streamName).foreach(b => { b -= name; () })
    streams.remove(osrel)
    readers.remove(osrel)
    if (!loading) deleteDir(s"$root/$name")
    defs.remove(name)
    Seq(bindName(osrel), "__graft_read_" + bindName(osrel))
      .foreach { n => spark.catalog.dropTempView(n); ownedTempViews -= n }
    appendCatalog(CatalogEntry("drop", name, "transform", "", "", 0, "", "", "", changes = false))
  }

  /** DROP a stream; fails while continuous queries still read it. */
  def dropStream(name: String): Unit = synchronized {
    require(streams.contains(name), s"unknown stream $name")
    require(!readers.get(name).exists(_.nonEmpty),
      s"cannot drop stream $name: read by ${readers(name).mkString(", ")}")
    streams.remove(name)
    readers.remove(name)
    spark.catalog.dropTempView(bindName(name))
    ownedTempViews -= bindName(name)
    appendCatalog(CatalogEntry("drop", name, "stream", "", "", 0, "", "", "", changes = false))
  }

  /** INSERT INTO stream — routes the batch through every active reading CV
    * synchronously (stream_insert_level=sync_commit semantics).
    *
    * @param targets when set, only the named continuous queries receive the
    *                batch (the reference `stream_targets` GUC, config.c:349 /
    *                GetLocalStreamReaders)
    */
  def insertInto(streamName: String, batch: DataFrame,
      targets: Option[Set[String]] = None): Unit = {
    require(streams.contains(streamName), s"unknown stream $streamName")
    synchronized {
      streamBatches(streamName) = streamBatches.getOrElse(streamName, 0L) + 1L
    }
    // Stamp the arrival timestamp as a LITERAL, not current_timestamp():
    // the ingest pipeline runs several Spark actions over the same batch
    // (touched-bucket hint, merge-write, changes emit), and an unevaluated
    // current_timestamp() would re-resolve per action — rows could land in
    // one SW step bucket during the hint scan and another during the merge,
    // leaving the manifest pointing at partitions that were never written.
    val withArrival =
      if (batch.columns.contains("arrival_timestamp")) batch
      else batch.withColumn("arrival_timestamp",
        lit(new java.sql.Timestamp(System.currentTimeMillis())))
    // Fan the batch out to all reading CVs concurrently — their state
    // stores are independent, and the per-CV pipelines are small jobs that
    // interleave well on the scheduler (the reference runs one worker proc
    // per CV for the same reason, scheduler.c:615-698).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // snapshot the routing tables under the engine lock: DDL methods (and
    // catalog-driven drops) mutate these maps from other threads, and a
    // LinkedHashMap read during a rehash is undefined
    val (activeCvs, activeCts) = synchronized {
      val names = readers.getOrElse(streamName, mutable.Buffer.empty).toSeq
        .filter(n => targets.forall(_.contains(n)))
      (names.flatMap(views.get).filter(_.active),
        names.flatMap(transforms.get).filter(_.active))
    }
    // transforms are independent consumers of the same batch (the reference
    // runs CVs and CTs in separate worker procs) — overlap them with the
    // view ingests; chained insertInto re-entry happens inside the future
    val work: Seq[(String, Future[Unit])] =
      activeCvs.map(h => h.plan.name -> Future(ingestBatch(h, withArrival))) ++
        activeCts.map(h => h.plan.name -> Future(runTransform(h, withArrival)))
    // blocking{}: a chained transform re-enters insertInto inside a future,
    // and the nested Await must not starve the global pool. The await is
    // BOUNDED (ingestAwaitMs): a wedged CV merge surfaces as a timeout
    // naming the culprit instead of hanging the producer forever.
    work.foreach { case (cq, f) =>
      scala.concurrent.blocking {
        try Await.result(f, Duration(ingestAwaitMs, java.util.concurrent.TimeUnit.MILLISECONDS))
        catch {
          case _: java.util.concurrent.TimeoutException =>
            throw new java.util.concurrent.TimeoutException(
              s"ingest of a $streamName batch into continuous query '$cq' did " +
                s"not complete within ${ingestAwaitMs} ms (ingestAwaitMs)")
        }
      }
    }
  }

  /** Upper bound on how long a synchronous insert waits for any single CQ
    * to commit a batch (default 10 min — far above any healthy micro-batch,
    * small enough that a wedged merge fails fast instead of blocking the
    * producer forever). Settable at runtime.
    */
  @volatile var ingestAwaitMs: Long = 10L * 60 * 1000

  // ---- async ingest (stream_insert_level=async, microbatch.h:51-56) ----
  // One ingest thread preserves batch order per engine (the reference routes
  // a stream's inserts through its worker queue); the semaphore is the IPC
  // high-watermark (ipc_hwm=10, config.c:381-388): more than 10 undrained
  // batches block the producer — bounded memory, natural backpressure.
  private val asyncPool = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "graft-async-ingest"); t.setDaemon(true); t
  })
  private val asyncSlots = new java.util.concurrent.Semaphore(10)
  private val pendingAsync = mutable.Buffer.empty[java.util.concurrent.Future[_]]
  private val asyncErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

  private final case class AsyncEntry(stream: String, batch: DataFrame,
      targets: Option[Set[String]], done: java.util.concurrent.CompletableFuture[Unit])
  private val asyncQueue = new java.util.concurrent.ConcurrentLinkedQueue[AsyncEntry]()

  // Queue coalescing (the reference worker's drain loop: queued events are
  // buffered into ONE microbatch up to batch_size before the worker plan
  // runs — microbatch.c:193-259): when the producer outruns the pipeline,
  // every undrained entry for the same (stream, targets) pays the fixed
  // per-batch cost (two jobs + a state-version commit) ONCE instead of once
  // each. Single consumer thread → peek/poll below are race-free and batch
  // order is preserved; only ADJACENT same-route entries coalesce, so
  // cross-stream ordering semantics don't change.
  private val asyncDrain: Runnable = () => {
    val first = asyncQueue.poll()
    if (first != null) {
      val run = mutable.Buffer(first)
      var next = asyncQueue.peek()
      // identical schema required: batches may legally differ (e.g. one
      // carries an explicit arrival_timestamp), and a failed union would
      // lose EVERY batch in the run where each would have committed alone
      while (next != null && next.stream == first.stream &&
          next.targets == first.targets && next.batch.schema == first.batch.schema) {
        run += asyncQueue.poll()
        next = asyncQueue.peek()
      }
      try {
        val combined = run.map(_.batch).reduce(_ unionByName _)
        insertInto(first.stream, combined, first.targets)
      } catch { case t: Throwable => asyncErrors.add(t) }
      finally run.foreach { e => e.done.complete(()); asyncSlots.release() }
    }
  }

  /** INSERT with stream_insert_level=async: enqueue and return immediately.
    * Failures surface at the next flush(). The default synchronous
    * insertInto is sync_commit; sync_receive (ack on enqueue) behaves like
    * async here because enqueueing cannot fail once admitted.
    */
  def insertIntoAsync(streamName: String, batch: DataFrame,
      targets: Option[Set[String]] = None): Unit = {
    // no stream-existence check here: async failures (including an unknown
    // stream) surface at the flush() barrier, not at enqueue — CvSpec pins it
    asyncSlots.acquire()
    val done = new java.util.concurrent.CompletableFuture[Unit]()
    asyncQueue.add(AsyncEntry(streamName, batch, targets, done))
    synchronized { pendingAsync += done }
    // one drain submission per entry: a drain that finds its entry already
    // coalesced into an earlier run is a no-op
    asyncPool.submit(asyncDrain)
  }

  /** pipelinedb.flush(): barrier until every enqueued batch has fully
    * committed (miscutils.c:835-889); rethrows the first async failure.
    */
  def flush(): Unit = {
    val pending = synchronized { val p = pendingAsync.toList; pendingAsync.clear(); p }
    pending.foreach(_.get())
    val err = asyncErrors.poll()
    if (err != null) { asyncErrors.clear(); throw err }
  }

  private def runTransform(h: CtHandle, batch: DataFrame): Unit = {
    val t0 = System.nanoTime()
    var failed = false
    try {
      // literal stamp for the same reason as insertInto: the output feeds a
      // chained stream whose CVs may bucket on arrival_timestamp
      val raw = h.plan.bindBatch(exec, batch)
        .withColumn("arrival_timestamp",
          lit(new java.sql.Timestamp(System.currentTimeMillis())))
      val osrel = osrelName(h.plan.name)
      val routed = h.changes && readers.get(osrel).exists(_.nonEmpty)
      // evaluate the projection ONCE when several consumers read it: the
      // archive, callback, sink, and osrel otherwise each re-run the job,
      // and a nondeterministic select would hand them different rows
      val consumers = Seq(h.changes, h.outputFunc.nonEmpty, h.sinkStream.nonEmpty, routed)
        .count(identity)
      val out = if (consumers > 1) raw.persist() else raw
      try {
        // the CT's own output stream (output_of) is skippable when nothing
        // downstream reads it — saves one write job per batch
        if (h.changes) out.write.mode("append").parquet(s"$root/${h.plan.name}/changes")
        h.outputFunc.foreach(f => f(out))
        // insert_into_stream chaining: the transform's output becomes a
        // batch on the sink stream
        h.sinkStream.foreach(sk => insertInto(sk, out))
        // output_of(ct) readers get the same rows as a stream batch
        if (routed) insertInto(osrel, out)
      } finally if (consumers > 1) out.unpersist()
    } catch { case e: Throwable => failed = true; throw e }
    finally recordStats(h.plan.name, "transform", 0L,
      (System.nanoTime() - t0) / 1000000, failed)
  }

  /** pipelinedb.combine_table('cv', table): batch-merge a compatible table
    * of partial states into the CV's state (reference combiner.c:2252-2350 —
    * used for backfill and partition-rebuild).
    */
  def combineTable(name: String, partials: DataFrame): Unit = {
    val h = views(name)
    require(!h.plan.append,
      s"combine_table requires an aggregating continuous view ($name is append-only)")
    val expected = (h.plan.stateKeys ++ h.plan.stateNames).toSet
    require(expected.subsetOf(partials.columns.toSet),
      s"combine_table input must carry columns ${expected.mkString(", ")}")
    h.store.upsert(partials.select(expected.toSeq.map(col): _*), h.plan.reAggs,
      needOldRows = false)
  }

  // ---- direct matrel DML (reference pipelinedb.matrels_writable GUC,
  // cont_matrel.sql): OFF by default — the combiner owns matrel contents,
  // and a stray UPDATE would silently corrupt incremental results. ----

  /** Gate for [[insertMatrel]]/[[updateMatrel]]/[[deleteMatrel]] and the
    * SQL `INSERT/UPDATE/DELETE … <cv>_mrel` spellings.
    */
  @volatile var matrelsWritable: Boolean = false

  private def writableHandle(name: String): CvHandle = {
    val h = views.getOrElse(name,
      throw new IllegalArgumentException(s"unknown continuous view $name"))
    require(matrelsWritable,
      s"cannot change materialization table ${name}_mrel " +
        "(set matrelsWritable = true to allow direct writes)")
    h
  }

  /** (internalStateName, plainName) pairs: a state owned by exactly one
    * single-state aggregate is addressed by that aggregate's output name in
    * matrel DML (`UPDATE v_mrel SET count = …` — same naming the `_mrel`
    * SQL binding and the delta struct use).
    */
  private def mrelRenames(h: CvHandle): Seq[(String, String)] = {
    val owned = h.plan.singleOwnedStates
    h.plan.stateNames.flatMap(sn => owned.get(sn).map(sn -> _))
      .filterNot { case (_, plain) => h.plan.stateKeys.contains(plain) }
  }

  /** INSERT INTO `<cv>_mrel`: add state rows directly. The row carries the
    * group keys plus RAW state columns under their plain names (for count
    * the state is the count itself — cont_matrel.sql:34-39). Inserting a
    * group that already exists fails, like the reference's `$pk` conflict;
    * later stream ingest combines on top of hand-written state.
    */
  def insertMatrel(name: String, rows: DataFrame): Long = {
    val h = writableHandle(name)
    require(!h.plan.append || h.plan.sw.isEmpty,
      s"direct INSERT on sliding-window append-only CV $name is not supported " +
        "(the hidden window timestamp cannot be supplied)")
    if (h.plan.append) {
      val out = rows.select(h.plan.appendOutputs.map(col): _*)
      return h.store.synchronized(h.store.upsert(out, Nil, needOldRows = false)._3)
    }
    val renames = mrelRenames(h)
    val toInternal = renames.map(_.swap).toMap
    val expected = (h.plan.stateKeys ++ h.plan.stateNames).toSet
    val provided = rows.columns.map(c => toInternal.getOrElse(c, c)).toSet
    require(expected.subsetOf(provided),
      s"INSERT into ${name}_mrel must carry columns " +
        (h.plan.stateKeys ++ renames.map(_._2)).mkString(", "))
    val internal = h.plan.stampStateMetadata(
      renames.foldLeft(rows) { case (d, (i, u)) => d.withColumnRenamed(u, i) }
        .select(expected.toSeq.map(col): _*))
    val keys = h.plan.stateKeys
    h.store.synchronized {
      val n = internal.count()
      val distinctGroups =
        if (keys.isEmpty) math.min(n, 1L)
        else internal.select(keys.map(col): _*).distinct().count()
      require(distinctGroups == n,
        s"duplicate group in INSERT into ${name}_mrel (the reference's " +
          "$pk-conflict analogue)")
      h.store.read().foreach { st =>
        val conflict =
          if (keys.isEmpty) n > 0 && st.limit(1).count() > 0
          else st.join(internal,
            keys.map(k => st(k) <=> internal(k)).reduce(_ && _), "left_semi")
            .limit(1).count() > 0
        require(!conflict,
          s"group already exists in ${name}_mrel (the reference's " +
            "$pk-conflict analogue)")
      }
      h.store.upsert(internal, h.plan.reAggs, needOldRows = false)._3
    }
  }

  /** UPDATE `<cv>_mrel` SET col = expr, … [WHERE pred]: rewrite state rows
    * in place (cont_matrel.sql:12-23). Assignments and predicate address
    * plain matrel column names; group keys cannot be reassigned.
    */
  def updateMatrel(name: String, set: Seq[(String, String)],
      where: Option[String] = None): Long = {
    val h = writableHandle(name)
    h.store.updateWhere(
      set.map { case (c, e) => c -> expr(e) },
      where.map(expr).getOrElse(lit(true)),
      renames = if (h.plan.append) Nil else mrelRenames(h))
  }

  /** DELETE FROM `<cv>_mrel` [WHERE pred] (cont_matrel.sql:9,18).
    * @return number of state buckets rewritten (0 = nothing matched)
    */
  def deleteMatrel(name: String, where: Option[String] = None): Long = {
    val h = writableHandle(name)
    val stats = h.store.deleteWhere(
      where.map(expr).getOrElse(lit(true)),
      renames = if (h.plan.append) Nil else mrelRenames(h))
    stats.rewrittenBuckets.toLong
  }

  // lazy: renameContView touches these during the constructor's catalog
  // replay, before later-declared fields would otherwise initialize
  private lazy val statsMap = mutable.LinkedHashMap.empty[String, CqStats]
  // per-proc split: CQ name → (workerMs, combinerMs) accumulated
  private lazy val procMsMap = mutable.LinkedHashMap.empty[String, (Long, Long)]

  private def recordStats(name: String, kind: String,
      groupsOut: Long, ms: Long, failed: Boolean,
      workerMs: Long = 0L, combinerMs: Long = 0L): Unit = synchronized {
    val s = statsMap.getOrElse(name, CqStats(name, kind, 0, 0, 0, 0))
    statsMap(name) = s.copy(
      batches = s.batches + 1,
      groupsOut = s.groupsOut + groupsOut,
      errors = s.errors + (if (failed) 1 else 0), execMs = s.execMs + ms)
    val (w0, c0) = procMsMap.getOrElse(name, (0L, 0L))
    procMsMap(name) = (w0 + workerMs, c0 + combinerMs)
  }

  /** Monitoring view: one row per continuous query (reference
    * pipelinedb.query_stats / proc_stats, stats.c).
    */
  def stats(): DataFrame = {
    import spark.implicits._
    statsMap.values.toSeq.toDF()
  }

  /** One row per registered streaming gate: kind, shard count, and the
    * session's (batches, admitted, suppressed) counters — the gate slice
    * of the reference's stats-catalog surface (counters reset at restart:
    * session telemetry, not dedup state). SQL-addressable as
    * `graft_gate_stats`. */
  def gateStats(): DataFrame = {
    import spark.implicits._
    import graft.streaming._
    def kindOf(core: AnyRef): String = core match {
      case _: StreamDedupGate => "dedup"
      case n: IndexedNearDupGate[_] => n.kind
      case _: ContaminationGate => "contamination"
      case other => other.getClass.getSimpleName
    }
    val pendingDrops = ExecutorGateState.pendingRemoteDrops
    synchronized {
      gates.toSeq.sortBy(_._1).map { case (nm, g) =>
        def row(kind: String, shards: Int, t: (Long, Long, Long),
            lost: Long,
            be: (String, Int) = (StreamDedupGate.DriverBackend, 0)): GateStats =
          GateStats(nm, kind, shards, t._1, t._2, t._3,
            rowsIn = t._2 + t._3, rowsOut = t._2, lostCommits = lost,
            backend = be._1, stateParts = be._2,
            pendingRemoteDrops = pendingDrops)
        g match {
          // sharded wrappers are always driver-tier (exec×shards refused)
          case sd: ShardedDedupGate =>
            row("dedup", sd.shardCount, sd.stats, sd.lostCommits)
          case sn: ShardedNearDupGate =>
            row(kindOf(sn.firstCore), sn.shardCount, sn.stats,
              sn.commitPipeline.lostCommits)
          case d: StreamDedupGate =>
            row("dedup", 1, d.stats, d.commitPipeline.lostCommits,
              d.backendInfo)
          case n: IndexedNearDupGate[_] =>
            row(n.kind, 1, n.stats, n.commitPipeline.lostCommits,
              n.backendInfo)
          // the contamination gate never appends (static reference store)
          case ct: ContaminationGate =>
            row("contamination", 1, ct.stats, 0L, ct.backendInfo)
          case other =>
            GateStats(nm, other.getClass.getSimpleName, 1, 0L, 0L, 0L, 0L, 0L,
              0L, StreamDedupGate.DriverBackend, 0, pendingDrops)
        }
      }
    }.toDF()
  }

  /** Per-process timing split (reference pipelinedb.proc_stats /
    * proc_query_stats, stats.c:556): one row per (CQ, proc) where proc is
    * `worker` (micro-batch partial aggregation) or `combiner` (merge with
    * stored state). Transforms have no combiner — their whole exec is the
    * worker row.
    */
  def procStats(): DataFrame = {
    import spark.implicits._
    synchronized {
      statsMap.values.toSeq.flatMap { s =>
        val (w, c) = procMsMap.getOrElse(s.name, (0L, 0L))
        if (s.kind == "transform")
          Seq(ProcStats(s.name, "worker", s.batches, s.execMs, s.errors))
        else Seq(
          ProcStats(s.name, "worker", s.batches, w, s.errors),
          ProcStats(s.name, "combiner", s.batches, c, s.errors))
      }
    }.toDF()
  }

  // lazy for the same replay-order reason as statsMap
  private lazy val streamBatches = mutable.LinkedHashMap.empty[String, Long]

  /** Per-stream ingest counters (reference pipelinedb.stream_stats). */
  def streamStats(): DataFrame = {
    import spark.implicits._
    val rows = synchronized {
      streams.keys.toSeq.map { s =>
        StreamStats(s, streamBatches.getOrElse(s, 0L),
          readers.get(s).map(_.size.toLong).getOrElse(0L))
      }
    }
    rows.toDF()
  }

  /** User-facing continuous-view catalog (reference pipelinedb.views,
    * pipelinedb--1.0.0.sql:77-93): one row per CV with its options, active
    * flag, and original definition.
    */
  def viewsCatalog(): DataFrame = {
    import spark.implicits._
    // snapshot under the engine lock: DDL mutates views/defs from other
    // threads, and a LinkedHashMap read during a rehash is undefined
    val rows = synchronized {
      views.toSeq.map { case (n, h) =>
        CvCatalogRow(n, h.streamName, h.plan.options.sw.getOrElse(""),
          h.plan.options.stepFactor, h.plan.options.ttl.getOrElse(""),
          h.plan.options.ttlColumn.getOrElse(""), h.active, h.changes,
          defs.getOrElse(n, ""))
      }
    }
    rows.toDF()
  }

  /** User-facing transform catalog (reference pipelinedb.transforms,
    * sql:95-108): one row per CT with its sink and definition.
    */
  def transformsCatalog(): DataFrame = {
    import spark.implicits._
    val rows = synchronized {
      transforms.toSeq.map { case (n, h) =>
        CtCatalogRow(n, h.streamName, h.sinkStream.getOrElse(""),
          h.active, h.changes, defs.getOrElse(n, ""))
      }
    }
    rows.toDF()
  }

  /** (stream, continuous query) reader pairs (pipelinedb.stream_readers). */
  def streamReaders(): DataFrame = {
    import spark.implicits._
    val rows = synchronized {
      readers.toSeq.flatMap { case (s, rs) => rs.toSeq.map(r => (s, r)) }
    }
    rows.toDF("stream", "cq")
  }

  /** One-row engine summary (reference pipelinedb.db_stats). */
  def dbStats(): DataFrame = {
    import spark.implicits._
    val row = synchronized {
      val qs = statsMap.values
      DbStats(
        streams.size.toLong, views.size.toLong, transforms.size.toLong,
        streamBatches.values.sum, qs.map(_.groupsOut).sum,
        qs.map(_.errors).sum, qs.map(_.execMs).sum)
    }
    Seq(row).toDF()
  }

  /** Engine version string (reference pipelinedb.version()). */
  def version: String = ContViewEngine.Version

  /** The worker-side plan a CV runs per micro-batch (reference
    * pipelinedb.get_worker_querydef): group keys + partial-state columns.
    */
  def workerQueryDef(name: String): String = {
    val h = views(name)
    if (h.plan.append)
      s"WORKER ${h.plan.name}: batch -> project (${h.plan.appendOutputs.mkString(", ")}) " +
        "-> append rows"
    else
      s"WORKER ${h.plan.name}: batch -> GROUP BY (${h.plan.stateKeys.mkString(", ")}) " +
        s"-> partial states (${h.plan.stateNames.mkString(", ")})"
  }

  /** The combiner-side merge plan (reference get_combiner_querydef):
    * per-state merge aggregates applied against the stored groups.
    */
  def combinerQueryDef(name: String): String = {
    val h = views(name)
    if (h.plan.append)
      s"COMBINER ${h.plan.name}: APPEND segment (no merge) -> overlay " +
        s"project (${h.plan.appendOutputs.mkString(", ")})" +
        h.plan.limit.map(n => s" LIMIT $n" +
          (if (h.plan.offset > 0) s" OFFSET ${h.plan.offset}" else "")).getOrElse("")
    else
      s"COMBINER ${h.plan.name}: MERGE state ON (${h.plan.stateKeys.mkString(", ")}) " +
        s"USING (${h.plan.reAggs.map(_._1).mkString(", ")}) -> overlay finalize " +
        s"(${h.plan.aggs.map(_.name).mkString(", ")})"
  }

  /** COPY FROM: bulk-load a file directly into a stream (reference copy.c,
    * commands.c:201-217) — any Spark DataSource format.
    */
  def copyInto(streamName: String, path: String, format: String = "parquet",
      options: Map[String, String] = Map.empty): Unit = {
    val df = exec.read.format(format).options(options).load(path)
    insertInto(streamName, df)
  }

  // Per-CV high-water mark of already-ticked SW buckets (bucket end time).
  // Persisted beside the CV's state (one small file, rewritten per tick) so
  // a restarted engine does not re-emit expiry rows for buckets that were
  // already retracted before the restart.
  // lazy: dropContView touches this during the constructor's catalog replay,
  // before later-declared fields would otherwise initialize
  // concurrent: read/written from the reaper thread and user tick calls
  private lazy val swTickMarks =
    new scala.collection.concurrent.TrieMap[String, java.sql.Timestamp]

  private def tickMarkPath(name: String) = s"$root/$name/_sw_tickmark"

  private def loadTickMark(name: String): java.sql.Timestamp =
    swTickMarks.getOrElseUpdate(name, {
      val p = tickMarkPath(name)
      if (sfs.exists(p)) new java.sql.Timestamp(sfs.readString(p).trim.toLong)
      else new java.sql.Timestamp(0L)
    })

  private def saveTickMark(name: String, mark: java.sql.Timestamp): Unit = {
    swTickMarks(name) = mark
    val p = tickMarkPath(name)
    sfs.mkdirs(s"$root/$name")
    val tmp = p + ".tmp"
    sfs.writeString(tmp, mark.getTime.toString)
    sfs.publish(tmp, p, durable = false, replace = true)
  }

  /** SW tick pass (reference combiner.c:992-1141 `tick_sw_groups` +
    * `project_sw_overlay_into_ostream`): emit expiry rows to the output
    * stream for step buckets that left the window since the last tick —
    * `old` carries the bucket's finalized values, `new` is NULL (the bucket
    * no longer contributes), `delta` carries the expiring partial state so
    * downstream CVs can retract it.
    */
  def tickSw(name: String, now: Option[java.sql.Timestamp] = None): Long = {
    val h = views(name)
    val sw = h.plan.sw.getOrElse(
      throw new IllegalArgumentException(s"CV $name is not a sliding-window view"))
    require(h.changes, s"CV $name has no output stream (emitChanges=false)")
    // same monitor as the store mutators: the expiry scan + emit reads the
    // current version's files, which a concurrent merge would GC
    h.store.synchronized {
    val nowTs = now.getOrElse(new java.sql.Timestamp(System.currentTimeMillis()))
    val cutoff = new java.sql.Timestamp(nowTs.getTime - sw.windowSeconds * 1000L)
    val lastMark = loadTickMark(name)
    val state = h.store.read().getOrElse { saveTickMark(name, cutoff); return 0L }
    // append CVs expire per ROW on the hidden raw timestamp; keyed CVs per
    // step bucket
    val tickCol = if (h.plan.append) CvPlanner.AppendSwTs else sw.bucketCol
    val expired = state
      .where(col(tickCol) <= lit(cutoff) && col(tickCol) > lit(lastMark))
      .persist()
    val n = expired.count()
    if (n > 0) {
      val keys = h.plan.stateKeys
      val oldStruct =
        if (h.plan.append) struct(h.plan.appendOutputs.map(col): _*)
        else struct(h.plan.aggs.map(a =>
          a.buildFinal(a.states.map(st => col(st._1))).as(a.name)): _*)
      val deltaStruct =
        if (h.plan.append) struct(h.plan.appendOutputs.map(col): _*)
        else struct(h.plan.deltaFields.map {
          case (sn, fn) => col(sn).as(fn) }: _*)
      val base = expired.select((keys.map(col) :+ oldStruct.as("old") :+
        deltaStruct.as("delta")): _*)
      val ticks = base
        .withColumn("new", lit(null).cast(base.schema("old").dataType))
        .withColumn("arrival_timestamp", current_timestamp())
        .persist() // archive write + downstream routing
      ticks.write.mode("append").parquet(s"$root/${h.plan.name}/changes")
      // the output stream IS a stream (pipeline_stream.h:40-42): expiry
      // rows route to chained CQs exactly like upsert changes do, so both
      // read paths of output_of(cv) — the archive and live chaining — see
      // the same rows (downstream queries distinguish ticks by new IS NULL)
      val osrel = osrelName(name)
      try {
        if (readers.get(osrel).exists(_.nonEmpty)) insertInto(osrel, ticks)
      } finally ticks.unpersist()
    }
    expired.unpersist()
    saveTickMark(name, cutoff)
    n
    }
  }

  private def ingestBatch(h: CvHandle, batch: DataFrame): Unit = {
    if (h.plan.append) return appendIngest(h, batch)
    val t0 = System.nanoTime()
    var groups = 0L
    var failed = false
    // phase timings captured under the store lock right after upsert —
    // reading h.store.lastWorkerMs in the finally would attribute a
    // previous batch's timings to one that failed before reaching upsert
    // (or a concurrent thread's, since the fields are shared)
    var workerMs = 0L
    var combinerMs = 0L
    val raw = h.plan.workerPartials(exec, batch)
    // LIMIT n on a CV caps total materialized groups (cont_limit.sql):
    // updates to existing groups always apply; NEW groups only admit while
    // the cap has room, chosen deterministically by key order.
    val partials = h.plan.limit match {
      case None => raw
      case Some(n) =>
        val keys = h.plan.stateKeys
        h.store.read() match {
          case None => raw.orderBy(keys.map(col): _*).limit(n)
          case Some(existing) =>
            val existingKeys = existing.select(keys.map(col): _*).persist()
            val current = existingKeys.count()
            // null-safe (<=>) equality: a NULL group key must still match its
            // existing state row, else its updates land in the "new" branch
            // and get dropped once the cap is full.
            val cond = keys.map(k => raw(k) <=> existingKeys(k)).reduce(_ && _)
            val updatesToExisting = raw.join(existingKeys, cond, "left_semi")
            val newAdmitted = raw.join(existingKeys, cond, "left_anti")
              .orderBy(keys.map(col): _*)
              .limit(math.max(0, n - current.toInt))
            existingKeys.unpersist()
            updatesToExisting.unionByName(newAdmitted)
        }
    }
    // Persist the partial-agg result when it has consumers beyond the merge
    // (the changes emit / LIMIT admission joins) — the store's own scan job
    // materializes the cache, so states are still evaluated exactly once.
    // Otherwise the store persists (and releases) the partials itself.
    val multiUse = h.changes || h.plan.limit.isDefined
    val cached = if (multiUse) partials.persist() else partials
    try {
      // The changes emit reads the PRE-commit bucket files (oldRows), whose
      // deletion is deferred to the next mutation's GC — so the emit must
      // complete under the same store monitor the mutators take, or a
      // concurrent ingest/reaper pass on this CV could GC those files
      // mid-read. (Reentrant with upsert's own this.synchronized.) A
      // chained downstream ingest inside emitChanges locks the downstream
      // store while holding this one; creation order makes lock order
      // acyclic unless the user builds a feedback loop, which already
      // diverges as an infinite data cycle.
      h.store.synchronized {
        val (oldRows, newRows, touched) =
          h.store.upsert(cached, h.plan.reAggs, needOldRows = h.changes)
        groups = touched
        workerMs = h.store.lastWorkerMs
        combinerMs = h.store.lastCombinerMs
        if (h.changes) emitChanges(h, oldRows, newRows(), cached)
      }
    } catch { case e: Throwable => failed = true; throw e }
    finally {
      if (multiUse) cached.unpersist()
      recordStats(h.plan.name, "view", groups, (System.nanoTime() - t0) / 1000000, failed,
        workerMs = workerMs, combinerMs = combinerMs)
    }
  }

  /** Append-only ingest: project the batch through the CV's child plan and
    * blind-append it as a new store segment — no merge, no shuffle, no
    * pre-image (appends have none: changes emit old = NULL).
    */
  private def appendIngest(h: CvHandle, batch: DataFrame): Unit = {
    val t0 = System.nanoTime()
    var rows = 0L
    var failed = false
    var workerMs = 0L
    var combinerMs = 0L
    try {
      val out = h.plan.workerRows(exec, batch)
      h.store.synchronized {
        val (_, newRows, n) = h.store.upsert(out, Nil, needOldRows = false)
        rows = n
        workerMs = h.store.lastWorkerMs
        combinerMs = h.store.lastCombinerMs
        if (h.changes && n > 0) {
          val changes = appendChangesFrame(h, newRows())
          writeChanges(h, changes)
        }
      }
    } catch { case e: Throwable => failed = true; throw e }
    finally recordStats(h.plan.name, "view", rows,
      (System.nanoTime() - t0) / 1000000, failed,
      workerMs = workerMs, combinerMs = combinerMs)
  }

  /** Output-stream emit: (old, new, delta) structs per upserted group
    * (reference combiner.c:1503-1610; osrel schema pipeline_stream.h:40-42).
    * old/new carry finalized values; delta carries the applied partial state
    * so downstream CVs can combine((delta).col) (delta_streams.sql:7-21).
    */
  private def changesFrame(
      h: CvHandle, oldRows: Option[DataFrame], newRows: DataFrame, delta: DataFrame): DataFrame = {
    val keys = h.plan.stateKeys
    // finalizeColsAll: hidden aggs (the DISTINCT row counter) stay in the
    // old/new structs so a pure-DISTINCT CV's changes are never field-less
    def finalized(df: DataFrame): DataFrame =
      df.select((keys.map(col) ++ h.plan.finalizeColsAll): _*)
    val newF = finalized(newRows)
      .select(col("*"), struct(h.plan.aggs.map(a => col(a.name)): _*).as("new"))
      .select((keys.map(col) :+ col("new")): _*)
    val oldF = finalized(oldRows.getOrElse(newRows.limit(0)))
      .select(col("*"), struct(h.plan.aggs.map(a => col(a.name)): _*).as("old"))
      .select((keys.map(col) :+ col("old")): _*)
    val deltaF = delta.select(col("*"),
        struct(h.plan.deltaFields.map { case (sn, fn) => col(sn).as(fn) }: _*).as("delta"))
      .select((keys.map(col) :+ col("delta")): _*)
    // null-safe joins: a NULL group key's old/delta must line up with its
    // new row, not dangle as an eternal "first-seen" group. A global
    // aggregate (no keys) has exactly one group: constant-true join.
    def nsJoin(l: DataFrame, r: DataFrame): DataFrame = {
      val cond =
        if (keys.isEmpty) lit(true)
        else keys.map(k => l(k) <=> r(k)).reduce(_ && _)
      val payload = r.columns.filterNot(keys.contains).map(r(_))
      l.join(r, cond, "left_outer")
        .select(l.columns.map(l(_)) ++ payload: _*)
    }
    nsJoin(nsJoin(newF, oldF), deltaF)
      .withColumn("arrival_timestamp",
        lit(new java.sql.Timestamp(System.currentTimeMillis())))
  }

  /** Changes of one append batch: every appended row is an insert —
    * old = NULL, new = delta = the row (no keys, no join: appends have no
    * pre-image to line up with).
    */
  private def appendChangesFrame(h: CvHandle, rows: DataFrame): DataFrame = {
    val withNew = rows.select(
      struct(h.plan.appendOutputs.map(col): _*).as("new"))
    withNew
      .withColumn("old", lit(null).cast(withNew.schema("new").dataType))
      .withColumn("delta", col("new"))
      .withColumn("arrival_timestamp",
        lit(new java.sql.Timestamp(System.currentTimeMillis())))
      .select("new", "old", "delta", "arrival_timestamp")
  }

  private def emitChanges(
      h: CvHandle, oldRows: Option[DataFrame], newRows: DataFrame, delta: DataFrame): Unit =
    writeChanges(h, changesFrame(h, oldRows, newRows, delta))

  private def writeChanges(h: CvHandle, changes: DataFrame): Unit = {
    val osrel = osrelName(h.plan.name)
    val routed = readers.get(osrel).exists(_.nonEmpty)
    // two consumers (archive write + downstream CQs) → evaluate once
    val c = if (routed) changes.persist() else changes
    c.write.mode("append").parquet(s"$root/${h.plan.name}/changes")
    // output streams ARE streams (pipeline_stream.h:40-42): route the change
    // batch into any CQ reading output_of(this) — delta CQ chaining without
    // re-reading the archived parquet (delta_streams.sql:7-58)
    if (routed) {
      try insertInto(osrel, c) finally c.unpersist()
    }
  }

  /** The overlay view: SELECT keys, finalize(state) FROM matrel — plus, for
    * sliding windows, the read-time filter to live buckets and re-combine
    * across step buckets (analyzer.c:2715-2760).
    */
  def overlay(name: String, now: Option[java.sql.Timestamp] = None): DataFrame = {
    val h = views(name)
    val state = h.store.read().getOrElse(emptyState(h))
    if (h.plan.append) {
      // append CV: rows are already final. SW liveness filters the hidden
      // raw timestamp exactly; LIMIT/OFFSET apply in arrival order
      // (cont_limit.sql — the matrel keeps everything, the read serves a
      // slice), and the hidden sequence/timestamp columns never surface.
      val live = h.plan.sw match {
        case Some(sw) =>
          val cutoff = now.map(ts => lit(ts)).getOrElse(current_timestamp()) -
            expr(s"INTERVAL ${sw.windowSeconds} SECOND")
          state.where(col(CvPlanner.AppendSwTs) > cutoff)
        case None => state
      }
      val sliced = (h.plan.limit, h.plan.offset) match {
        case (None, 0) => live
        case (l, o) =>
          val ordered = live.orderBy(
            col(StateStore.PkBatchCol), col(StateStore.PkRowCol))
          val off = if (o > 0) ordered.offset(o) else ordered
          l.map(off.limit).getOrElse(off)
      }
      return sliced.select(h.plan.appendOutputs.map(col): _*)
    }
    h.plan.sw match {
      case None =>
        state.select((h.plan.keyNames.map(col) ++ h.plan.finalizeCols): _*)
      case Some(sw) =>
        val cutoff = now.map(ts => lit(ts)).getOrElse(current_timestamp()) -
          expr(s"INTERVAL ${sw.windowSeconds} SECOND")
        val live = state.where(col(sw.bucketCol) > cutoff)
        // re-combine step buckets grouping by the HIDDEN keys too: a
        // grouping-sets/ROLLUP CV keys state by (visible, grouping_id,
        // bucket), and merging across grouping ids would sum the rollup-
        // total row into the genuine NULL-key group (the finalize exprs
        // still read the hidden columns for grouping() outputs)
        combineState(h, live, h.plan.keyNames ++ h.plan.hiddenKeys.map(_._1),
          projectKeys = h.plan.keyNames)
    }
  }

  /** Register the overlay as a session temp view so the CV is queryable by
    * name in SQL — `SELECT * FROM <cv>` like the reference's overlay view.
    * Re-resolves state at each call; call again after ingests for snapshots.
    */
  def registerOverlay(name: String, now: Option[java.sql.Timestamp] = None): Unit = {
    // rebind onto the caller's session so `spark.sql("... FROM cv")` resolves
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      org.apache.spark.sql.GraftBridge.analyzed(overlay(name, now)))
      .createOrReplaceTempView(bindName(name))
    ownedTempViews += bindName(name)
  }

  /** User-facing combine(): re-aggregate stored states at a coarser key
    * (reference RewriteCombineAggs, analyzer.c:4446-4615).
    */
  def combine(name: String, coarserKeys: Seq[String]): DataFrame = {
    val h = views(name)
    require(!h.plan.append,
      s"combine() requires an aggregating continuous view ($name is append-only)")
    val state = h.store.read().getOrElse(emptyState(h))
    combineState(h, state, coarserKeys)
  }

  /** sw_combine(): like combine() but honoring a sliding-window CV's
    * read-time expiry — only live step buckets contribute (reference
    * sw_combine, pipelinedb--1.0.0.sql:122-140; window filter
    * analyzer.c:2715-2760).
    */
  def swCombine(name: String, coarserKeys: Seq[String],
      now: Option[java.sql.Timestamp] = None): DataFrame = {
    val h = views(name)
    require(!h.plan.append,
      s"sw_combine() requires an aggregating continuous view ($name is append-only)")
    val sw = h.plan.sw.getOrElse(
      throw new IllegalArgumentException(s"CV $name is not a sliding-window view"))
    val state = h.store.read().getOrElse(emptyState(h))
    val cutoff = now.map(ts => lit(ts)).getOrElse(current_timestamp()) -
      expr(s"INTERVAL ${sw.windowSeconds} SECOND")
    combineState(h, state.where(col(sw.bucketCol) > cutoff), coarserKeys)
  }

  private def combineState(h: CvHandle, state: DataFrame, keys: Seq[String],
      projectKeys: Seq[String] = null): DataFrame = {
    val merged = h.plan.reAggs.map { case (n, re) => re(col(n)).as(n) }
    val grouped =
      if (keys.isEmpty) state.agg(merged.head, merged.tail: _*)
      else state.groupBy(keys.map(col): _*).agg(merged.head, merged.tail: _*)
    val out = Option(projectKeys).getOrElse(keys)
    grouped.select((out.map(col) ++ h.plan.finalizeCols): _*)
  }

  private def emptyState(h: CvHandle): DataFrame = {
    // derive the state schema by planning over an empty batch
    val stream = streams(h.streamName)
    val empty = exec.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), stream.schema)
    if (h.plan.append)
      h.plan.workerRows(exec, empty)
        .withColumn(StateStore.PkBatchCol, lit(0L))
        .withColumn(StateStore.PkRowCol, lit(0L))
        .limit(0)
    else h.plan.workerPartials(exec, empty).limit(0)
  }

  /** The raw materialization table (reference `<cv>_mrel`): group keys +
    * partial-state columns, each state column tagged with its combine-kind
    * metadata — so SQL `combine(col)` re-aggregates it at any grouping
    * (matrels_writable read parity).
    */
  def stateOf(name: String): DataFrame =
    // rebound onto the caller's session so temp views registered from it
    // resolve in caller SQL
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      org.apache.spark.sql.GraftBridge.analyzed(
        views(name).store.read().getOrElse(emptyState(views(name)))))

  /** Name of a CQ's output stream (reference `<name>_osrel`, matrel.h:42-46);
    * usable in downstream CV/CT SQL: `... FROM output_of("cv")`.
    */
  def osrelName(name: String): String = s"${name}_osrel"

  /** The output stream (output_of('cv')): all (old, new, delta) changes. */
  def outputOf(name: String): Option[DataFrame] = {
    val dir = s"$root/$name/changes"
    if (sfs.exists(dir)) Some(exec.read.parquet(dir)) else None
  }

  /** combine((delta).col) over a CV's output stream: merge the partial-state
    * deltas at a coarser grouping and finalize — hierarchical rollups
    * without re-reading raw data (reference delta_streams.sql:7-58,
    * analyze_osrel_combine).
    */
  def combineOutputDeltas(name: String, coarserKeys: Seq[String]): DataFrame = {
    val h = views(name)
    require(!h.plan.append,
      s"combine over output deltas requires an aggregating continuous view " +
        s"($name is append-only; read output_of directly)")
    val changes = outputOf(name).getOrElse(
      throw new IllegalStateException(s"CV $name has no output stream"))
      // Upsert rows carry the APPLIED partial state as delta (additive);
      // tickSw expiry rows (new IS NULL) carry the expiring bucket's full
      // state as delta — a retraction marker, not an addition. Summing both
      // would double-count every expired bucket, so the rollup merges only
      // the additive rows: it reflects everything ever added to the CV,
      // not the currently-live window (delta_streams.sql semantics).
      .where(col("new").isNotNull)
    // flatten the delta struct back into state-named columns, then reuse the
    // normal merge+finalize path
    val flat = changes.select((coarserKeys.map(col) ++ h.plan.deltaFields.map {
      case (sn, fn) => col(s"delta.$fn").as(sn)
    }): _*)
    combineState(h, flat, coarserKeys)
  }

  /** TTL reaper pass (reaper.c:49-352): delete state older than ttl.
    * @return the pass's per-bucket counters (see [[StateStore.DeleteStats]])
    */
  def expireTtl(name: String, now: Option[java.sql.Timestamp] = None)
      : StateStore.DeleteStats = {
    val h = views(name)
    // append CVs store the SW timestamp raw (no step buckets) — their
    // implied expiry column is the hidden raw-ts column
    val swExpiryCol =
      if (h.plan.append) CvPlanner.AppendSwTs
      else h.plan.sw.map(_.bucketCol).getOrElse("")
    val (ttlSpec, ttlCol) = (h.plan.options.ttl, h.plan.options.ttlColumn, h.plan.sw) match {
      case (Some(t), colOpt, _) =>
        (t, colOpt.getOrElse(h.plan.sw.map(_ => swExpiryCol).getOrElse(
          throw new IllegalArgumentException(s"CV $name has ttl but no ttl_column"))))
      case (None, _, Some(sw)) => (s"${sw.windowSeconds} seconds", swExpiryCol)
      case _ => return StateStore.DeleteStats(0, 0, 0)
    }
    val seconds = ttlSpec match {
      case s if s.matches("(?i)\\s*\\d+\\s*\\w+\\s*") =>
        CvPlannerIntervals.seconds(s)
      case other => throw new IllegalArgumentException(s"bad ttl: $other")
    }
    // Driver-computed LITERAL cutoff (not current_timestamp()): evaluated
    // once per pass, and a concrete bound is what lets the store prune
    // candidate buckets from parquet footer stats instead of scanning the
    // whole state every reaper tick.
    val nowMs = now.map(_.getTime).getOrElse(System.currentTimeMillis())
    val cutoffTs = new java.sql.Timestamp(nowMs - seconds * 1000L)
    val cutoff = lit(cutoffTs)
    // the ttl column may be a state key (bucket / group column, referenced
    // directly — then footer stats of the physical column can prune) or an
    // aggregate output (e.g. max(ts) AS latest — referenced through its
    // finalizer over the stored state columns; no pruning)
    // append CVs: every output (and the hidden SW ts) is a physical stored
    // column, so footer-stat pruning always applies
    val isPhysical =
      if (h.plan.append)
        h.plan.appendOutputs.contains(ttlCol) || ttlCol == CvPlanner.AppendSwTs
      else h.plan.stateKeys.contains(ttlCol)
    val ttlColExpr =
      if (isPhysical) col(ttlCol)
      else h.plan.aggs.find(_.name == ttlCol)
        .map(a => a.buildFinal(a.states.map(st => col(st._1))))
        .getOrElse(throw new IllegalArgumentException(
          s"ttl_column '$ttlCol' is neither a group key nor an output of CV $name"))
    val pruneHint = if (isPhysical) Some((ttlCol, cutoffTs.getTime * 1000L)) else None
    views(name).store.deleteWhere(ttlColExpr < cutoff, pruneHint)
  }

  // ---- background reaper (reference reaper procs, reaper.c:49-352; SW
  // ticks ride the same timer like the combiner's tick pass) ----

  private var reaper: Option[java.util.concurrent.ScheduledExecutorService] = None

  /** Start the TTL reaper: every `intervalMs`, delete expired state from
    * every CV with a TTL (explicit or sliding-window-implied) and emit SW
    * expiry ticks for sliding-window CVs with output streams. Idempotent;
    * errors are swallowed per pass (the reaper must outlive bad batches).
    */
  def startReaper(intervalMs: Long = 1000L): Unit = synchronized {
    if (reaper.isDefined) return
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-reaper"); t.setDaemon(true); t
    })
    ex.scheduleWithFixedDelay(() => reapOnce(), intervalMs, intervalMs,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    reaper = Some(ex)
  }

  def stopReaper(): Unit = synchronized {
    reaper.foreach(_.shutdownNow())
    reaper = None
  }

  /** One reaper pass over every view (also callable directly from tests /
    * external schedulers).
    */
  def reapOnce(now: Option[java.sql.Timestamp] = None): Unit =
    views.toSeq.foreach { case (name, h) =>
      try {
        // tick BEFORE deleting: expiry rows need the expiring state still
        // present (the reference's reaper likewise lags the combiner's tick
        // pass — sw_expiration.sql keeps mrel rows past view expiry)
        if (h.plan.sw.isDefined && h.changes) tickSw(name, now)
        if (h.plan.options.ttl.isDefined || h.plan.sw.isDefined) expireTtl(name, now)
      } catch { case _: Throwable => () } // next pass retries
    }

  /** Structured Streaming driver for a CV: every micro-batch runs the same
    * ingest path (foreachBatch ≈ the combiner's sync cycle).
    */
  def startStreaming(cvName: String, stream: DataFrame,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      : StreamingQuery = {
    require(views.contains(cvName), s"unknown continuous view $cvName")
    stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", s"$root/${cvName}/_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // re-resolve the handle per batch: deactivate() swaps the handle
        // (active = false), and a closure-captured one would keep merging
        // batches into a deactivated CV's state forever
        val h = views(cvName)
        if (h.active) {
          val withArrival =
            if (batch.columns.contains("arrival_timestamp")) batch
            else batch.withColumn("arrival_timestamp",
              lit(new java.sql.Timestamp(System.currentTimeMillis())))
          ingestBatch(h, withArrival)
        }
      }
      .start()
  }

  /** Structured Streaming driver for a STREAM: every micro-batch goes
    * through the normal ingest path and fans out to every active reader
    * CQ — the reference's runtime shape (one stream, many worker readers,
    * scheduler.c:615-698), where [[startStreaming]] drives a single CV.
    * Checkpointed per stream, so a restarted query resumes exactly-once
    * for all readers together.
    */
  def startStreamingInto(streamName: String, source: DataFrame,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      : StreamingQuery = {
    require(streams.contains(streamName), s"unknown stream $streamName")
    source.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", s"$root/_streams/$streamName/_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        insertInto(streamName, batch)
      }
      .start()
  }
}

/** Per-CQ runtime counters (reference pipelinedb.proc_stats/query_stats,
  * stats.c) — batches/groups in, errors, cumulative exec ms. Top-level so
  * Spark can derive an Encoder (inner case classes cannot be encoded).
  */
final case class CqStats(
    name: String, kind: String, batches: Long,
    groupsOut: Long, errors: Long, execMs: Long)

/** Per-(CQ, proc) timing row (reference pipelinedb.proc_stats shape). */
final case class ProcStats(
    name: String, proc: String, batches: Long, execMs: Long, errors: Long)

/** Per-stream ingest counters (reference pipelinedb.stream_stats shape). */
final case class StreamStats(stream: String, batches: Long, readers: Long)
/** Per-gate funnel counters (the curation pipeline's stream_stats
  * analogue — stats.c:556, pipelinefuncs.c): rows_in/rows_out make a
  * stacked chain's per-stage ATTRITION directly queryable
  * (rows_in = admitted + suppressed of the stage; rows_out = admitted =
  * the next stage's rows_in under a chained sink). */
final case class GateStats(gate: String, kind: String, shards: Int,
    batches: Long, admitted: Long, suppressed: Long,
    rowsIn: Long, rowsOut: Long,
    // deferred store appends that failed and were dropped (the accepted
    // at-least-once loss class — each one means future duplicates of that
    // batch's content may be admitted); operators alert on it growing
    lostCommits: Long,
    // state placement: 'driver' | 'executor', and the RESOLVED executor
    // shard count (0 on the driver tier) — the first things an operator
    // checks when a gate's per-batch cost surprises
    backend: String, stateParts: Int,
    // SESSION-GLOBAL counter stamped on every row (not per-gate):
    // executor JVMs the distributed drop sweep gave up on — each keeps a
    // dropped gate's dead shards on heap until recycle. Zero is healthy;
    // growth means drops are quietly leaking remote memory.
    pendingRemoteDrops: Long)

/** pipelinedb.views catalog row (sql:77-93 shape). */
final case class CvCatalogRow(
    name: String, stream: String, sw: String, stepFactor: Double,
    ttl: String, ttlColumn: String, active: Boolean, changes: Boolean,
    query: String)

/** pipelinedb.transforms catalog row (sql:95-108 shape). */
final case class CtCatalogRow(
    name: String, stream: String, sink: String, active: Boolean,
    changes: Boolean, query: String)

/** Whole-engine summary row (reference pipelinedb.db_stats shape). */
final case class DbStats(
    streams: Long, views: Long, transforms: Long,
    batches: Long, groupsOut: Long, errors: Long, execMs: Long)

object ContViewEngine {
  val Version = "graft 0.2.0 (spark-native continuous views)"

  /** SQL single-quoted string literal, honoring backslash escapes
    * (`'it\'s'`) and `''` doubling (two adjacent matches).
    */
  private[cv] val SqlLiteral = """'(?:[^'\\]|\\.)*'""".r
}

private object CvPlannerIntervals {
  def seconds(spec: String): Long = CvPlanner.intervalSeconds(spec)
}
