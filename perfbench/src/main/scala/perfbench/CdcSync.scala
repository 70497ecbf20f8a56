package perfbench

import graft.{Engine, ServeHttp}
import graft.functions.{Embeddings, JsonRows}
import graft.operators.{Cdc, Chunker, JdbcWatermarkStore, Materialize}
import graft.sources.JdbcSource
import org.apache.spark.sql.functions.{col, count, lit, max}
import org.apache.spark.storage.StorageLevel

import java.sql.{Connection, DriverManager, Timestamp}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `cdc_sync`: the reference's own topology, written and read. Source
  * tables and the watermark table live in one embedded in-memory Derby
  * database (`JdbcSource` + `JdbcWatermarkStore`); every tick is one
  * `Cdc.syncCycleOutcomesOn`, in a closed loop (each delta lands only after
  * the previous tick returned). After a timed backfill, `Engine` builds the
  * IVF index over the sink and `ServeHttp` serves it; then each round is one
  * active tick (the hot table plus one seeded table get inserts and updates
  * that move `ts` forward), `QuietPerRound` all-quiet ticks and one round
  * of `GET /query` from `Serving.Clients` closed-loop clients. */
object CdcSync {
  val Tables = 8
  val BackfillRows = 8000
  /** The hot table's share of the backfill: the slowest table sets the tick time. */
  val HotShare = 0.4
  val HotInserts = 1200
  val HotUpdates = 400
  val ColdInserts = 300
  val ColdUpdates = 100
  val ColdActive = 1
  val SetupReps = 3
  val QuietPerRound = 3

  /** One generated source database and what the generator put in it. */
  final class Db(val url: String, val gen: Gen, val ledger: Ledger, val tables: IndexedSeq[String]) {
    val conn: Connection = DriverManager.getConnection(url)
    private val nextId = mutable.Map[String, Long]().withDefaultValue(1L)

    def hot: String = tables(0)

    private def row(t: String, id: Long): RowVersion = {
      val r = gen.rnd
      RowVersion(t, id, gen.nextTs(), gen.words(2 + r.nextInt(2)), r.nextInt(10000),
        java.math.BigDecimal.valueOf(r.nextInt(10000000).toLong, 2),
        if (r.nextInt(10) == 0) null else gen.words(6 + r.nextInt(14)))
    }

    private def bind(ps: java.sql.PreparedStatement, v: RowVersion, idLast: Boolean): Unit = {
      val base = if (idLast) 0 else 1
      if (!idLast) ps.setLong(1, v.id)
      ps.setTimestamp(base + 1, v.ts); ps.setString(base + 2, v.name); ps.setInt(base + 3, v.qty)
      ps.setBigDecimal(base + 4, v.amount); ps.setString(base + 5, v.note)
      if (idLast) ps.setLong(6, v.id)
    }

    /** Insert `inserts` new rows and update `updates` distinct existing ones. */
    def land(t: String, inserts: Int, updates: Int): Int = {
      val ins = (0 until inserts).map { _ => val id = nextId(t); nextId(t) = id + 1; row(t, id) }
      val existing = nextId(t) - 1 - inserts
      val upd = gen.rnd.shuffle((1L to existing).toVector).take(updates).map(row(t, _))
      val pi = conn.prepareStatement(s"INSERT INTO $t (ID, TS, NAME, QTY, AMOUNT, NOTE) VALUES (?, ?, ?, ?, ?, ?)")
      try { ins.foreach { v => bind(pi, v, idLast = false); pi.addBatch() }; pi.executeBatch() } finally pi.close()
      val pu = conn.prepareStatement(s"UPDATE $t SET TS = ?, NAME = ?, QTY = ?, AMOUNT = ?, NOTE = ? WHERE ID = ?")
      try { upd.foreach { v => bind(pu, v, idLast = true); pu.addBatch() }; pu.executeBatch() } finally pu.close()
      conn.commit()
      (ins ++ upd).foreach(ledger.add)
      ins.size + upd.size
    }

    /** Watermarks as stored in the database, read with plain JDBC. */
    def watermarks(): Map[String, Timestamp] = {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery("SELECT table_name, last_updated FROM watermark")
        val out = mutable.Map[String, Timestamp]()
        while (rs.next()) out(rs.getString(1)) = rs.getTimestamp(2)
        out.toMap
      } catch { case _: java.sql.SQLException => Map.empty }
      finally { st.close(); conn.commit() }
    }

    def drop(): Unit = {
      conn.rollback()
      conn.close()
      try DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
      catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
    }
  }

  /** Generate the seeded catalog: `Tables` tables, one of them hot. */
  def buildDb(seed: Long, name: String, nTables: Int = Tables, rows: Int = BackfillRows): Db = {
    val gen = new Gen(seed)
    val url = s"jdbc:derby:memory:perfbench_${seed}_$name;create=true"
    val tables = (0 until nTables).map(i => f"T$i%02d")
    val db = new Db(url, gen, new Ledger, tables)
    db.conn.setAutoCommit(false)
    val st = db.conn.createStatement()
    tables.foreach(t => st.executeUpdate(s"CREATE TABLE $t (ID BIGINT NOT NULL PRIMARY KEY, " +
      "TS TIMESTAMP NOT NULL, NAME VARCHAR(64), QTY INT, AMOUNT DECIMAL(12,2), NOTE VARCHAR(400))"))
    st.close()
    db.conn.commit()
    val hotRows = (rows * HotShare).toInt
    val coldRows = (rows - hotRows) / (nTables - 1)
    val sizes = (rows - coldRows * (nTables - 1)) +: Seq.fill(nTables - 1)(coldRows)
    tables.zip(sizes).foreach { case (t, n) => db.land(t, n, 0) }
    db
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.session
    val checks = new Checks
    val trace = ctx.trace
    val sessionReady = ctx.sinceStart
    // set-up: the catalog is generated `SetupReps` times (the median counts);
    // a small throwaway catalog is backfilled and ticked twice first, so the
    // timed part does not pay the JVM's first compilation of the sync path
    val (_, warmMs) = Stats.timed {
      val w = buildDb(ctx.seed, "warm", nTables = 2, rows = 400)
      val (ws, wst) = (JdbcSource(w.url, schemaPattern = Some("APP")), JdbcWatermarkStore(w.url))
      (0 until 3).foreach { i =>
        if (i > 0) w.tables.foreach(t => w.land(t, ColdInserts, ColdUpdates))
        Cdc.syncCycleOutcomesOn(spark, ws, wst, s"${ctx.scratch}/warm_sink", parallelism = ctx.cpus)
      }
      ws.closePool(); wst.closePool()
      w.drop()
    }
    var db: Db = null
    val setupMs = (1 to SetupReps).map { rep =>
      if (db != null) db.drop()
      val (d, ms) = Stats.timed(buildDb(ctx.seed, rep.toString))
      db = d
      ms
    }
    val sinkDir = s"${ctx.scratch}/sink"
    val source = JdbcSource(db.url, schemaPattern = Some("APP"))
    val store = JdbcWatermarkStore(db.url)
    val setupS = sessionReady + (warmMs + Stats.median(setupMs)) / 1000
    var attempted = 0L

    def tick(): Map[String, Long] = {
      attempted += 1
      val out = Cdc.syncCycleOutcomesOn(spark, source, store, sinkDir, parallelism = ctx.cpus)
      out.map {
        case (t, Cdc.TableSynced(n)) => t -> n
        case (t, Cdc.TableFailed(e)) => throw new IllegalStateException(s"table $t failed: ${e.getMessage}", e)
      }
    }

    // (1) backfill
    val (synced0, backfillMs) = Stats.timed(tick())
    checks.require(synced0.values.sum == BackfillRows,
      s"backfill synced ${synced0.values.sum} rows, generated $BackfillRows")
    val connsAtStart = source.connectionsOpened + store.connectionsOpened

    // the read side: the IVF index over the backfilled sink, served over HTTP
    // by the engine facade (its source and state directories are unused)
    val engine = new Engine(spark, s"${ctx.scratch}/engine_source", s"${ctx.scratch}/engine_state",
      sinkDir, autoRefreshIvf = false)
    val refreshMs = mutable.ArrayBuffer(Stats.timed(engine.refreshIvfIndex())._2)
    val server = new ServeHttp(engine)
    val port = server.start(0)
    val answers = mutable.ArrayBuffer[Serving.Answer]()
    val direct = new ConcurrentLinkedQueue[(Boolean, Double, Double)]()

    val activeMs = mutable.ArrayBuffer[Double]()
    val quietMs = mutable.ArrayBuffer[Double]()
    val tracedActiveMs = mutable.ArrayBuffer[Double]()
    val layer = new TickLayers
    val window0 = System.nanoTime()
    var round = 0
    // a traced run alternates traced and plain rounds, so it needs two
    val minRounds = if (trace.enabled) 2 else 1
    while (round < minRounds || (System.nanoTime() - window0) / 1e9 < ctx.seconds) {
      // (2) an active tick: the hot table plus one seeded other
      val active = db.hot +: db.gen.rnd.shuffle(db.tables.tail.toVector).take(ColdActive)
      val landed = active.map { t =>
        t -> (if (t == db.hot) db.land(t, HotInserts, HotUpdates) else db.land(t, ColdInserts, ColdUpdates))
      }.toMap
      val tracedTick = trace.enabled && round % 2 == 0
      val (synced, ms) =
        if (tracedTick) Stats.timed(layer.tick(ctx, source, store, sinkDir, s"active-$round", active = true))
        else Stats.timed(tick())
      if (tracedTick) { attempted += 1; tracedActiveMs += ms } else activeMs += ms
      val wrong = synced.filter { case (t, n) => n != landed.getOrElse(t, 0) }
      checks.require(wrong.isEmpty, s"active tick $round synced ${wrong.mkString(", ")}; landed ${landed.mkString(", ")}")

      // (3) all-quiet ticks must leave the snapshot and the watermarks alone
      (0 until QuietPerRound).foreach { i =>
        val before = (SinkCheck.pointer(sinkDir), SinkCheck.liveFiles(sinkDir), db.watermarks())
        val (quiet, qms) =
          if (tracedTick) Stats.timed(layer.tick(ctx, source, store, sinkDir, s"quiet-$round-$i", active = false))
          else Stats.timed(tick())
        if (tracedTick) attempted += 1 else quietMs += qms
        checks.require(quiet.values.forall(_ == 0L), s"quiet tick $round/$i synced rows: $quiet")
        val after = (SinkCheck.pointer(sinkDir), SinkCheck.liveFiles(sinkDir), db.watermarks())
        checks.require(before == after, s"quiet tick $round/$i changed the sink snapshot or the watermarks")
      }

      // (4) a round of queries against the sink as it now stands
      answers ++= Serving.round(ctx, engine, sinkDir, port, db.gen, round, direct)
      attempted += Serving.Clients * Serving.PerClient
      round += 1
    }
    val connsOpened = source.connectionsOpened + store.connectionsOpened - connsAtStart

    // final state against the ledger
    val vs = SinkCheck.readAll(spark, sinkDir)
    SinkCheck.checkVectors(vs, checks, "cdc_sync")
    SinkCheck.checkLedger(vs, db.ledger, checks, "cdc_sync")
    val wms = db.watermarks()
    db.tables.foreach { t =>
      checks.require(wms.get(t) == db.ledger.maxTs.get(t),
        s"watermark of $t is ${wms.get(t)}, generator max ts ${db.ledger.maxTs.get(t)}")
    }
    val byId = vs.map(v => v.id -> v.emb).toMap
    Serving.checkAnswers(answers.toSeq, byId, checks)
    val r = new scala.util.Random(ctx.seed)
    (0 until 3).foreach(_ => Serving.checkExact(Serving.get(port, db.gen.words(3, r), exact = true), vs, checks))
    // chunks of the last delta, sent as queries, must find themselves first
    val newest = db.ledger.versions.takeRight(ColdInserts + ColdUpdates).map(_.key).toSet
    val fresh = vs.filter(v => SinkCheck.docs(v.text).exists(d =>
      newest((v.source, d.path("ID").asLong(), d.path("TS").asText())))).take(2)
    checks.require(fresh.nonEmpty, "no chunk of the last delta is in the sink")
    fresh.foreach { v =>
      val a = Serving.get(port, v.text, exact = true)
      checks.require(a.ids.headOption.contains(v.id), s"chunk ${v.id} sent as a query ranks ${a.ids.indexOf(v.id)}, not first")
    }
    val recall =
      if (!trace.enabled) 0.0
      else {
        refreshMs += Stats.timed(engine.refreshIvfIndex())._2
        Stats.median((0 until 10).map { _ =>
          val q = db.gen.words(3, r)
          val got = engine.searchIvf(engine.ivfIndexDir(), q, Serving.K).collect().map(_.getString(0)).toSet
          Serving.bruteTopK(vs, q, Serving.K).count { case (id, _) => got(id) }.toDouble / Serving.K
        })
      }
    server.stop()
    source.closePool(); store.closePool()
    db.drop()

    val metrics =
      if (!trace.enabled) Seq(
        ("setup_s", setupS, "s"),
        ("op_ms_p50", Stats.median(activeMs.toSeq), "ms"),
        ("op2_ms_p50", Stats.median(answers.filter(_.exact).map(_.ms).toSeq), "ms"),
        ("query_ms_p50", Stats.median(answers.filterNot(_.exact).map(_.ms).toSeq), "ms"),
        ("rate_per_s", BackfillRows / (backfillMs / 1000), "1/s"))
      else {
        trace.settle()
        def spanMed(name: String) = {
          val xs = trace.spans.filter(_.name == name).map(_.ms)
          if (xs.isEmpty) 0.0 else Stats.median(xs)
        }
        val ivfSpans = trace.spans.filter(_.name == "query.ivf")
        val ds = direct.asScala.toSeq.filterNot(_._1)
        layer.metrics(trace, connsOpened) ++ Seq(
          ("trace.overhead_ms", Stats.median(tracedActiveMs.toSeq) - Stats.median(activeMs.toSeq), "ms"),
          ("tick.quiet_ms", Stats.median(quietMs.toSeq), "ms"),
          ("sink.read_ms", spanMed("sink.read"), "ms"),
          ("search.exact_ms", spanMed("search.exact"), "ms"),
          ("ivf.search_ms", spanMed("ivf.search"), "ms"),
          ("ivf.refresh_ms", Stats.median(refreshMs.toSeq), "ms"),
          ("http.overhead_ms", Stats.median(ds.map(d => d._2 - d._3)), "ms"),
          ("spark.jobs_per_query", Stats.median(ivfSpans.map(s => trace.countsUnder(Set(s.id)).jobs.toDouble)), "count"),
          ("ivf.recall_at_10", recall, "ratio"))
      }
    Result(checks.ok, attempted, 0L, metrics, checks.all)
  }

  /** The traced tick: the same delta as a sequence of layer calls, each
    * layer's output forced before it is handed on (the layers pass each
    * other lazy DataFrames, so wrapping the normal call would charge all
    * the work to whichever layer happens to force it). Mirrors
    * `Cdc.syncTableOn`, one table at a time. */
  final class TickLayers {
    private val counters = mutable.Map[String, mutable.Map[String, Double]]()
    private def add(op: String, name: String, v: Double): Unit =
      counters.getOrElseUpdate(op, mutable.Map[String, Double]().withDefaultValue(0.0))(name) += v
    private val activeOps = mutable.ArrayBuffer[String]()
    private val quietOps = mutable.ArrayBuffer[String]()

    def tick(ctx: Ctx, source: JdbcSource, store: JdbcWatermarkStore, sinkDir: String,
        op: String, active: Boolean): Map[String, Long] = {
      val spark = ctx.session
      val trace = ctx.trace
      (if (active) activeOps else quietOps) += op
      trace.span("tick", op) {
        Cdc.initVectorSink(spark, sinkDir)
        val tables = trace.span("sources.list")(source.listTables())
          .filterNot(_.equalsIgnoreCase(Cdc.WatermarkTable))
        val wms = trace.span("watermark.read")(store.readAll())
        tables.map { t =>
          val wm = wms.get(t)
          val quiet = trace.span("sources.probe")(wm.exists(w => source.changeMax(t, "ts") match {
            case Some(Some(mx)) => !mx.after(w)
            case _ => false
          }))
          if (quiet) t -> 0L
          else {
            val src = trace.span("sources.relation") { val df = source.table(spark, t); df.columns; df }
            val agg = trace.span("cdc.delta_agg")(Cdc.deltaScan(src, "ts", wm)
              .agg(count(lit(1)), max(col("ts"))).collect()(0))
            val n = agg.getLong(0)
            if (n == 0L) t -> 0L
            else {
              add(op, "cdc.delta_rows", n.toDouble)
              val newWm = Cdc.asTimestamp(agg.get(1))
              val s2 = Materialize.loopWidthSession(spark, n)
              val delta = Cdc.boundedDeltaScan(if (s2 eq spark) src else source.table(s2, t), "ts", wm, newWm)
              val chunks = trace.span("chunker") {
                val json = delta.withColumn("_json", JsonRows.toJsonCol(delta))
                val c = Chunker.chunkScalable(json, col("_json"), t, Chunker.DefaultChunkSize)
                  .persist(StorageLevel.MEMORY_AND_DISK)
                add(op, "chunker.chunks", c.count().toDouble)
                c
              }
              val vectors = trace.span("embeddings") {
                val v = chunks.select(col("id"), Embeddings.embedCol(col("text")).as("embedding"),
                  col("source"), col("text")).persist(StorageLevel.MEMORY_AND_DISK)
                v.count()
                v
              }
              val staged = trace.span("sink.stage")(Cdc.stageUpsert(s2, sinkDir, vectors))
              val stagedBytes = staged.map(s => SinkCheck.bytesUnder(new java.io.File(s.stageDir))).getOrElse(0L)
              val rootsBefore = SinkCheck.rootDirs(sinkDir)
              trace.span("sink.commit")(staged.foreach(Cdc.commitStagedUpsert(s2, sinkDir, _)))
              val written = (SinkCheck.rootDirs(sinkDir) -- rootsBefore).toSeq
                .map(r => SinkCheck.bytesUnder(new java.io.File(sinkDir, r))).sum
              add(op, "sink.bytes_written", written.toDouble)
              add(op, "sink.staged_bytes", stagedBytes.toDouble)
              trace.span("watermark.commit")(store.update(t, newWm))
              vectors.unpersist(); chunks.unpersist()
              t -> n
            }
          }
        }.toMap
      }
    }

    def metrics(trace: Trace, connsOpened: Long): Seq[(String, Double, String)] = {
      def med(ops: Seq[String], f: String => Double): Double =
        if (ops.isEmpty) 0.0 else Stats.median(ops.map(f))
      def spanMs(name: String, ops: Seq[String]): Double = {
        val byOp = trace.msByOp(name)
        med(ops, op => byOp.getOrElse(op, 0.0))
      }
      def counter(name: String): Double = med(activeOps.toSeq, op => counters.get(op).map(_(name)).getOrElse(0.0))
      val tickSpans = trace.spans.filter(_.name == "tick").groupBy(_.op).map { case (op, ss) => op -> ss.map(_.id).toSet }
      def perTick(f: Trace.Counts => Long): Double =
        med(activeOps.toSeq, op => f(trace.countsUnder(tickSpans.getOrElse(op, Set.empty))).toDouble)
      val a = activeOps.toSeq
      val q = quietOps.toSeq
      Seq(
        ("sources.list_ms", spanMs("sources.list", q), "ms"),
        ("sources.probe_ms", spanMs("sources.probe", q), "ms"),
        ("sources.relation_ms", spanMs("sources.relation", a), "ms"),
        ("jdbc.connections_opened", connsOpened.toDouble, "count"),
        ("cdc.delta_agg_ms", spanMs("cdc.delta_agg", a), "ms"),
        ("cdc.delta_rows", counter("cdc.delta_rows"), "rows"),
        ("chunker.ms", spanMs("chunker", a), "ms"),
        ("chunker.chunks", counter("chunker.chunks"), "count"),
        ("embeddings.ms", spanMs("embeddings", a), "ms"),
        ("sink.stage_ms", spanMs("sink.stage", a), "ms"),
        ("sink.commit_ms", spanMs("sink.commit", a), "ms"),
        ("sink.bytes_written", counter("sink.bytes_written"), "bytes"),
        ("sink.write_amp", med(a, op => counters.get(op).map(c =>
          if (c("sink.staged_bytes") > 0) c("sink.bytes_written") / c("sink.staged_bytes") else 0.0).getOrElse(0.0)), "ratio"),
        ("watermark.read_ms", spanMs("watermark.read", q), "ms"),
        ("watermark.commit_ms", spanMs("watermark.commit", a), "ms"),
        ("spark.jobs_per_tick", perTick(_.jobs), "count"),
        ("spark.shuffle_bytes_per_tick", perTick(_.shuffleBytes), "bytes"))
    }
  }
}
