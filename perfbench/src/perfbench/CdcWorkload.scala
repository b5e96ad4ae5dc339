package perfbench

import java.sql.{Connection, DriverManager}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Upsert
import graft.sinks.JdbcUpsertSink
import graft.sources.CdcEnvelope
import graft.streaming.StreamRunner

/** The reference's job end to end: a Debezium change log in an outbox
  * table (embedded Derby), read by the watermark-cursor stream, decoded
  * with `unwrapTolerant`, reduced with `latestByKey` and upserted into a
  * soft-delete sink table, with malformed records in a dead-letter table.
  *
  * A phase is a catch-up drain of a preloaded backlog under AvailableNow,
  * then a restart from the same checkpoint under the default trigger while
  * one generator thread appends the tail as an open loop at a fixed rate.
  */
object CdcWorkload {

  /** The backlog is `BacklogRowsPerS` × seconds rows and the tail
    * `tail_rows_per_s` × seconds × `TailShare`: at 10 s, a 35,000-row
    * backlog that a warm catch-up drained in 5.4–5.9 s on a 4-core host,
    * then 3 s of tail. A 25,000-row backlog drained in about 3.5 s, and its
    * drain time spread 9% across five seeds against 5% for 35,000 rows;
    * the shorter tail pays for the longer drain.
    */
  private val BacklogRowsPerS = 3500.0
  private val TailShare = 0.3
  /** Catch-up batches of 5,000 rows, the size the first prototype used:
    * seven catch-up batches at 10 s, each with its own three Spark jobs.
    */
  private val MaxRowsPerPoll = 5000L
  /** About 3% of records malformed or tombstoned. */
  private val BadShare = 0.03

  val payload: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("ts_us", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("op", StringType)))

  private val changeCols = "user_id, event_id, ts_us, event_type, value, op"

  /** What one phase measured. `calls` are the foreachBatch call-site
    * spans: (batch id, name, layer, start, end).
    */
  final case class Outcome(catchupRowsPerS: Double, lagMs: Seq[Double],
                           progress: Seq[StreamingQueryProgress],
                           calls: Seq[(Long, String, String, Long, Long)],
                           ticks: Seq[(Long, Long)], genLateMs: Seq[Double],
                           phaseSpans: Seq[(String, Long, Long)])

  def run(spark: SparkSession, sfDir: String, ratePerS: Double, seed: Long,
          seconds: Double, trace: Boolean, jvmStartMs: Long, out: Result,
          outDir: java.nio.file.Path, traceFile: java.nio.file.Path): Unit = {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")),
        col("user_id"), col("event_type"), col("value"))
      .collect().map(r => Event(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSeq
    val log = CdcLog.generate(events, seed, BadShare)
    val backlog = math.round(BacklogRowsPerS * seconds).toInt
    val tail = math.round(ratePerS * seconds * TailShare).toInt
    require(backlog + tail <= log.size, s"log too short: $backlog + $tail > ${log.size}")
    val used = log.take(backlog + tail)
    val expected = expectedSink(spark, used, out)
    def phase(name: String, tr: Tracer, rows: Option[RowCounter] = None) =
      new Phase(spark, name, used, backlog, tail, ratePerS, outDir, tr, rows)
    def finish(p: Phase, o: Outcome): Outcome = { p.verify(expected, out); p.drop(); o }
    def untraced(name: String): Outcome = {
      val p = phase(name, new Tracer(false, name))
      p.load()
      finish(p, p.execute(out))
    }

    // warm-up: the whole phase once, catch-up and tail, so the timed phase
    // and every later one run on an equally warm JIT and Derby
    untraced("warm")
    val main = phase("untraced", new Tracer(false, "untraced"))
    main.load()
    out.put("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0, "s")
    val a = finish(main, main.execute(out))
    // sweep_s is the drain time of the fixed backlog; the pipeline's own
    // figures ride along as the cdc.* metrics of the traced run
    out.put("sweep_s", backlog / a.catchupRowsPerS, "s")
    out.put("cdc.catchup_rows_per_s", a.catchupRowsPerS, "rows/s")
    require(Stats.reportable(a.lagMs.size, 90), s"only ${a.lagMs.size} lag samples")
    out.put("cdc.lag_p50_ms", Stats.percentile(a.lagMs, 50), "ms")
    out.put("cdc.lag_p90_ms", Stats.percentile(a.lagMs, 90), "ms")
    System.err.println(f"[perfbench] catch-up ${a.catchupRowsPerS}%.0f rows/s, lag p50 " +
      f"${Stats.percentile(a.lagMs, 50)}%.0f ms p90 ${Stats.percentile(a.lagMs, 90)}%.0f ms " +
      s"over ${a.lagMs.size} rows")

    if (trace) {
      val sc = spark.sparkContext
      val probe = new Probe
      val rows = new RowCounter
      val tr = new Tracer(true, "traced")
      val traced = phase("traced", tr, Some(rows))
      traced.load()
      BusDrain.drain(sc)
      sc.addSparkListener(probe)
      val b = traced.execute(out)
      BusDrain.drain(sc)
      sc.removeSparkListener(probe)
      finish(traced, b)
      // the traced phase sits between two untraced ones, so the overhead
      // compares it with phases as warm as itself
      val a2 = untraced("untraced2")
      val untracedRate = (a.catchupRowsPerS + a2.catchupRowsPerS) / 2
      System.err.println(f"[perfbench] catch-up rows/s: untraced ${a.catchupRowsPerS}%.0f, " +
        f"traced ${b.catchupRowsPerS}%.0f, untraced ${a2.catchupRowsPerS}%.0f")
      perLayer(b, probe, rows, used, untracedRate, tr, out)
      TraceFile.write(traceFile, tr.all, out,
        s""""untraced_catchup_rows_per_s":[${Json.num(a.catchupRowsPerS)},${Json.num(a2.catchupRowsPerS)}],""" +
          s""""traced_catchup_rows_per_s":${Json.num(b.catchupRowsPerS)},""" +
          s""""jobs":${probe.jobs.get},"batches":${ProgressStats.batches(b.progress).size}""")
    }
  }

  /** `applyCdcWithDeletes` over the whole log, as the sink should hold it;
    * it must itself agree with the benchmark's model of the log.
    */
  private def expectedSink(spark: SparkSession, log: Seq[Record], out: Result): Set[Change] = {
    val rows = log.flatMap(_.change)
      .map(c => Row(c.userId, c.eventId, c.tsUs, c.eventType, c.value, c.op))
    val expected = Upsert.applyCdcWithDeletes(
        spark.createDataFrame(rows.asJava, payload), col("op"),
        Seq(col("user_id")), Seq(col("ts_us"), col("event_id")))
      .collect().map(r => Change(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5))).toSet
    val model = CdcLog.expectedState(log).values.toSet
    if (model != expected)
      out.fail(s"applyCdcWithDeletes (${expected.size} keys) differs from the model (${model.size})")
    else out.ok()
    expected
  }

  /** Per-layer figures of the traced phase; spans are rebuilt into the
    * tracer as phase → batch → call site.
    */
  private def perLayer(b: Outcome, probe: Probe, rows: RowCounter,
                       log: Seq[Record], untracedRate: Double, tr: Tracer,
                       out: Result): Unit = {
    val counts = probe.snapshot()
    val batches = ProgressStats.batches(b.progress)
    val stats = ProgressStats.metrics(b.progress)
    stats.foreach { case (k, v) => out.put(k, v, if (k.endsWith("_ms")) "ms" else "count") }
    out.put("streaming.jobs_per_batch", counts.jobs.toDouble / math.max(1, batches.size), "count")
    // every batch that read rows runs the same jobs, whatever its size
    val perBatch = batches.map(p => p.batchId -> probe.batchJobs.synchronized(
      probe.batchJobs.getOrElse(p.batchId, 0)))
    if (perBatch.map(_._2).distinct.size != 1)
      out.fail("traced: jobs per batch differ: " + perBatch.map { case (i, n) => s"$i:$n" }.mkString(","))
    else out.ok()
    out.put("sources.backlog_max_rows", batches.flatMap { p =>
      val s = p.sources.head
      for (l <- Batches.offsetId(s.latestOffset); e <- Batches.offsetId(s.endOffset))
        yield (l - e).toDouble
    }.maxOption.getOrElse(0.0), "count")
    // rows leaving latestByKey and reaching the dead-letter leg, as the
    // executed plans counted them, must match the log: per batch range,
    // the distinct keys among its valid records and its malformed records
    val ranges = batches.flatMap(p => for {
      // the first batch of a fresh checkpoint may carry no start offset
      s <- Batches.offsetId(p.sources.head.startOffset).map(math.max(_, 0L)).orElse(Some(0L))
      e <- Batches.offsetId(p.sources.head.endOffset)
    } yield (s, e))
    val wantDedup = ranges.map { case (s, e) =>
      log.slice(s.toInt, e.toInt).flatMap(_.change.map(_.userId)).distinct.size.toLong }.sum
    val wantDlq = ranges.map { case (s, e) => log.slice(s.toInt, e.toInt).count(_.malformed).toLong }.sum
    if (rows("upsert") != wantDedup || rows("dlq") != wantDlq)
      out.fail(s"traced: plans wrote ${rows("upsert")} upsert and ${rows("dlq")} dead-letter " +
        s"rows, the batches hold $wantDedup and $wantDlq")
    else out.ok()
    def callMs(name: String) = b.calls.filter(_._2 == name).map(c => (c._5 - c._4) / 1e6).sum
    out.put("operators.dedup_out_rows", rows("upsert").toDouble, "count")
    out.put("operators.build_ms", callMs("decode+dedup"), "ms")
    out.put("sinks.upsert_ms", callMs("upsert"), "ms")
    out.put("sinks.dlq_ms", callMs("dlq"), "ms")
    out.put("sinks.dlq_rows", rows("dlq").toDouble, "count")
    out.put("bench.gen_late_ms", Stats.percentile(b.genLateMs, 90), "ms")
    out.put("spark.tasks", counts.tasks.toDouble, "count")
    out.put("spark.gc_ms", counts.gcMs.toDouble, "ms")
    out.put("spark.max_task_ms", counts.maxTaskMs.toDouble, "ms")
    out.put("spark.shuffle_write_mb", counts.shuffleWrite / 1048576.0, "MB")
    out.put("spark.shuffle_read_mb", counts.shuffleRead / 1048576.0, "MB")
    out.put("spark.spill_mb", counts.spill / 1048576.0, "MB")

    // span tree: phase (bench: the harness waits) → batch (streaming) →
    // call sites
    val phaseIds = b.phaseSpans.map { case (n, s, e) => (n, s, e, tr.add(n, "bench", s, e)) }
    val byBatch = b.calls.groupBy(_._1)
    b.progress.filter(_.numInputRows > 0).foreach { p =>
      val (s, e) = ProgressStats.interval(p)
      val parent = phaseIds.find { case (_, ps, pe, _) => s >= ps - 5000000L && s <= pe }
        .map(_._4).getOrElse(-1)
      val id = tr.add(s"batch ${p.batchId}", "streaming", s, e, parent)
      def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue * 1000000L).getOrElse(0L)
      tr.add("latestOffset", "sources", s, s + d("latestOffset"), id)
      val g0 = s + d("latestOffset") + d("walCommit")
      tr.add("getBatch", "sources", g0, g0 + d("getBatch"), id)
      byBatch.getOrElse(p.batchId, Nil).foreach { case (_, n, l, cs, ce) => tr.add(n, l, cs, ce, id) }
    }
    b.ticks.foreach { case (s, e) => tr.add("tick", "bench", s, e) }
    tr.selfMsByLayer.foreach { case (l, v) => out.put(s"$l.self_ms", v, "ms") }
    out.put("trace.overhead_pct", (untracedRate / b.catchupRowsPerS - 1) * 100, "%")
  }

  /** One pipeline over its own Derby database and checkpoint. */
  private final class Phase(spark: SparkSession, name: String, log: Seq[Record],
      backlog: Int, tail: Int, ratePerS: Double, outDir: java.nio.file.Path, tr: Tracer,
      rows: Option[RowCounter]) {
    private val db = s"perfbench_$name"
    private val url = s"jdbc:derby:memory:$db"
    private val checkpoint = outDir.resolve(s"checkpoint_$name").toString
    private val commitNs = new ConcurrentHashMap[Long, Long]()
    private val calls = mutable.ArrayBuffer[(Long, String, String, Long, Long)]()

    private def withConn[T](f: Connection => T): T = {
      val c = DriverManager.getConnection(url)
      try f(c) finally c.close()
    }

    def load(): Unit = {
      Files.deleteTree(java.nio.file.Paths.get(checkpoint))
      val c = DriverManager.getConnection(s"$url;create=true")
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE outbox (id BIGINT NOT NULL PRIMARY KEY, " +
          "updated_us BIGINT NOT NULL, value VARCHAR(1024), due_ms BIGINT)")
        st.execute("CREATE INDEX outbox_cursor ON outbox (updated_us, id)")
        st.execute("CREATE TABLE sink_events (user_id BIGINT NOT NULL PRIMARY KEY, " +
          "event_id BIGINT, ts_us BIGINT, event_type VARCHAR(32), value DOUBLE, op VARCHAR(1))")
        st.execute("CREATE TABLE dlq (raw VARCHAR(1024), error VARCHAR(32))")
        c.setAutoCommit(false)
        val ps = c.prepareStatement(insertSql)
        val now = System.currentTimeMillis()
        log.take(backlog).grouped(1000).foreach { chunk =>
          chunk.foreach { r => bind(ps, r, now); ps.addBatch() }
          ps.executeBatch()
        }
        c.commit()
      } finally c.close()
    }

    private val insertSql = "INSERT INTO outbox (id, updated_us, value, due_ms) VALUES (?, ?, ?, ?)"

    private def bind(ps: java.sql.PreparedStatement, r: Record, dueMs: Long): Unit = {
      ps.setLong(1, r.id); ps.setLong(2, r.updatedUs)
      ps.setString(3, r.raw.orNull); ps.setLong(4, dueMs)
    }

    private val sinkFn = JdbcUpsertSink.upsertBatch(url, "sink_events", Seq("user_id"))
    private val dlqFn = JdbcUpsertSink.upsertBatch(url, "dlq", Seq("raw"))

    private val perBatch: (DataFrame, Long) => Unit = (batch, id) => {
      def call[T](n: String, layer: String)(f: => T): T = {
        val s = tr.now()
        val v = f
        if (tr.enabled) calls.synchronized(calls += ((id, n, layer, s, tr.now())))
        v
      }
      val (dedup, bad) = call("decode+dedup", "operators") {
        val (good, bad) = CdcEnvelope.unwrapTolerant(batch, col("value"), payload)
        (Upsert.latestByKey(good, Seq(col("user_id")), Seq(col("ts_us"), col("event_id"))), bad)
      }
      call("upsert", "sinks")(sinkFn(dedup, id))
      call("dlq", "sinks")(dlqFn(bad, id))
      commitNs.put(id, System.nanoTime())
    }

    private def start(trigger: Option[Trigger]): StreamingQuery = {
      val source = StreamRunner.streamJdbcCursor(spark, url, "outbox",
        maxRowsPerPoll = Some(MaxRowsPerPoll))
      val w = source.writeStream.foreachBatch(perBatch)
        .option("checkpointLocation", checkpoint)
      trigger.foreach(w.trigger)
      // the source lives on a child session of `spark`, which the query
      // copies when it starts: the row counter is on that child only while
      // this query starts, so later phases run without it
      val listeners = source.sparkSession.listenerManager
      rows.foreach(listeners.register)
      try w.start() finally rows.foreach(listeners.unregister)
    }

    private def counted(q: StreamingQuery, out: Result): Seq[StreamingQueryProgress] = {
      val ps = q.recentProgress.toSeq
      ProgressStats.batches(ps).foreach(_ => out.ok())
      ps
    }

    /** Drain the preloaded backlog; returns rows/s and the progress. */
    private def catchUp(out: Result): (Double, Seq[StreamingQueryProgress], (Long, Long)) = {
      val t0 = tr.now()
      val q = start(Some(Trigger.AvailableNow()))
      try q.awaitTermination()
      catch { case NonFatal(e) => out.fail(s"$name catch-up query: ${e.getMessage}") }
      val t1 = tr.now()
      (backlog / ((t1 - t0) / 1e9), counted(q, out), (t0, t1))
    }

    def execute(out: Result): Outcome = {
      val (rate, catchProgress, catchSpan) = catchUp(out)
      val t0 = tr.now()
      val q = start(None)
      val deadline = System.nanoTime() + 30000000000L
      while (!Option(q.status.message).exists(_.startsWith("Waiting for")) &&
             System.nanoTime() < deadline) Thread.sleep(5)
      // open loop: row i is due at g0 + i / rate, whether or not the
      // pipeline keeps up; lateness is how far the generator ran behind
      val dueNs = new Array[Long](tail)
      val lateMs = new Array[Double](tail)
      val ticks = mutable.ArrayBuffer[(Long, Long)]()
      val gen = new Thread(() => {
        val c = DriverManager.getConnection(url)
        try {
          val ps = c.prepareStatement(insertSql)
          val g0 = System.nanoTime() + 20000000L
          val wallAt = System.currentTimeMillis() - System.nanoTime() / 1000000L
          var i = 0
          while (i < tail) {
            val due = g0 + (i * 1e9 / ratePerS).toLong
            val wait = due - System.nanoTime()
            if (wait > 0) LockSupport.parkNanos(wait)
            val s = tr.now()
            bind(ps, log(backlog + i), wallAt + due / 1000000L)
            ps.executeUpdate()
            dueNs(i) = due
            lateMs(i) = (System.nanoTime() - due) / 1e6
            if (tr.enabled) ticks += ((s, tr.now()))
            i += 1
          }
        } finally c.close()
      }, "perfbench-generator")
      gen.start()
      gen.join()
      // stop only once a batch has consumed the last generated id: an
      // earlier stop interrupts the stream thread mid-read, and embedded
      // Derby then closes the connection under it
      val lastId = log(backlog + tail - 1).id
      val stopBy = System.nanoTime() + 60000000000L
      def consumed = q.recentProgress.exists(p =>
        Batches.offsetId(p.sources.head.endOffset).exists(_ >= lastId))
      while (!consumed && q.exception.isEmpty && System.nanoTime() < stopBy) Thread.sleep(5)
      q.exception.foreach(e => out.fail(s"$name tail query: ${e.getMessage}"))
      if (!consumed) out.fail(s"$name tail: id $lastId not consumed within 60 s")
      try q.stop() catch { case NonFatal(_) => () } // stop-time interrupt
      val t1 = tr.now()
      val tailProgress = counted(q, out)

      val ends = ProgressStats.batches(tailProgress)
        .flatMap(p => Batches.offsetId(p.sources.head.endOffset).map(p.batchId -> _))
      val ids = (0 until tail).map(i => log(backlog + i).id)
      val lag = Batches.assign(ids, ends).zipWithIndex.flatMap {
        case (Some(b), i) if commitNs.containsKey(b) => Some((commitNs.get(b) - dueNs(i)) / 1e6)
        case (_, i) => out.fail(s"$name tail row ${ids(i)} has no committed batch"); None
      }
      Outcome(rate, lag, catchProgress ++ tailProgress,
        calls.synchronized(calls.toVector), ticks.toVector, lateMs.toSeq,
        Seq(("catch-up", catchSpan._1, catchSpan._2), ("tail", t0, t1)))
    }

    /** Sink rows with `op <> 'd'` must equal `expected`, and the dead-letter
      * table must hold each malformed record exactly once.
      */
    def verify(expected: Set[Change], out: Result): Unit = {
      val sink = withConn { c =>
        val rs = c.createStatement().executeQuery(
          s"SELECT $changeCols FROM sink_events WHERE op <> 'd'")
        val b = mutable.ArrayBuffer[Change]()
        while (rs.next()) b += Change(rs.getLong(1), rs.getLong(2), rs.getLong(3),
          rs.getString(4), rs.getDouble(5), rs.getString(6))
        b.toVector
      }
      if (sink.toSet != expected || sink.size != expected.size)
        out.fail(s"$name: sink has ${sink.size} live rows, ${(sink.toSet -- expected).size} " +
          s"unexpected and ${(expected -- sink.toSet).size} missing of ${expected.size}")
      else out.ok()
      val dlq = withConn { c =>
        val rs = c.createStatement().executeQuery("SELECT raw, error FROM dlq")
        val b = mutable.ArrayBuffer[(String, String)]()
        while (rs.next()) b += ((rs.getString(1), rs.getString(2)))
        b.toVector
      }
      val want = log.filter(_.malformed).map { r =>
        (r.raw.get, if (r.kind == Kind.Unparseable) "unparseable_json" else "missing_payload")
      }
      if (dlq.sorted != want.sorted)
        out.fail(s"$name: dead-letter table has ${dlq.size} rows (${dlq.distinct.size} " +
          s"distinct), expected each of ${want.size} malformed records once")
      else out.ok()
      System.err.println(s"[perfbench] $name: ${expected.size} live keys, ${dlq.size} dead letters")
    }

    def drop(): Unit = {
      try DriverManager.getConnection(s"$url;drop=true")
      catch { case _: java.sql.SQLException => () } // drop reports by exception
      Files.deleteTree(java.nio.file.Paths.get(checkpoint))
    }
  }
}
