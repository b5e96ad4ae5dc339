package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a call site of the benchmark. Times are epoch
  * nanoseconds; `parent` is the id of the enclosing span or -1.
  */
final case class Span(id: Int, name: String, layer: String, startNs: Long,
                      endNs: Long, parent: Int, run: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, it only runs the timed block. */
final class Tracer(val enabled: Boolean, run: String) {
  private val spans = ArrayBuffer[Span]()
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis() * 1000000L

  /** Epoch nanoseconds on the monotonic clock. */
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  def add(name: String, layer: String, startNs: Long, endNs: Long,
          parent: Int = -1): Int = synchronized {
    val id = spans.size
    if (enabled) spans += Span(id, name, layer, startNs, endNs, parent, run)
    id
  }

  /** Time `f` as a span; `f` gets the new span's id for its children. */
  def span[T](name: String, layer: String, parent: Int = -1)(f: Int => T): T = {
    if (!enabled) return f(-1)
    val id = synchronized { val i = spans.size; spans += null; i }
    val t0 = now()
    try f(id)
    finally synchronized { spans(id) = Span(id, name, layer, t0, now(), parent, run) }
  }

  def all: Seq[Span] = synchronized(spans.filter(_ != null).toVector)

  /** Milliseconds each layer spent in its own spans, net of the part of
    * each span's interval that its children cover.
    */
  def selfMsByLayer: Map[String, Double] = Tracer.selfMs(all)
}

object Tracer {
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + (b - math.max(a, reach)), b)
        }._1
      s.layer -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Totals of the task, job and streaming-progress events seen since the
  * last `snapshot`-based difference. Registered on the SparkContext bus,
  * so it also sees progress of queries that run on child sessions.
  */
final class Probe extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val input = new AtomicLong
  val maxTaskMs = new AtomicLong
  val progress = ArrayBuffer[StreamingQueryProgress]()
  /** Jobs per micro-batch id, from the property the stream engine sets on
    * every job of a batch.
    */
  val batchJobs = mutable.Map[Long, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .foreach(b => batchJobs.synchronized(batchJobs(b.toLong) = batchJobs.getOrElse(b.toLong, 0) + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
    if (e.taskInfo != null) maxTaskMs.accumulateAndGet(e.taskInfo.duration, math.max(_, _))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      progress.synchronized(progress += p.progress)
    case _ => ()
  }

  def snapshot(): Counts = Counts(jobs.get, tasks.get, gcMs.get,
    shuffleRead.get, shuffleWrite.get, spill.get, input.get,
    maxTaskMs.getAndSet(0))

  def takeProgress(): Seq[StreamingQueryProgress] = progress.synchronized {
    val out = progress.toVector; progress.clear(); out
  }
}

/** Cumulative counters at one instant; `maxTaskMs` is the maximum since
  * the previous snapshot.
  */
final case class Counts(jobs: Long, tasks: Long, gcMs: Long, shuffleRead: Long,
                        shuffleWrite: Long, spill: Long, input: Long,
                        maxTaskMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    gcMs - o.gcMs, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, input - o.input, maxTaskMs)

  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
    gcMs + o.gcMs, shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
    spill + o.spill, input + o.input, math.max(maxTaskMs, o.maxTaskMs))
}

/** Streaming figures from a set of progress events (one per batch). */
object ProgressStats {
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Batches that read rows; idle progress events repeat a batch id. */
  def batches(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)

  def metrics(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val bs = batches(ps)
    def med(f: StreamingQueryProgress => Double): Double =
      if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
    val lastPerQuery = ps.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    Map(
      "streaming.batches" -> bs.size.toDouble,
      "streaming.batch_p50_ms" -> med(dur(_, "triggerExecution")),
      "streaming.planning_ms" -> med(dur(_, "queryPlanning")),
      "streaming.wal_ms" -> med(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
      "sources.poll_ms" -> med(p => dur(p, "latestOffset") + dur(p, "getBatch")),
      "sources.rows" -> bs.map(_.numInputRows.toDouble).sum,
      "streaming.state_commit_ms" ->
        ps.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble)).sum,
      "streaming.state_rows" ->
        lastPerQuery.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).sum)
  }

  /** Epoch-nanosecond interval of a batch, from its start timestamp. */
  def interval(p: StreamingQueryProgress): (Long, Long) = {
    val start = java.time.Instant.parse(p.timestamp)
    val s = start.getEpochSecond * 1000000000L + start.getNano
    (s, s + (dur(p, "triggerExecution") * 1e6).toLong)
  }
}

/** Rows each `foreachBatch` leg handed to its sink, as the program's own
  * executed plan counted them: the `numOutputRows` of the topmost plan node
  * that has one. A leg is told apart by its output columns (the dead-letter
  * leg carries `raw`). Registered on a session while a stream starts, it
  * is inherited by the copy of the session the stream runs on.
  */
final class RowCounter extends QueryExecutionListener {
  private val rows = mutable.Map[String, Long]().withDefaultValue(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (funcName == "foreachPartition") {
      // the plan's root deserializes rows to objects; the legs differ below
      val leg = if (qe.analyzed.find(_.output.exists(_.name == "raw")).isDefined) "dlq" else "upsert"
      val n = RowCounter.outputRows(qe.executedPlan)
      rows.synchronized(rows(leg) += n)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def apply(leg: String): Long = rows.synchronized(rows(leg))
}

object RowCounter {
  def outputRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
    case _ if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").value
    case q: QueryStageExec => outputRows(q.plan)
    case _ if p.children.size == 1 => outputRows(p.children.head)
    case _ => 0L
  }
}

/** Peak heap in use just after a collection, a bound on the live data,
  * from the JVM's GC notifications; plus the non-heap (metaspace, code
  * cache) in use when read.
  */
final class LiveMemory {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val peakHeap = new AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakHeap.accumulateAndGet(used, math.max(_, _))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def peakMb: Double =
    (peakHeap.get + ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed) / 1048576.0
}
