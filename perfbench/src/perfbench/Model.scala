package perfbench

/** Pure helpers of the benchmark: change-log generation, percentiles,
  * row-to-batch mapping and the expected sink state. Nothing here touches
  * Spark, so `SelfTest` checks all of it in milliseconds.
  */

/** One `events` row, the source of one change record. */
final case class Event(eventId: Long, tsUs: Long, userId: Long,
                       eventType: String, value: Double)

/** The decoded payload of a valid change record (the sink's row shape). */
final case class Change(userId: Long, eventId: Long, tsUs: Long,
                        eventType: String, value: Double, op: String)

sealed trait Kind
object Kind {
  case object Valid extends Kind
  /** Not JSON at all: `unwrapTolerant` tags it `unparseable_json`. */
  case object Unparseable extends Kind
  /** Valid JSON without a payload: tagged `missing_payload`. */
  case object NoPayload extends Kind
  /** Null message value: dropped by the decoder, reaches neither leg. */
  case object Tombstone extends Kind
}

/** One outbox row: cursor `(updatedUs, id)`, the raw message (None for a
  * tombstone) and, for valid records, the change it carries.
  */
final case class Record(id: Long, updatedUs: Long, raw: Option[String],
                        kind: Kind, change: Option[Change]) {
  def malformed: Boolean = kind == Kind.Unparseable || kind == Kind.NoPayload
}

object CdcLog {

  private val envelopeSchema =
    """{"type":"struct","fields":[],"optional":false,"name":"perfbench.events.Value"}"""

  /** Debezium JsonConverter envelope (schemas enabled) for one change. */
  def envelope(c: Change): String =
    s"""{"schema":$envelopeSchema,"payload":{"user_id":${c.userId},""" +
      s""""event_id":${c.eventId},"ts_us":${c.tsUs},""" +
      s""""event_type":"${c.eventType}","value":${c.value},"op":"${c.op}"}}"""

  /** The change log of `events`, in version order `(tsUs, eventId)`.
    *
    * Key is `userId`. An `error` event is a delete (`op = 'd'`); any other
    * event is an update of a live key or an insert (`'c'`) of a new or
    * deleted one, so re-inserts after deletes follow from the data. The
    * seed picks about `badShare` of the records and replaces each with a
    * malformed message or a tombstone; a malformed message embeds its
    * event id, so every one is unique and a duplicate in the dead-letter
    * queue is detectable.
    */
  def generate(events: Seq[Event], seed: Long, badShare: Double): Vector[Record] = {
    val rng = new scala.util.Random(seed)
    val live = scala.collection.mutable.HashSet[Long]()
    events.sortBy(e => (e.tsUs, e.eventId)).zipWithIndex.map { case (e, i) =>
      val op =
        if (e.eventType == "error") { live -= e.userId; "d" }
        else if (live.add(e.userId)) "c" else "u"
      val c = Change(e.userId, e.eventId, e.tsUs, e.eventType, e.value, op)
      val id = i + 1L
      if (rng.nextDouble() >= badShare)
        Record(id, e.tsUs, Some(envelope(c)), Kind.Valid, Some(c))
      else rng.nextInt(3) match {
        case 0 => Record(id, e.tsUs,
          Some(s"""{corrupt event ${e.eventId} op=$op"""), Kind.Unparseable, None)
        case 1 => Record(id, e.tsUs,
          Some(s"""{"schema":null,"event_id":${e.eventId},"op":"$op"}"""),
          Kind.NoPayload, None)
        case _ => Record(id, e.tsUs, None, Kind.Tombstone, None)
      }
    }.toVector
  }

  /** Sink state after applying `records` with delete propagation: the
    * latest change per key by `(tsUs, eventId)`, absent when that change
    * is a delete. The reference for `Upsert.applyCdcWithDeletes`.
    */
  def expectedState(records: Seq[Record]): Map[Long, Change] =
    records.flatMap(_.change)
      .groupBy(_.userId)
      .map { case (k, cs) => k -> cs.maxBy(c => (c.tsUs, c.eventId)) }
      .filter { case (_, c) => c.op != "d" }
}

object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** A percentile is reported only with at least ten samples beyond it. */
  def reportable(n: Int, p: Double): Boolean =
    math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= 10
}

object Batches {

  /** Batch of each row. `rowIds` are ascending; `ends` are the batches'
    * `(batchId, last row id)` — the id half of the cursor end offset —
    * ascending in both. A row belongs to the first batch whose end
    * reaches it; a row beyond the last end maps to None.
    */
  def assign(rowIds: Seq[Long], ends: Seq[(Long, Long)]): Seq[Option[Long]] = {
    val sorted = ends.sortBy(_._2).toVector
    var j = 0
    rowIds.map { id =>
      while (j < sorted.size && sorted(j)._2 < id) j += 1
      if (j < sorted.size) Some(sorted(j)._1) else None
    }
  }

  private val IdRe = """"id"\s*:\s*(-?\d+)""".r

  /** Id half of a cursor offset JSON such as `{"ts":5,"id":7}`. */
  def offsetId(json: String): Option[Long] =
    Option(json).flatMap(j => IdRe.findFirstMatchIn(j).map(_.group(1).toLong))
}
