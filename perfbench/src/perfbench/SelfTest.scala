package perfbench

/** Checks of the benchmark's pure helpers. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private val events = (0 until 400).map { i =>
    Event(i.toLong, 1000L + i * 7 % 390, (i % 13).toLong,
      if (i % 5 == 0) "error" else "click", i / 4.0)
  }

  def main(args: Array[String]): Unit = {
    check("log generation is deterministic per seed") {
      CdcLog.generate(events, 7, 0.1) == CdcLog.generate(events, 7, 0.1) &&
        CdcLog.generate(events, 7, 0.1) != CdcLog.generate(events, 8, 0.1)
    }
    check("log is in version order with sequential ids and cursor") {
      val log = CdcLog.generate(events, 3, 0.1)
      log.map(_.id) == (1L to events.size) &&
        log.map(_.updatedUs) == log.map(_.updatedUs).sorted
    }
    check("bad share is near its target and malformed records are unique") {
      val log = CdcLog.generate(events ++ events.map(e => e.copy(eventId = e.eventId + 400)),
        11, 0.25)
      val bad = log.count(_.kind != Kind.Valid)
      val raws = log.filter(_.malformed).map(_.raw.get)
      bad > 140 && bad < 260 && raws.distinct.size == raws.size &&
        log.filter(_.kind == Kind.Tombstone).forall(_.raw.isEmpty)
    }
    check("errors are deletes; a key's next event after a delete is an insert") {
      val log = CdcLog.generate(events, 5, 0.0)
      val byKey = log.flatMap(_.change).groupBy(_.userId)
      byKey.values.forall { cs =>
        cs.zip(cs.tail).forall { case (a, b) =>
          (b.eventType == "error") == (b.op == "d") &&
            (b.op == "d" || (a.op == "d") == (b.op == "c"))
        } && (cs.head.op == "c" || cs.head.op == "d")
      }
    }
    check("envelope carries the change as its payload") {
      val c = Change(3, 9, 1234, "view", 2.5, "u")
      CdcLog.envelope(c).contains(
        """"payload":{"user_id":3,"event_id":9,"ts_us":1234,"event_type":"view","value":2.5,"op":"u"}""")
    }
    check("expected state keeps the latest change per key and drops deletes") {
      def rec(id: Long, c: Change) = Record(id, c.tsUs, Some(""), Kind.Valid, Some(c))
      val a1 = Change(1, 1, 10, "click", 1, "c")
      val a2 = Change(1, 2, 20, "error", 1, "d")
      val a3 = Change(1, 3, 20, "view", 1, "c") // same ts, higher event id wins
      val b1 = Change(2, 4, 15, "click", 1, "c")
      val b2 = Change(2, 5, 16, "error", 1, "d")
      val c1 = Change(3, 6, 30, "view", 1, "c")
      val bad = Record(9, 40, Some("{corrupt"), Kind.Unparseable, None)
      val log = Seq(rec(1, a1), rec(2, b1), rec(3, b2), rec(4, a2), rec(5, a3),
        rec(6, c1), bad)
      CdcLog.expectedState(log) == Map(1L -> a3, 3L -> c1)
    }
    check("nearest-rank percentile") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.percentile(xs, 50) == 50 && Stats.percentile(xs, 90) == 90 &&
        Stats.percentile(xs, 100) == 100 && Stats.percentile(Seq(5.0), 90) == 5 &&
        Stats.median(Seq(3.0, 1.0, 2.0)) == 2
    }
    check("a percentile needs at least ten samples beyond it") {
      !Stats.reportable(99, 90) && Stats.reportable(100, 90) &&
        !Stats.reportable(999, 99) && Stats.reportable(1000, 99) &&
        Stats.reportable(20, 50) && !Stats.reportable(19, 50)
    }
    check("rows map to the first batch whose end offset reaches them") {
      val ends = Seq((7L, 3L), (8L, 5L), (9L, 9L))
      Batches.assign(Seq(1L, 3L, 4L, 5L, 6L, 9L, 10L), ends) ==
        Seq(Some(7L), Some(7L), Some(8L), Some(8L), Some(9L), Some(9L), None) &&
        Batches.assign(Seq(2L), ends.reverse) == Seq(Some(7L))
    }
    check("cursor offset id parses") {
      Batches.offsetId("""{"ts":-5,"id":42}""").contains(42L) &&
        Batches.offsetId(null).isEmpty
    }
    check("self time subtracts the union of child intervals") {
      val spans = Seq(Span(0, "p", "a", 0, 100, -1, "r"), Span(1, "c1", "b", 10, 40, 0, "r"),
        Span(2, "c2", "b", 30, 60, 0, "r"), Span(3, "c3", "c", 90, 120, 0, "r"))
      val s = Tracer.selfMs(spans)
      s("a") == (100 - 60) / 1e6 && s("b") == 60 / 1e6 && s("c") == 30 / 1e6
    }
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
