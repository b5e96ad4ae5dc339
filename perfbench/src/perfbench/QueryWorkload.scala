package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

/** A closed loop of one client over registry cells: each pass runs every
  * cell once in a seed-shuffled order, and the next cell starts when the
  * previous one has returned. The timed region of a cell is Bench's,
  * `fn(spark, dir).count()`.
  */
object QueryWorkload {

  /** One traced repetition of a cell, split at the benchmark's call sites:
    * build is `fn(spark, dir)`, plan is `executedPlan` of the count
    * wrapper, exec is collecting it.
    */
  final case class Rep(cell: String, pass: Int, buildMs: Double, planMs: Double,
                       execMs: Double, totalMs: Double, build: Counts, exec: Counts,
                       selfMs: Map[String, Double],
                       progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) {
    def all: Counts = build + exec
  }

  def run(spark: SparkSession, sfDir: String, cells: Seq[String],
          passS: Double, expected: Map[String, Long], seed: Long, seconds: Double,
          trace: Boolean, jvmStartMs: Long, out: Result,
          traceFile: java.nio.file.Path): Unit = {
    val fns = graft.SparkEntry.queries
    cells.filterNot(fns.contains).foreach(c => out.fail(s"$c: not a registry key"))
    val live = cells.filter(fns.contains)

    def check(cell: String, n: Long): Unit = expected.get(cell) match {
      case Some(e) if e == n => out.ok()
      case Some(e) => out.fail(s"$cell: count $n, expected $e")
      case None => out.fail(s"$cell: no expected count recorded")
    }

    def runCell(cell: String): Unit =
      try check(cell, fns(cell)(spark, sfDir).count())
      catch { case NonFatal(e) => out.fail(s"$cell: ${e.getClass.getSimpleName}: ${e.getMessage}") }

    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(live)

    // warm client: one untimed pass in registry order fills codegen, the
    // JIT and the table plan cache before anything is timed
    live.foreach { c =>
      val t0 = System.nanoTime()
      runCell(c)
      System.err.println(f"[perfbench] warm-up $c ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    out.put("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0, "s")

    /** A fixed number of complete passes, `seconds` over the workload's
      * nominal pass time and at least two: every cell gets the same number
      * of timed runs whatever the seed, and a faster program does not buy
      * itself extra warm runs.
      */
    def loop(body: (String, Int) => Unit): Unit =
      (0 until math.max(2, math.round(seconds / passS).toInt)).foreach { pass =>
        order(pass).foreach(body(_, pass))
      }

    if (trace) traced(spark, sfDir, fns, live, loop, runCell, check, out, traceFile)
    else {
      val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
      loop { (cell, _) =>
        val t0 = System.nanoTime()
        runCell(cell)
        times.getOrElseUpdate(cell, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
      }
      // a cell's time is its fastest run, as in Bench: JIT and host
      // stalls only ever add time
      val sweep = times.values.map(_.min).sum
      out.put("sweep_s", sweep, "s")
      System.err.println(f"[perfbench] sweep $sweep%.3f s; " + times.map { case (c, ts) =>
        s"$c " + ts.map(t => f"$t%.2f").mkString("/") }.mkString(", "))
    }
  }

  private def traced(spark: SparkSession, sfDir: String,
      fns: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      live: Seq[String], loop: ((String, Int) => Unit) => Unit,
      runCell: String => Unit, check: (String, Long) => Unit, out: Result,
      traceFile: java.nio.file.Path): Unit = {
    val probe = new Probe
    val sc = spark.sparkContext
    val reps = mutable.ArrayBuffer[Rep]()
    val allSpans = mutable.ArrayBuffer[Span]()
    val plain = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def untraced(cell: String): Unit = {
      val t0 = System.nanoTime()
      runCell(cell)
      plain.getOrElseUpdate(cell, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
    }
    // each cell runs untraced and traced back to back, the order
    // alternating by pass, so the overhead compares like with like
    loop { (cell, pass) =>
      if (pass % 2 == 0) untraced(cell)
      val tr = new Tracer(true, s"$cell#$pass")
      // the listener is on the bus only while a traced rep runs
      BusDrain.drain(sc)
      sc.addSparkListener(probe)
      var c0, c1, c2: Counts = null
      try tr.span(cell, "bench") { root =>
        c0 = probe.snapshot()
        val df = tr.span("build", "operators", root) { _ => fns(cell)(spark, sfDir) }
        BusDrain.drain(sc)
        c1 = probe.snapshot()
        val counted = df.groupBy().count()
        tr.span("plan", "spark", root) { _ => counted.queryExecution.executedPlan }
        val n = tr.span("exec", "spark", root) { _ => counted.collect()(0).getLong(0) }
        BusDrain.drain(sc)
        c2 = probe.snapshot()
        check(cell, n)
      } catch { case NonFatal(e) => out.fail(s"$cell (traced): ${e.getMessage}") }
      sc.removeSparkListener(probe)
      val progress = probe.takeProgress()
      val spans = tr.all
      def ms(n: String) = spans.find(_.name == n).map(_.ms).getOrElse(0.0)
      val buildId = spans.find(_.name == "build").map(_.id).getOrElse(-1)
      progress.foreach { pr =>
        val (s, e) = ProgressStats.interval(pr)
        tr.add(s"batch ${pr.batchId}", "streaming", s, e, buildId)
      }
      if (c2 != null) reps += Rep(cell, pass, ms("build"), ms("plan"), ms("exec"), ms(cell),
        c1 - c0, c2 - c1, tr.selfMsByLayer, progress)
      allSpans ++= tr.all
      if (pass % 2 == 1) untraced(cell)
    }
    val cellS = plain.map { case (c, ts) => c -> ts.min }
    cellS.foreach { case (c, v) => out.put(s"cell.$c.s", v, "s") }
    val untracedSweep = cellS.values.sum

    // like the untraced times, each cell is represented by its fastest rep
    val byCell = reps.groupBy(_.cell)
    val best = byCell.values.map(_.minBy(_.totalMs)).toSeq
    def sum(f: Rep => Double): Double = best.map(f).sum
    val mb = 1048576.0
    val tracedSweep = sum(_.totalMs) / 1000.0
    out.put("operators.build_ms", sum(_.buildMs), "ms")
    out.put("operators.build_jobs", sum(_.build.jobs.toDouble), "count")
    out.put("spark.plan_ms", sum(_.planMs), "ms")
    out.put("spark.exec_ms", sum(_.execMs), "ms")
    out.put("spark.exec_jobs", sum(_.exec.jobs.toDouble), "count")
    out.put("spark.tasks", sum(_.all.tasks.toDouble), "count")
    out.put("spark.shuffle_write_mb", sum(_.all.shuffleWrite / mb), "MB")
    out.put("spark.shuffle_read_mb", sum(_.all.shuffleRead / mb), "MB")
    out.put("spark.spill_mb", sum(_.all.spill / mb), "MB")
    out.put("tables.input_mb", sum(_.all.input / mb), "MB")
    out.put("spark.gc_ms", sum(_.all.gcMs.toDouble), "ms")
    out.put("spark.max_task_ms", best.map(_.all.maxTaskMs.toDouble).max, "ms")
    ProgressStats.metrics(best.flatMap(_.progress)).foreach { case (k, v) =>
      out.put(k, v, if (k.endsWith("_ms")) "ms" else "count") }
    Seq("operators", "spark", "streaming", "bench").foreach { l =>
      out.put(s"$l.self_ms", sum(_.selfMs.getOrElse(l, 0.0)), "ms") }
    out.put("trace.overhead_pct", (tracedSweep / untracedSweep - 1) * 100, "%")

    // job counts must repeat exactly across passes of the same cell
    val repeat = byCell.map { case (c, rs) =>
      val seen = rs.map(r => s"${r.build.jobs}/${r.exec.jobs}")
      if (seen.distinct.size > 1)
        out.fail(s"$c: build/exec job counts differ across passes: ${seen.mkString(",")}")
      else out.ok()
      seen.distinct.size == 1
    }
    val cellsJson = best.sortBy(_.cell).map { r =>
      s"""${Json.str(r.cell)}:{"build_ms":${Json.num(r.buildMs)},"plan_ms":${Json.num(r.planMs)},""" +
        s""""exec_ms":${Json.num(r.execMs)},"build_jobs":${r.build.jobs},"exec_jobs":${r.exec.jobs}}"""
    }.mkString("{", ",", "}")
    val extra =
      s""""pass_jobs":{"build":${best.map(_.build.jobs).sum},"exec":${best.map(_.exec.jobs).sum}},""" +
      s""""jobs_repeat":${repeat.forall(identity)},"untraced_sweep_s":${Json.num(untracedSweep)},""" +
      s""""traced_sweep_s":${Json.num(tracedSweep)},"cells":$cellsJson"""
    TraceFile.write(traceFile, allSpans.toSeq, out, extra)
  }
}

object TraceFile {
  def write(path: java.nio.file.Path, spans: Seq[Span], out: Result, extra: String): Unit = {
    val sj = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"run":${Json.str(s.run)}}"""
    }.mkString("[", ",\n", "]")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      s"""{"result":${out.json},$extra,"spans":$sj}""" + "\n")
  }
}
