package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM. `run.py` builds and launches it; the
  * last stdout line is `PERFBENCH_RESULT <json>`.
  *
  * Modes: `bench` (one workload run), `counts` (record each query cell's
  * count plus its oracle SQL, used by `record_counts.py`).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val config = new ObjectMapper().readTree(Files.readString(Paths.get(opts("config"))))
    val outDir = Paths.get(opts("out-dir"))
    Files.createDirectories(outDir)
    opts.getOrElse("mode", "bench") match {
      case "counts" => counts(config, opts, outDir)
      case _ => bench(config, opts, outDir)
    }
  }

  /** Spark runs on 3 of the 4 cores: the fourth takes the JIT compiler,
    * GC and the benchmark's own threads (the CDC generator among them).
    * Against `local[4]` this cut the run-to-run spread of `sweep_s` on
    * `query_build_heavy` from 13–16% to 6–8%.
    */
  private val Cores = 3

  private def session(outDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", outDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", outDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A query workload lists its cells; the CDC workload has none. */
  private def cellsOf(w: JsonNode): Seq[String] =
    Option(w.get("cells")).toSeq.flatMap(_.elements().asScala.map(_.asText))

  private def bench(config: JsonNode, opts: Map[String, String], outDir: Path): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val name = opts("workload")
    val w = config.get("workloads").get(name)
    require(w != null, s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val sfDir = config.get("corpus").asText
    val traceFile = outDir.resolve(s"trace_${name}_$seed.json")
    val out = new Result
    val live = if (trace) Some(new LiveMemory) else None
    val spark = session(outDir)
    try cellsOf(w) match {
      case Seq() =>
        CdcWorkload.run(spark, sfDir, w.get("tail_rows_per_s").asDouble, seed, seconds,
          trace, jvmStartMs, out, outDir, traceFile)
      case cells =>
        val expected = config.get("expected_counts").fields().asScala
          .map(e => e.getKey -> e.getValue.asLong).toMap
        QueryWorkload.run(spark, sfDir, cells, w.get("pass_s").asDouble, expected,
          seed, seconds, trace, jvmStartMs, out, traceFile)
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        out.fail(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally spark.stop()
    live.foreach(l => out.put("jvm.live_peak_mb", l.peakMb, "MB"))
    println("PERFBENCH_RESULT " + out.json)
  }

  private def counts(config: JsonNode, opts: Map[String, String], outDir: Path): Unit = {
    val spark = session(outDir)
    val cells = config.get("workloads").elements().asScala.flatMap(cellsOf).toSeq.distinct
    val sfDir = config.get("corpus").asText
    val oracle = graft.SparkEntry.oracleSql
    val lines = cells.map { c =>
      val n = graft.SparkEntry.queries(c)(spark, sfDir).count()
      val o = oracle.get(c).map(Json.str).getOrElse("null")
      s"""${Json.str(c)}:{"count":$n,"oracle":$o}"""
    }
    spark.stop()
    println("PERFBENCH_RESULT " + lines.mkString("{", ",", "}"))
  }
}
