package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.util.SessionMemo

/** Parquet readers for the driver corpus (TESTDATA.md / FIXTURES.md §B).
  *
  * Scale note: these are plain `spark.read.parquet` scans so Catalyst can
  * push filters and prune columns into the scan; at cluster scale the same
  * call reads a partitioned directory tree and partition-prunes for free.
  *
  * Canonical event-time: every operator and every DuckDB oracle treats
  * `events.ts` as **epoch nanoseconds in a LongType column**. The driver
  * corpus has shipped the physical column two ways:
  *
  *   - Parquet INT64 TIMESTAMP(NANOS,false) (rounds 1-15). Spark 4 refuses
  *     it ([PARQUET_TYPE_ILLEGAL]) unless
  *     `spark.sql.legacy.parquet.nanosAsLong=true`, which reads it as the
  *     canonical long directly — the flag is still set below for that
  *     layout.
  *   - Parquet TIMESTAMP(MICROS) = TimestampNTZ (regenerated 2026-08-13,
  *     round 16 — the silent schema change behind BENCH_r16's 50 errored
  *     cells). `canonicalEventTime` rebuilds the canonical long as
  *     wall-clock micros × 1000.
  *
  * The NTZ→epoch conversion is built from wall-clock FIELDS, so it is
  * session-time-zone-independent and bit-identical to DuckDB's
  * `epoch_us(ts)` (the convention the oracles already use) on every
  * session; the repo's own sessions additionally pin UTC for rendering
  * parity of the other timestamp columns.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Analyzed plan per (session, dir, table), held in a [[SessionMemo]]:
    * building a parquet DataFrame lists the directory and reads footers
    * for schema inference — ~0.1-0.3 s per call that Verify/Bench would
    * otherwise pay ~200× across the registry. Plans are immutable, so
    * reuse is safe; none is `.cache()`d, so eviction unpersists nothing.
    */
  private val plans = new SessionMemo[(String, String), DataFrame](_ => Nil)

  /** Normalize an `events` scan to the canonical epoch-nanos LongType `ts`
    * (see the object Scaladoc). A corpus whose `ts` is already integral —
    * the NANOS layout under nanosAsLong, Spark-written k× Scale corpora,
    * spec-authored fixtures — passes through untouched, so the projection
    * only exists where the physical type actually diverges.
    *
    * The NTZ branch is built from WALL-CLOCK FIELDS (`unix_date`/`hour`/
    * `minute`/`date_part('SECOND')` of an NTZ are zone-free by
    * definition), NOT `unix_micros(cast(ts as timestamp))` — the cast
    * routes through the session time zone, so a harness session built
    * without `spark.sql.session.timeZone=UTC` on a non-UTC host would
    * silently shift every canonical ts by the zone offset. This spelling
    * gives the same bits on EVERY session (CanonicalEventTimeSpec pins it
    * under a non-UTC session); the repo's own sessions still pin UTC for
    * rendering parity.
    */
  private def canonicalEventTime(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) =>
        df.withColumn("ts", expr(
          """(unix_date(cast(ts as date)) * cast(86400000000 as bigint)
             + cast(hour(ts) as bigint) * 3600000000
             + cast(minute(ts) as bigint) * 60000000
             + cast(date_part('SECOND', ts) * 1000000 as bigint)) * 1000"""))
      case Some(TimestampType) =>
        // an LTZ column is an instant; unix_micros is zone-free on it
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case _ => df
    }

  /** Events scan with a [loMicros, hiMicros) time-range predicate applied
    * to the NATIVE `ts` column *before* canonicalization. Filtering the
    * canonical long instead would wrap the predicate in
    * `unix_micros(cast(..))` — a non-atomic expression parquet source
    * filtering cannot consume, so every row group would be read and the
    * rows dropped post-scan. Against the native column the comparison
    * pushes as an ordinary `GreaterThanOrEqual/LessThan(ts, …)` source
    * filter (PlanSpec pins it), which at 100 TB is row-group min/max
    * pruning over the whole time axis — the same marks-skipping read the
    * reference sink's primary index performs. Under the long layout the
    * literals are plain epoch-nanos and push down identically.
    */
  def eventsRange(spark: SparkSession, sfDir: String,
                  loMicros: Long, hiMicros: Long): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case tsType @ (TimestampNTZType | TimestampType) =>
        // Each bound is a literal ALREADY of the scan's type, so it pushes
        // atomically and never consults the session time zone: an NTZ bound
        // is a LocalDateTime (wall-clock fields, zone-free by definition);
        // an LTZ bound is an Instant (an absolute point — `cast(NTZ lit)`
        // here would route through the session zone and silently shift the
        // pushed window on a non-UTC session, the one zone leak
        // canonicalEventTime's contract forbids).
        def bound(us: Long) = tsType match {
          case TimestampType => lit(java.time.Instant.ofEpochSecond(
            Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
          case _ => lit(java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC))
        }
        canonicalEventTime(raw.filter(
          col("ts") >= bound(loMicros) && col("ts") < bound(hiMicros)))
      case _ =>
        raw.filter(col("ts") >= lit(loMicros * 1000L) &&
          col("ts") < lit(hiMicros * 1000L))
    }
  }

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    plans(spark, (sfDir, name)) {
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      if (name == "events") canonicalEventTime(df) else df
    }
  }

  /** Register every corpus table as a temp view, for spark.sql operators. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => read(spark, sfDir, n).createOrReplaceTempView(n))
}
