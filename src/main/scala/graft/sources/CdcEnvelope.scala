package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium-style CDC envelope decode (SURVEY §1.2 / §2.1).
  *
  * The wire format (reference `README.md:127-129`, produced by the
  * JsonConverter with schemas enabled, `setup.sh:96-99`) is one JSON object
  * per row-change: `{"schema": {...struct descriptor...}, "payload": {col: val}}`
  * with timestamps as int64 microseconds (`io.debezium.time.MicroTimestamp`).
  *
  * Spark mapping: the envelope is a `StructType`; decode is `from_json` (a
  * codegen'd expression — stays inside WholeStageCodegen, no UDF), unwrap is
  * `select("payload.*")` (the `ExtractNewRecordState` SMT of reference
  * `setup.sh:105-107`), and MicroTimestamp columns become TIMESTAMP via
  * `timestamp_micros`.
  */
object CdcEnvelope {

  /** Descriptor of one field inside the envelope's `schema.fields` array. */
  val fieldDescriptor: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("optional", BooleanType),
    StructField("default", StringType),
    StructField("name", StringType),
    StructField("version", IntegerType),
    StructField("field", StringType)))

  /** Full envelope schema for a given payload row schema. */
  def envelopeSchema(payload: StructType): StructType = StructType(Seq(
    StructField("schema", StructType(Seq(
      StructField("type", StringType),
      StructField("fields", ArrayType(fieldDescriptor)),
      StructField("optional", BooleanType),
      StructField("name", StringType)))),
    StructField("payload", payload)))

  /** Payload schema of the reference's `iman.users` table
    * (`postgres-init/init.sql:5-11`); MicroTimestamp columns arrive as int64.
    */
  val usersPayload: StructType = StructType(Seq(
    StructField("user_id", IntegerType),
    StructField("username", StringType),
    StructField("account_type", StringType),
    StructField("updated_at", LongType),
    StructField("created_at", LongType)))

  /** Decode + flatten a column of envelope JSON strings: `payload.*` with the
    * named int64-µs columns converted to timestamps.
    */
  def unwrap(df: DataFrame, jsonCol: Column, payload: StructType,
             microTsCols: Seq[String] = Seq.empty): DataFrame = {
    val decoded = df.select(from_json(jsonCol, envelopeSchema(payload)).as("env"))
      .select(col("env.payload.*"))
    microTsCols.foldLeft(decoded)((d, c) =>
      d.withColumn(c, timestamp_micros(col(c))))
  }

  /** Convenience: decode reference `iman.users` envelopes. */
  def unwrapUsers(df: DataFrame, jsonCol: Column): DataFrame =
    unwrap(df, jsonCol, usersPayload, Seq("updated_at", "created_at"))

  /** Bad-record-tolerant decode (the reference's `errors.tolerance=all` +
    * dead-letter logging, `setup.sh:145-147`): rows whose envelope fails to
    * parse or carries no payload are routed to a quarantine DataFrame
    * instead of failing the batch.
    *
    * Returns (good, quarantine). `good` is the same shape as [[unwrap]];
    * `quarantine` is `(raw STRING, error STRING)` — the raw wire bytes plus
    * a reason tag, ready for a dead-letter sink. Null wire values are
    * tombstones and are silently dropped from both legs (reference
    * `transforms.unwrap.drop.tombstones=true`, `setup.sh:107`). `from_json`
    * is a codegen'd expression evaluated once per row of each leg; the two
    * legs are filtered projections of the same decoded plan, NOT of a
    * materialized batch: each action on a `foreachBatch` DataFrame
    * re-executes its plan, so writing both legs runs the source scan and
    * the decode twice (perfbench's `cdc_upsert` measures it). Callers that
    * want one scan must persist the batch before splitting it.
    */
  def unwrapTolerant(df: DataFrame, jsonCol: Column, payload: StructType,
                     microTsCols: Seq[String] = Seq.empty)
      : (DataFrame, DataFrame) = {
    val decoded = df.filter(jsonCol.isNotNull)
      .withColumn("_graft_raw", jsonCol.cast(StringType))
      .withColumn("_graft_env", from_json(jsonCol, envelopeSchema(payload)))
    val good0 = decoded.filter(col("_graft_env.payload").isNotNull)
      .select(col("_graft_env.payload.*"))
    val good = microTsCols.foldLeft(good0)((d, c) =>
      d.withColumn(c, timestamp_micros(col(c))))
    // from_json (PERMISSIVE) yields a null-fields row for malformed input,
    // so the reason tag discriminates via try_parse_json on the (small)
    // quarantine leg only: syntactically broken vs valid-JSON-wrong-shape.
    val quarantine = decoded
      .filter(col("_graft_env").isNull || col("_graft_env.payload").isNull)
      .select(col("_graft_raw").as("raw"),
        when(try_parse_json(col("_graft_raw")).isNull, lit("unparseable_json"))
          .otherwise(lit("missing_payload")).as("error"))
    (good, quarantine)
  }
}
