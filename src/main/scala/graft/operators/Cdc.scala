package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The CDC operator pack — the reference's data-processing heart, re-expressed
  * as composable `DataFrame => DataFrame` transformers.
  *
  * Reference semantics (cited file:line, all under /root/reference/):
  *  - A7 image selection: INSERT/MODIFY -> NewImage, REMOVE -> OldImage
  *    (`resources/firehose_transformation.py:6-10`); any other event name is
  *    an error, routed not dropped (Firehose error prefix,
  *    `lib/dynamodb-streaming-datalake-stack.ts:221,232-235`).
  *  - A8 typed-attribute flatten: every `{attr: {typeTag: value}}` cell
  *    becomes `attr -> str(value)` (`firehose_transformation.py:12-14`);
  *    the inner iteration means "last type tag wins".
  *  - A9 audit columns: `Event` = event name, `ingestion_timestamp` = clock
  *    (`firehose_transformation.py:18-19`), explicitly for lake-side dedupe
  *    (comment `:16`). Our clock is injectable for determinism (SURVEY §7.4).
  *  - A13 hour-partitioned layout `yyyy/MM/dd/HH` from ingestion time
  *    (`stack.ts:38,222`).
  *  - A16 snapshot read-model: latest image per key wins, REMOVE tombstones
  *    delete (licensed by `firehose_transformation.py:16-19` + the table's
  *    `id`/`name` key schema, `stack.ts:72-79`).
  *
  * Scale notes: every operator here is a narrow projection except
  * [[snapshot]], which is ONE hash-shuffle on the table key with map-side
  * partial aggregation (`max_by`), not a window sort — at 100 TB the
  * window-sort formulation would sort every partition; `max_by` keeps one
  * row of state per key per task.
  */
object Cdc {

  val ValidEvents: Seq[String] = Seq("INSERT", "MODIFY", "REMOVE")

  /** DynamoDB typed-attribute map: attr -> (typeTag -> value-as-string).
    * Non-scalar tags (L/M/SS/NS/BS) carry canonical JSON text (SURVEY §7.4
    * deviation from Python `str()`). */
  val attrMapType: DataType = MapType(StringType, MapType(StringType, StringType))

  /** Stream-envelope read schema, FIXTURES.md §2. PERMISSIVE parsing puts
    * malformed lines in `_corrupt_record` for the error path (A14/Q30). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("eventName", StringType),
    StructField("dynamodb", StructType(Seq(
      StructField("ApproximateCreationDateTime", DoubleType),
      StructField("Keys", attrMapType),
      StructField("NewImage", attrMapType),
      StructField("OldImage", attrMapType)))),
    StructField("_corrupt_record", StringType)))

  /** Parse raw JSON-lines (one envelope per line) into the envelope schema.
    * Mirrors the Lambda's per-record decode (`firehose_transformation.py:27`)
    * as one vectorized `from_json` pass. */
  def parse(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    raw.select(
      from_json(col(jsonCol), envelopeSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")
      ).as("r"))
      .select(col("r.eventName").as("eventName"), col("r.dynamodb").as("dynamodb"),
        col("r._corrupt_record").as("_corrupt_record"))

  /** A7: pick the image for the event type. Unknown events yield a null
    * image (callers route them via [[split]]). */
  def imageFor(eventName: Column, newImage: Column, oldImage: Column): Column =
    when(eventName.isin("INSERT", "MODIFY"), newImage)
      .when(eventName === "REMOVE", oldImage)

  /** A8: type-erase a typed-attribute map to attr -> string. The reference's
    * inner dict loop keeps the LAST tag's value (`:12-14`), hence
    * `element_at(map_values(v), -1)`; an attribute with an EMPTY type map is
    * omitted, exactly like the reference (the Python loop never assigns it)
    * — and without the filter, ANSI-mode element_at on the empty array would
    * kill the batch. Pure map-side higher-order function — no shuffle. */
  def flattenImage(image: Column): Column =
    transform_values(
      map_filter(image, (_, v) => size(map_values(v)) > 0),
      (_, v) => element_at(map_values(v), -1))

  /** A7 + A8 + A9 over a parsed envelope frame.
    *
    * Output: `id`, `name` (the reference table's key attributes,
    * `stack.ts:72-79`), `attrs: map<string,string>` (all flattened image
    * attributes), `Event`, `ingestion_timestamp`.
    *
    * @param ingestionTs injectable clock (SURVEY §7.4): defaults to the
    *   envelope's ApproximateCreationDateTime (epoch seconds), the
    *   deterministic stand-in for the reference's `datetime.now()`.
    */
  def transform(env: DataFrame, ingestionTs: Option[Column] = None): DataFrame = {
    val img = imageFor(col("eventName"), col("dynamodb.NewImage"), col("dynamodb.OldImage"))
    val ts = ingestionTs.getOrElse(
      timestamp_micros((col("dynamodb.ApproximateCreationDateTime") * 1000000L).cast(LongType)))
    env
      .withColumn("attrs", flattenImage(img))
      .withColumn("Event", col("eventName"))
      .withColumn("ingestion_timestamp", ts)
      .withColumn("id", col("attrs").getItem("id"))
      .withColumn("name", col("attrs").getItem("name"))
      .select("id", "name", "attrs", "Event", "ingestion_timestamp")
  }

  /** A14: split a parsed envelope frame into (valid, error). Error rows are
    * corrupt lines or unknown event names — routed with a reason, never
    * dropped (the reference's Firehose error prefix, `stack.ts:221`).
    * `validEvents` is overridable so a replay after a rule change (e.g. a
    * newly supported event type) re-evaluates against the CURRENT rules. */
  def split(env: DataFrame,
            validEvents: Seq[String] = ValidEvents): (DataFrame, DataFrame) = {
    val isCorrupt = col("_corrupt_record").isNotNull
    val isUnknown = !coalesce(col("eventName"), lit("")).isin(validEvents: _*)
    val valid = env.filter(!isCorrupt && !isUnknown)
    val errors = env.filter(isCorrupt || isUnknown)
      .withColumn("error_reason",
        when(isCorrupt, lit("corrupt_record"))
          .otherwise(concat(lit("unknown_event:"), coalesce(col("eventName"), lit("null")))))
    (valid, errors)
  }

  /** Error-zone REPLAY — A14's operational counterpart: after a parser or
    * rule fix, re-ingest previously-errored rows against the CURRENT
    * rules. Corrupt lines are re-parsed from their preserved raw text
    * (`_corrupt_record` carries the original line, so a schema/parser fix
    * can recover them); unknown-event rows are re-evaluated against
    * `validEvents` (which may have grown). Returns (recovered, stillBad):
    * a partition of the input — nothing is dropped, rows that still fail
    * are re-errored with fresh reasons and can be replayed again.
    *
    * Scale shape: two filters + one `from_json` re-parse + a union — all
    * map-side; replay cost is proportional to the error zone, which is
    * tiny by construction. */
  def replayErrors(errors: DataFrame,
                   validEvents: Seq[String] = ValidEvents): (DataFrame, DataFrame) = {
    val env = errors.drop("error_reason")
    val wasCorrupt = col("_corrupt_record").isNotNull
    val reparsed = parse(env.filter(wasCorrupt).select(col("_corrupt_record").as("value")))
    val candidate = env.filter(!wasCorrupt).unionByName(reparsed)
    split(candidate, validEvents)
  }

  /** A13: derive the hour-partition columns from the ingestion clock —
    * processing-time layout exactly like Firehose `!{timestamp:yyyy/MM/dd/HH}`
    * (`stack.ts:222`); no watermark needed, late data lands in the current
    * hour (SURVEY §2.1 A13). */
  def withPartitionColumns(df: DataFrame, tsCol: String = "ingestion_timestamp"): DataFrame =
    df.withColumn("year", year(col(tsCol)))
      .withColumn("month", month(col(tsCol)))
      .withColumn("day", dayofmonth(col(tsCol)))
      .withColumn("hour", hour(col(tsCol)))

  /** A10 + A12 + A13: the lake CDC-zone sink — gzip JSON-lines under
    * `year/month/day/hour` directories (`stack.ts:38,220,222`;
    * `firehose_transformation.py:34`). */
  def writeCdcZone(df: DataFrame, path: String): Unit =
    withPartitionColumns(df)
      .withColumn("attrs_json", to_json(col("attrs")))
      .drop("attrs")
      .write.mode("append")
      .partitionBy("year", "month", "day", "hour")
      .option("compression", "gzip")
      .json(path)

  /** SCD Type-2 history table from the flattened CDC event log: every
    * non-REMOVE event opens a version valid [its time, the key's next
    * change), the key's latest un-closed version is `is_current`, and a
    * REMOVE closes the preceding version without opening one (the
    * tombstone itself is not a version). The lakehouse-classic companion
    * to [[snapshot]]: the snapshot is exactly the `is_current` slice,
    * while the history answers as-of-time queries.
    *
    * `orderCols` must totally order each key's events (the [[snapshot]]
    * contract: ingestion time + unique sequence). One per-key window —
    * partitioned by the table key, so it scales like the snapshot's
    * shuffle, never a global sort. */
  def scd2History(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                  eventCol: String = "Event",
                  tsCol: String = "ingestion_timestamp"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    df.withColumn("valid_from", col(tsCol))
      // lead over ALL events INCLUDING tombstones: a REMOVE bounds the
      // previous version's validity even though it emits no row itself
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .filter(col(eventCol) =!= "REMOVE")
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** A16: last-writer-wins snapshot with REMOVE tombstones dropped.
    *
    * One shuffle on the key, map-side-combining `max_by` (constant state per
    * key per task) instead of a window sort — the formulation that survives
    * a 100x scale-up. `orderCols` must be a deterministic total order per
    * key (ingestion time + a unique sequence tiebreaker).
    */
  def snapshot(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
               eventCol: String = "Event"): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    val ord = struct(orderCols.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(payload, ord).as("latest"))
      .select(col("latest.*"))
      .filter(col(eventCol) =!= "REMOVE")
  }
}
