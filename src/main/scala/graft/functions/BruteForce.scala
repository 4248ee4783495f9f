package graft.functions

import graft.model.Schemas

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Best-effort decoding of untyped Kafka key/value bytes — the engine's
 * re-expression of the reference's `BruteForceSerde` + `ErrorUtil.toString`
 * (SURVEY §2.2 T17/T18): any topic can be consumed without declaring its
 * format, and every payload has a deterministic string rendering used for
 * `input_value` and stringified keys.
 *
 * Decode chain (deterministic, first match wins — the reference's serde tries
 * schema-registry Avro FIRST, then falls back,
 * DeadLetterAnalyzerTopology.java:102-105):
 *   1. null → null
 *   2. (when a schema map is configured) Confluent wire format — magic byte 0
 *      + big-endian 4-byte schema id + binary Avro — with a known schema id →
 *      the record's compact-JSON rendering (what `ErrorUtil.toString`
 *      produces for Avro records, e.g. `{"id":1}`, reference
 *      DeadLetterAnalyzerTopologyTest.java:653-659); kind `dead_letter` if
 *      the rendering carries the dead-letter shape, else kind `avro`. A
 *      static id→schema map replaces the live registry lookup (an
 *      operational transport concern); unknown ids fall through the chain.
 *   3. bytes that are valid JSON carrying the dead-letter shape (a
 *      `description` plus a `cause` object) → kind `dead_letter`, the JSON
 *      itself is the rendering — the engine's JSON interchange for Avro
 *      `DeadLetter` values (format #1, reference
 *      DeadLetterAnalyzerTopology.java:98-100).
 *   4. bytes that decode as clean UTF-8 → kind `string`, the text itself.
 *   5. anything else → kind `binary`, lowercase hex rendering.
 */
/** Topology configuration threaded (implicitly) through the parsers and both
  * topologies.
  *
  *  - `schemas`: the [[SchemaProvider]] resolving Confluent schema ids for
  *    decode-chain step 2. The default (an empty static map) disables the
  *    Avro tier.
  *  - `timestampZone`: when set, sink timestamps render as wall-clock time
  *    of this zone id — the reference formats in the HOST zone
  *    (`Formatter.java:60-62`, `ZoneId.systemDefault()`), so zone parity is
  *    `Some(ZoneId.systemDefault().getId)`. Default None = session zone
  *    (pinned UTC in this project): deterministic across hosts.
  *
  * Sink timestamps are always fixed-width `yyyy-MM-dd'T'HH:mm:ss.SSS`: the
  * reference's DATE_TIME_FORMATTER has optional sections, but Java optional
  * sections shorten parsing, not formatting, so its `format()` output never
  * takes the `…THH:mm` / `…THH:mm:ss` short forms. */
final case class DecodeConfig(
    schemas: SchemaProvider = StaticSchemas(Map.empty),
    timestampZone: Option[String] = None)

object DecodeConfig {
  implicit val default: DecodeConfig = DecodeConfig()
}

object BruteForce {

  /** JSON interchange schema for dead-letter payloads: timestamps travel as
    * epoch millis (Avro `timestamp-millis` long), matching the Avro JSON
    * encoding of the reference's `DeadLetter`. */
  val deadLetterJson: StructType = StructType(Seq(
    StructField("input_value", StringType),
    StructField("partition", IntegerType),
    StructField("topic", StringType),
    StructField("offset", LongType),
    StructField("description", StringType),
    StructField("cause", Schemas.errorDescription),
    StructField("input_timestamp", LongType)))

  /** binary→string cast wraps the raw bytes without validation (no throw, no
    * replacement); `is_valid_utf8` then gates which decode branch applies. */
  private def utf8(bin: Column): Column = bin.cast("string")
  private def isCleanUtf8(bin: Column): Column = is_valid_utf8(utf8(bin))

  /** Parse a candidate dead-letter JSON rendering: (isDeadLetter, struct). */
  private def dlFromJson(txt: Column): (Column, Column) = {
    // cheap pre-gate: a JSON dead letter must contain the literal key
    // `"description"`, so the (expensive) JSON parse is skipped for the vast
    // majority of payloads. (A \u-escaped key would slip past the gate —
    // acceptable for a best-effort brute-force decoder.)
    val dl = when(txt.contains("\"description\""), from_json(txt, deadLetterJson))
    val isDl = dl.isNotNull && dl.getField("description").isNotNull &&
      dl.getField("cause").isNotNull
    val deadLetter = struct(
      dl.getField("input_value").as("input_value"),
      dl.getField("partition").as("partition"),
      dl.getField("topic").as("topic"),
      dl.getField("offset").as("offset"),
      dl.getField("description").as("description"),
      dl.getField("cause").as("cause"),
      timestamp_millis(dl.getField("input_timestamp")).as("input_timestamp"))
    (isDl, deadLetter)
  }

  /** struct(kind, text, dead_letter) — `dead_letter` non-null iff kind =
    * 'dead_letter'. The Avro tier activates when the in-scope [[DecodeConfig]]
    * carries an active [[SchemaProvider]] (default: none). */
  def decoded(bin: Column)(implicit dc: DecodeConfig): Column =
    decodedWithAvro(bin, dc.schemas)

  /** [[decoded]] with a Confluent-wire-format Avro tier tried first (chain
    * step 2), resolving schema ids through `provider` — the reference's
    * registry-first serde chain with the registry behind the seam. */
  def decodedWithAvro(bin: Column, provider: SchemaProvider): Column = {
    val txt = utf8(bin)
    val (isDl, deadLetter) = dlFromJson(txt)
    val base = when(bin.isNull, lit(null).cast(decodedType))
      .when(isCleanUtf8(bin) && isDl,
        struct(lit("dead_letter").as("kind"), txt.as("text"), deadLetter.as("dead_letter")))
      .when(isCleanUtf8(bin),
        struct(lit("string").as("kind"), txt.as("text"),
          lit(null).cast(deadLetterStruct).as("dead_letter")))
      .otherwise(
        struct(lit("binary").as("kind"), lower(hex(bin)).as("text"),
          lit(null).cast(deadLetterStruct).as("dead_letter")))
    if (!provider.isActive) base
    else {
      // Confluent framing gate (magic byte 0, >= 5 bytes — the 1+4-byte
      // header alone is a valid frame for a zero-field record body, matching
      // AvroDecode.render's minimum) is pure column
      // arithmetic; only gated rows reach the Avro-decode function (CaseWhen
      // evaluates the matched branch only). The decode renders the record as
      // compact JSON — a failed decode or unknown id yields null and falls
      // through to the remaining tiers.
      val decoder = AvroDecode(provider)
      val gate = bin.isNotNull && length(bin) >= 5 &&
        substring(bin, 1, 1) === lit(Array[Byte](0))
      val avroTxt = udf((b: Array[Byte]) => decoder.render(b)).apply(bin)
      val (avroIsDl, avroDl) = dlFromJson(avroTxt)
      when(gate && avroTxt.isNotNull && avroIsDl,
          struct(lit("dead_letter").as("kind"), avroTxt.as("text"),
            avroDl.as("dead_letter")))
        .when(gate && avroTxt.isNotNull,
          struct(lit("avro").as("kind"), avroTxt.as("text"),
            lit(null).cast(deadLetterStruct).as("dead_letter")))
        .otherwise(base)
    }
  }

  private val deadLetterStruct: StructType = Schemas.deadLetter

  val decodedType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("dead_letter", deadLetterStruct, nullable = true)))

  /** The reference's `ErrorUtil.toString` rendering of an arbitrary payload:
    * the decoded text regardless of kind (JSON for records — including
    * registry-Avro ones when schemas are configured — raw text for strings,
    * hex for binary); null for null. */
  def stringified(bin: Column)(implicit dc: DecodeConfig): Column =
    decoded(bin).getField("text")
}
