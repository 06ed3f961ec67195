package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL corpus ingestion — the raw entry path of a training-data
  * pipeline: line-delimited JSON documents, schema-enforced, with
  * malformed lines QUARANTINED instead of failing the job or silently
  * vanishing (the corpus analog of the RC pipeline's E1 dead-letter
  * rule: at 100 TB there is always a torn line somewhere, and a
  * pipeline that dies on it never finishes, while one that drops it
  * silently can't be audited).
  *
  * Spark shape: a text scan + one `from_json` projection with a
  * `_corrupt_record` capture field. Both halves split off the SAME
  * lazy projection by a null-test on the capture — no cache, no second
  * pass, no analyzer guard (the json FILE source forbids filtering on
  * only its corrupt column; `from_json` has no such restriction), and
  * the identical expression serves `readStream` for continuous
  * landing-zone ingest. One deliberate divergence from the json file
  * source: blank/whitespace-only lines quarantine here (auditable)
  * instead of being skipped silently.
  */
object CorpusIngest {

  /** The documents-table schema (TESTDATA.md contract). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val Corrupt = "_corrupt_record"

  /** Parse a `value: STRING` line frame (from `spark.read.text` /
    * `readStream.text`): keeps the raw line and adds the typed struct
    * with corrupt capture. Shared verbatim by batch and streaming.
    */
  def parseLines(lines: DataFrame, schema: StructType = docSchema): DataFrame =
    lines.select(col("value"),
      from_json(col("value"), schema.add(StructField(Corrupt, StringType)),
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> Corrupt)).as("p"))

  /** Fields a document row is unusable without: every downstream
    * operator keys on `doc_id` and computes over `text`, and a
    * null content key would silently COLLAPSE all such rows into one
    * under exact dedup (`md5(null)` = one shared null key) — the
    * opposite of the auditable-ingest contract. Other fields (lang,
    * source, n_chars) may be null: sparse metadata is tolerable and
    * visible downstream.
    */
  val requiredFields: Seq[String] = Seq("doc_id", "text")

  /** Split a parsed frame → (good, quarantine). `good` carries exactly
    * `schema`'s columns; `quarantine` carries the raw offending line.
    * Quarantine = malformed JSON, blank lines, AND structurally valid
    * objects missing a required field ([[requiredFields]]) — a line
    * like `{"doc_id": 10}` parses clean under PERMISSIVE mode but is
    * not a document, and must land in the audit trail rather than
    * flow on as a row of nulls.
    */
  def split(parsed: DataFrame,
      schema: StructType = docSchema): (DataFrame, DataFrame) = {
    val missingRequired = requiredFields
      .filter(schema.fieldNames.contains)
      .map(f => col("p").getField(f).isNull)
      .foldLeft(lit(false))(_ || _)
    val bad = col("p").isNull || col("p").getField(Corrupt).isNotNull || missingRequired
    (parsed.filter(!bad)
        .select(schema.fieldNames.map(f => col("p").getField(f).as(f)).toIndexedSeq: _*),
      parsed.filter(bad).select(col("value").as("raw_line")))
  }

  /** Batch JSONL read → (good, quarantine). */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType = docSchema): (DataFrame, DataFrame) =
    split(parseLines(spark.read.text(path), schema), schema)

  /** Streaming JSONL ingest of a directory (files appear over time —
    * the landing-zone pattern). Returns the parsed stream; route the
    * halves with [[split]] (directly on the stream, or per micro-batch
    * inside `foreachBatch` when good and quarantine go to different
    * sinks).
    */
  def streamJsonl(spark: SparkSession, dir: String,
      schema: StructType = docSchema): DataFrame =
    parseLines(spark.readStream.text(dir), schema)

  /** CSV/TSV twin of [[parseLines]]: one `from_csv` projection with
    * the same corrupt-capture shape, so [[split]] serves BOTH formats
    * with one quarantine contract (torn lines, arity mismatches,
    * type-corrupt fields, blanks, and missing required fields all
    * land in the audit trail). Pass `sep = "\t"` for TSV dumps;
    * quoting follows the CSV spec (embedded separators inside
    * double-quoted fields survive).
    */
  def parseCsvLines(lines: DataFrame, schema: StructType = docSchema,
      sep: String = ","): DataFrame =
    lines.select(col("value"),
      from_csv(col("value"), schema.add(StructField(Corrupt, StringType)),
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> Corrupt,
          "sep" -> sep)).as("p"))

  /** Batch CSV read → (good, quarantine). A header line matching the
    * schema's field names is DROPPED by default (it is layout, not a
    * torn record — quarantining it would pollute the audit trail of
    * every well-formed dump); any OTHER header-ish line still
    * quarantines via the type check.
    */
  def readCsv(spark: SparkSession, path: String,
      schema: StructType = docSchema, sep: String = ",",
      dropHeader: Boolean = true): (DataFrame, DataFrame) = {
    val header = schema.fieldNames.mkString(sep)
    val lines0 = spark.read.text(path)
    val lines = if (dropHeader) lines0.filter(col("value") =!= header) else lines0
    split(parseCsvLines(lines, schema, sep), schema)
  }
}
