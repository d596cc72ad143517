package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loaders for the driver corpus (TESTDATA.md) and for
  * reference-schema analog inputs.
  *
  * Mirrors the reference's lazy parquet scans (S1/S2 in SURVEY.md §2.1;
  * reference `eda_workspace/public_eda_pipeline.py:29-30,64-66`): reads stay
  * lazy until an action, and schema-only access touches only footers.
  */
object Tables {

  /** Lazy scan of one corpus table: `dir/name.parquet`. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Type-adaptive events loader: `dir/events.parquet` with `ts`
    * normalized to a proper TIMESTAMP (microsecond precision, UTC session
    * contract) REGARDLESS of how the producer encoded it. Real corpora mix
    * encodings — pandas/pyarrow and Spark default to TIMESTAMP(MICROS),
    * while nanosecond producers emit INT64 TIMESTAMP(NANOS), which Spark
    * can only surface as a long (`spark.sql.legacy.parquet.nanosAsLong`) —
    * so the reader sniffs the resolved footer type instead of hardcoding
    * one encoding. See [[normalizeEventTs]] for the per-type rules. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    readEventsPath(spark, s"$dir/events.parquet")

  /** [[readEvents]] for a full file/dir path rather than a corpus dir.
    *
    * DELIBERATE session-wide side effect: `nanosAsLong` stays set after
    * this call. The flag must be live not just for this footer read but
    * for every later execution of the returned (lazy) frame — and for
    * the micro-batch reads of any stream built from the same path
    * ([[graft.streaming.EventStream.rawEventSchema]]) — so a scoped
    * set-and-restore would break the first action after the restore.
    * The flag only changes how INT64 TIMESTAMP(NANOS) parquet columns
    * surface (long instead of an analysis error); reads of non-nano
    * data are unaffected. */
  def readEventsPath(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(spark.read.parquet(path))
  }

  /** Nanosecond instants for any plausible event corpus land in
    * [1990-01-01, 2100-01-01): micros/millis longs for the same dates sit
    * 3/6 orders of magnitude BELOW the floor, so the range doubles as a
    * unit check. */
  private val SaneNanosLo = 631152000000000000L  // 1990-01-01T00:00:00Z
  private val SaneNanosHi = 4102444800000000000L // 2100-01-01T00:00:00Z

  /** Normalize an events frame's `ts` column to TimestampType (micros,
    * session-UTC instant). Branches on the RESOLVED Spark type:
    *  - LongType — the nanosAsLong rendering of INT64 TIMESTAMP(NANOS):
    *    integer-div to micros (exact truncation, matching DuckDB's native
    *    nanosecond cast) and stamp as timestamp. Type alone cannot
    *    distinguish annotated NANOS from a bare INT64 holding micros or
    *    millis, and a silent nanos reading of micros longs would compress
    *    event time 1000× — so values outside the sane nanosecond epoch
    *    range [1990, 2100) fail loudly per row (`raise_error`) instead.
    *  - TimestampNTZType — parquet TIMESTAMP(MICROS, isAdjustedToUTC=false)
    *    (pandas/pyarrow default): reinterpret the wall-clock as UTC via a
    *    cast under the repo-wide UTC session contract.
    *  - TimestampType — already an instant; pass through.
    * Works on batch and streaming frames alike (pure column rewrite). */
  def normalizeEventTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType =>
      raw.withColumn("ts", timestamp_micros(
        when(col("ts").isNull, lit(null).cast(LongType))
          .when(col("ts").between(SaneNanosLo, SaneNanosHi - 1), expr("ts div 1000"))
          .otherwise(raise_error(concat(
            lit("events ts long outside the 1990–2100 nanosecond epoch range — "),
            lit("micros/millis produced as bare INT64? value: "),
            col("ts").cast(StringType))))))
    case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType => raw
    case other =>
      throw new IllegalArgumentException(s"unsupported events ts encoding: $other")
  }
}

/** Column-role discovery by name prefix, the reference's schema system
  * (`eda_workspace/public_eda_pipeline.py:52-55,68-71`): `num_feature_*`,
  * `cat_feature_*`, `target_*`, id `customer_id`.
  */
final case class FeatureCatalog(
    idCol: String,
    numFeatures: Seq[String],
    catFeatures: Seq[String],
    targets: Seq[String]) {
  def allFeatures: Seq[String] = numFeatures ++ catFeatures
}

object FeatureCatalog {
  val DefaultId = "customer_id"

  def fromSchema(fieldNames: Seq[String], idCol: String = DefaultId): FeatureCatalog =
    FeatureCatalog(
      idCol = idCol,
      numFeatures = fieldNames.filter(_.startsWith("num_feature_")),
      catFeatures = fieldNames.filter(_.startsWith("cat_feature_")),
      targets = fieldNames.filter(_.startsWith("target_")))

  /** Target family = middle token of `target_<family>_<idx>`; names with
    * fewer than 3 tokens have no family token and map to "unknown"
    * (reference `public_eda_pipeline.py:52-55` requires `len(parts) >= 3`). */
  def targetFamily(target: String): String = {
    val parts = target.split("_")
    if (parts.length >= 3) parts(1) else "unknown"
  }
}
