package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Wide (many-column) single-pass aggregation with codegen-safe batching.
  *
  * The reference computes per-column statistics for up to 2241 columns in one
  * streaming pass (null-rate profile, `eda_workspace/public_eda_pipeline
  * .py:235-254`; wide target sums `P:87-92`). In Spark, thousands of
  * aggregates in a single `agg(...)` can blow whole-stage-codegen / Janino
  * constant-pool limits (SURVEY.md A3), so we batch columns into chunks,
  * run one job per chunk, and assemble the (tiny) results on the driver.
  *
  * Scale note: each batch is a full-scan map-side-combined aggregate — no
  * shuffle beyond the single-row partial merge. At 100 TB the cost is
  * (#batches × one scan); with column pruning each batch scans only its own
  * column chunk in parquet, so total bytes read ≈ one full-table scan.
  */
object WideAgg {
  val DefaultBatch = 400

  /** Null-rate per column (reference A3: `is_null().mean()` for 2241 cols),
    * in column order; None for a column of an empty frame. The 0/1
    * indicator sums are exact in double, so the rate is bit-deterministic
    * across engines. */
  def nullRates(df: DataFrame, cols: Seq[String],
      batch: Int = DefaultBatch): Seq[(String, Option[Double])] =
    runBatched(df, cols, c => avg(col(c).isNull.cast(DoubleType)), batch)

  /** [[nullRates]] as a small (col_name, null_rate) DataFrame. */
  def nullProfile(df: DataFrame, cols: Seq[String], batch: Int = DefaultBatch): DataFrame =
    toDf(df.sparkSession, nullRates(df, cols, batch), "col_name", "null_rate")

  /** Per-column sum (reference A2: 41 target sums in one pass). Plain
    * double accumulation — fast path; use [[sumProfileExact]] when the
    * result must be bit-deterministic (oracle queries). */
  def sumProfile(df: DataFrame, cols: Seq[String], batch: Int = DefaultBatch): DataFrame = {
    val spark = df.sparkSession
    val sums = runBatched(df, cols, c => sum(col(c).cast(DoubleType)), batch)
    toDf(spark, sums, "col_name", "sum_value")
  }

  /** Per-column sum with exact decimal accumulation (order-independent →
    * reproducible bitwise across engines/runs), emitted as double. */
  def sumProfileExact(df: DataFrame, cols: Seq[String], batch: Int = DefaultBatch): DataFrame = {
    val spark = df.sparkSession
    val sums = runBatched(
      df, cols,
      c => graft.functions.SumQ6.sum_q6(col(c)), batch)
    toDf(spark, sums, "col_name", "sum_value")
  }

  /** Per-column mean. */
  def meanProfile(df: DataFrame, cols: Seq[String], batch: Int = DefaultBatch): DataFrame = {
    val spark = df.sparkSession
    val m = runBatched(df, cols, c => avg(col(c).cast(DoubleType)), batch)
    toDf(spark, m, "col_name", "mean")
  }

  /** Generic: one aggregate expression per column, batched, long format.
    * `None` = the aggregate itself was NULL (empty/all-null input);
    * `Some(NaN)` = a genuinely-NaN result — the two are distinct. */
  def runBatched(
      df: DataFrame,
      cols: Seq[String],
      exprOf: String => Column,
      batch: Int = DefaultBatch): Seq[(String, Option[Double])] =
    cols.grouped(math.max(1, batch)).toSeq.flatMap { group =>
      val aggs = group.map(c => exprOf(c).cast(DoubleType).as(c))
      val row: Row = df.agg(aggs.head, aggs.tail: _*).head()
      group.zipWithIndex.map { case (c, i) =>
        c -> (if (row.isNullAt(i)) None else Some(row.getDouble(i)))
      }
    }

  private def toDf(
      spark: SparkSession,
      data: Seq[(String, Option[Double])],
      keyName: String,
      valName: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField(keyName, StringType, nullable = false),
      StructField(valName, DoubleType, nullable = true)))
    val rows = data.map { case (k, v) => Row(k, v.orNull) }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Balanced binary reduce over columns: expression depth O(log k)
    * instead of the left-deep O(k) chain `reduce(_ + _)` builds. At the
    * reference's real width (2241 columns, `public_eda_pipeline.py:65`)
    * a 2k-deep nested Add risks stack overflow in the recursive
    * analyzer/optimizer/codegen tree walks; a balanced tree is ~12 deep. */
  def balancedReduce(cols: Seq[Column])(op: (Column, Column) => Column): Column = {
    require(cols.nonEmpty, "balancedReduce over no columns")
    if (cols.lengthCompare(1) == 0) cols.head
    else {
      val (l, r) = cols.splitAt(cols.length / 2)
      op(balancedReduce(l)(op), balancedReduce(r)(op))
    }
  }

  /** Horizontal (row-wise) sum over many columns (reference E6:
    * `pl.sum_horizontal` over 41 targets / 2241 null-indicators,
    * `public_eda_pipeline.py:284,289`). Nulls count as 0. */
  def horizontalSum(cols: Seq[String]): Column =
    balancedReduce(cols.map(c => coalesce(col(c).cast(LongType), lit(0L))))(_ + _)

  /** Horizontal count of nulls across columns (missingness indicator sum). */
  def horizontalNullCount(cols: Seq[String]): Column =
    balancedReduce(cols.map(c => col(c).isNull.cast(LongType)))(_ + _)

  /** Horizontal count of non-null cells (the reference's
    * `filled_extra_count`, `public_eda_pipeline.py:284`). */
  def horizontalNotNullCount(cols: Seq[String]): Column =
    balancedReduce(cols.map(c => col(c).isNotNull.cast(LongType)))(_ + _)

  /** Boolean→tinyint flag (reference E7: `(expr > 0).cast(Int8)`). */
  def flag(cond: Column): Column = when(cond, 1).otherwise(0).cast(ByteType)
}
