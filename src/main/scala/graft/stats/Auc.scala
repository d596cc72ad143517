package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import graft.core.Relational

/** Exact ROC AUC as a distributed rank statistic (Mann–Whitney U with
  * average-rank tie correction) — SURVEY.md A17.
  *
  * The reference wraps sklearn's `roc_auc_score` with a degenerate-class
  * guard (`eda_workspace/public_eda_pipeline.py:33-39`) and uses it in three
  * blocks (`P:304,353,459`). sklearn computes the trapezoidal ROC integral,
  * which with average ranks is exactly
  *   AUC = (Σ rank⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻).
  * Ties get average ranks (tie correction), which matters for binary scores
  * like missing-indicators (`P:345-355`).
  *
  * Scale design (no global single-partition window anywhere):
  *   1. reduce to one row per DISTINCT score — shuffled, map-side-combined
  *      aggregate;
  *   2. running row count over the distinct-score histogram, from the
  *      distributed prefix scan ([[graft.core.Relational.withGlobalCumSum]]);
  *   3. single-row final reduction.
  * Every per-row quantity is an integer-valued double (< 2^53), so the
  * arithmetic is exact and the result is bit-deterministic regardless of
  * partitioning — safe for the DuckDB-oracle hash compare.
  */
object Auc {

  /** AUC of `score` predicting boolean/0-1 `label`, as a 1-row DataFrame
    * (n_pos, n_neg, auc). Returns NaN auc when a class is absent —
    * the reference's `safe_auc` guard (`public_eda_pipeline.py:34-35`). */
  def aucDf(df: DataFrame, label: Column, score: Column): DataFrame = {
    val perScore = df
      .select(score.cast("double").as("s"), label.cast("int").as("y"))
      .where(col("s").isNotNull && col("y").isNotNull)
      .groupBy(col("s"))
      .agg(
        sum(col("y")).cast("double").as("pos"),
        sum(lit(1) - col("y")).cast("double").as("neg"))

    // Average rank of a tie-group = (rows at or before it) − (size−1)/2.
    val ranked = Relational
      .withGlobalCumSum(perScore, Seq(col("s")), col("pos") + col("neg"), "cum")
      .withColumn("avg_rank", col("cum") - (col("pos") + col("neg") - 1) / 2.0)

    ranked.agg(
      sum(col("pos")).as("n_pos"),
      sum(col("neg")).as("n_neg"),
      sum(col("avg_rank") * col("pos")).as("rank_sum"))
      .select(
        col("n_pos"),
        col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(Double.NaN))
          .otherwise(
            (col("rank_sum") - col("n_pos") * (col("n_pos") + 1) / 2.0) /
              (col("n_pos") * col("n_neg")))
          .as("auc"))
  }

  /** Scalar convenience: collect the 1-row result. */
  def auc(df: DataFrame, label: Column, score: Column): Double = {
    val row = aucDf(df, label, score).head()
    if (row.isNullAt(2)) Double.NaN else row.getDouble(2)
  }

  /** Orientation-free strength `max(auc, 1-auc)` (reference `P:354`). */
  def aucStrength(a: Double): Double =
    if (a.isNaN) Double.NaN else math.max(a, 1.0 - a)

  /** Many BINARY-score AUCs in ONE aggregate pass. For a 0/1 score the
    * tie-corrected AUC has the closed form 0.5 + (P(s=1|y=1) −
    * P(s=1|y=0))/2, so k indicator columns (e.g. the reference's
    * missing-indicator screen, `P:321-364`) need k conditional means —
    * one map-side-combined job instead of k ranking jobs. Returns
    * (col_name, auc, abs_auc); NaN when a label class is absent.
    * Verified against the rank-based [[aucDf]] in AucSpec. */
  def binaryAucProfile(df: DataFrame, label: Column, cols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val y = label.cast("int")
    val aggs =
      Seq(sum(y).as("__np"), sum(lit(1) - y).as("__nn")) ++
        cols.flatMap { c =>
          val s = col(c).cast("int")
          Seq(sum(when(y === 1, s)).as(s"${c}__p1"),
            sum(when(y === 0, s)).as(s"${c}__p0"))
        }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val np = if (row.isNullAt(0)) 0L else row.getLong(0)
    val nn = if (row.isNullAt(1)) 0L else row.getLong(1)
    val out = cols.zipWithIndex.map { case (c, i) =>
      val a =
        if (np == 0 || nn == 0) Double.NaN
        else {
          val s1 = if (row.isNullAt(2 + 2 * i)) 0L else row.getLong(2 + 2 * i)
          val s0 = if (row.isNullAt(3 + 2 * i)) 0L else row.getLong(3 + 2 * i)
          0.5 + (s1.toDouble / np - s0.toDouble / nn) / 2.0
        }
      val aucV: java.lang.Double = if (a.isNaN) null else a
      val absV: java.lang.Double = if (a.isNaN) null else math.max(a, 1 - a)
      Row(c, aucV, absV)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(out.asJava, StructType(Seq(
      StructField("col_name", StringType, nullable = false),
      StructField("auc", DoubleType, nullable = true),
      StructField("abs_auc", DoubleType, nullable = true))))
  }
}
