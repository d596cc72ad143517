package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.RefFixture

/** `graft.fixtures.RefFixture`'s construction with the workload seed
  * folded into every xxhash64 tag, so each seed gives a different but
  * reproducible reference-schema fixture. Column names, null rates,
  * cardinalities and target prevalences are RefFixture's own. */
final class Fixture(seed: Long) {

  private def u(tag: String): org.apache.spark.sql.Column =
    pmod(xxhash64(col("customer_id"), lit(s"$seed/$tag")), lit(1000000L)).cast("double") /
      1000000.0

  private def base(spark: SparkSession, n: Long) =
    spark.range(n).withColumnRenamed("id", "customer_id")

  private def mains(spark: SparkSession, n: Long, test: Boolean): DataFrame = {
    val num = (1 to RefFixture.NumMain).map { k =>
      val rate = 0.4 * (k - 1) / RefFixture.NumMain
      when(u(s"null$k") < rate, lit(null).cast("double"))
        .otherwise(round((u(s"v$k") + u(s"w$k") + u(s"x$k") - 1.5) * 10.0, 4))
        .as(s"num_feature_$k")
    }
    val cat = (1 to RefFixture.CatMain).map { k =>
      val card = Seq(3, 8, 20, 50, 200)(k - 1)
      val width = if (test && k >= 4) card + 2 else card
      pmod(xxhash64(col("customer_id"), lit(s"$seed/c$k")), lit(width.toLong)).cast("int")
        .as(s"cat_feature_$k")
    }
    base(spark, n).select(col("customer_id") +: (num ++ cat): _*)
  }

  private def extra(spark: SparkSession, n: Long, nCols: Int): DataFrame = {
    val sig = u("signal")
    val feats = (1 to nCols).map { k =>
      val rate = math.min(0.995, 0.1 + 0.9 * (k - 1) / nCols)
      when(u(s"enull$k") < lit(rate) * (lit(1.25) - sig * 0.5), lit(null).cast("double"))
        .otherwise(round(sig * 5.0 + u(s"ev$k") * 2.0, 4))
        .as(s"num_feature_${100 + k}")
    }
    base(spark, n).select(col("customer_id") +: feats: _*)
  }

  private def target(spark: SparkSession, n: Long, nTargets: Int): DataFrame = {
    val sig = u("signal")
    val ts = RefFixture.TargetNames.take(nTargets).zipWithIndex.map { case (t, i) =>
      val prev = math.max(0.002, 0.3 * math.pow(0.87, i))
      val driver = if (t.startsWith("target_10_")) lit(1.0) - sig else sig
      (u(s"t$i") < (driver * 2.0 * prev)).cast("int").as(t)
    }
    base(spark, n).select(col("customer_id") +: ts: _*)
  }

  /** Write the four input tables of `EdaPipeline.run` under `dir`, with
    * the first `nTargets` of RefFixture's 41 targets. */
  def write(spark: SparkSession, dir: String, nTrain: Long, nExtraCols: Int,
      nTargets: Int): Unit = {
    mains(spark, nTrain, test = false).write.parquet(s"$dir/train_main_features.parquet")
    mains(spark, nTrain * 3 / 8, test = true).write.parquet(s"$dir/test_main_features.parquet")
    extra(spark, nTrain, nExtraCols).write.parquet(s"$dir/train_extra_features.parquet")
    target(spark, nTrain, nTargets).write.parquet(s"$dir/train_target.parquet")
  }
}
