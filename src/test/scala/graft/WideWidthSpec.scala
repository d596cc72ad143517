package graft

import java.nio.file.Files
import graft.core.WideAgg
import graft.fixtures.RefFixture
import graft.stats.Correlations
import org.apache.spark.sql.functions._

/** Width-stress at the reference's REAL extra-features width: 2241 columns
  * (customer_id + 2240 features; `public_eda_pipeline.py:65`,
  * `public_tables/summary.json:6`). The synthetic pipeline fixture uses ~30
  * extra columns, so until this spec the wide-agg path — whose batching
  * exists precisely for codegen/constant-pool limits at this width
  * (SURVEY.md A3) — had never been executed at true reference width.
  *
  * Everything here goes through a parquet round-trip first, so the read
  * side (footer with 2241 column chunks, vectorized reader) is exercised
  * too, not just in-memory projections.
  */
class WideWidthSpec extends SparkSpec {

  private val Width = 2240 // + customer_id = 2241 columns, the reference width
  private val Rows = 2000L

  /** Wide fixture written once, read back from parquet. */
  private lazy val wide = {
    val dir = tempDir("graft_wide").toString
    RefFixture.trainExtra(spark, n = Rows, nCols = Width)
      .write.mode("overwrite").parquet(s"$dir/train_extra_features.parquet")
    spark.read.parquet(s"$dir/train_extra_features.parquet")
  }
  private lazy val featCols: Seq[String] =
    wide.columns.filter(_.startsWith("num_feature_")).toSeq

  test("fixture is the reference width and survives a parquet round-trip") {
    assert(wide.columns.length === Width + 1)
    assert(wide.count() === Rows)
  }

  test("nullProfile at 2241 columns: one row per column, rates sane and exact") {
    val prof = WideAgg.nullProfile(wide, featCols).collect()
    assert(prof.length === Width)
    val rates = prof.map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates.values.forall(r => r >= 0.0 && r <= 1.0))
    // fixture spans ~0.1 → ~0.995 null rates; both ends must be realized
    assert(rates.values.min < 0.2 && rates.values.max > 0.9)
    // exactness spot-check against a direct per-column count
    val k = featCols(Width / 2)
    val direct = wide.agg(avg(col(k).isNull.cast("double"))).head.getDouble(0)
    assert(rates(k) === direct)
  }

  test("DefaultBatch is invariant: batch=400 ≡ batch=97 ≡ one 2240-agg pass") {
    val a = WideAgg.runBatched(wide, featCols,
      c => sum(col(c).cast("decimal(27,6)")).cast("double"), batch = WideAgg.DefaultBatch)
    val b = WideAgg.runBatched(wide, featCols,
      c => sum(col(c).cast("decimal(27,6)")).cast("double"), batch = 97)
    // the unbatched extreme: 2240 aggregates in ONE agg() — the exact shape
    // that stresses Janino constant-pool / codegen; Spark must either
    // codegen it or fall back, but the numbers may not change
    val c0 = WideAgg.runBatched(wide, featCols,
      c => sum(col(c).cast("decimal(27,6)")).cast("double"), batch = Width)
    assert(a === b)
    assert(a === c0)
    assert(a.map(_._1) === featCols)
  }

  test("meanProfile + sumProfileExact at width agree with each other") {
    val sums = WideAgg.sumProfileExact(wide, featCols)
      .collect().map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    val means = WideAgg.meanProfile(wide, featCols)
      .collect().map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    val counts = WideAgg.runBatched(wide, featCols, c => count(col(c)).cast("double"))
    assert(sums.size === Width && means.size === Width)
    counts.foreach { case (c, Some(n)) =>
      if (n == 0) assert(means(c).isEmpty, s"$c mean of all-null")
      else assert(math.abs(sums(c).get / n - means(c).get) < 1e-9, s"$c sum/n vs mean")
    case _ => fail("count aggregate returned null")
    }
  }

  test("horizontal counts at 2240 columns (balanced tree, no stack overflow)") {
    // filled_extra_count over 2240 columns — the block-9 shape; a left-deep
    // reduce(_ + _) chain at this width is exactly where the analyzer's
    // recursive tree walks risk StackOverflowError
    val agg = wide.select(
      WideAgg.horizontalNotNullCount(featCols).as("filled"),
      WideAgg.horizontalNullCount(featCols).as("missing")).agg(
      sum(col("filled")).as("filled_total"),
      sum(col("missing")).as("missing_total"),
      min(col("filled") + col("missing")).as("lo"),
      max(col("filled") + col("missing")).as("hi")).head
    // partition identity: every row's filled+missing = Width
    assert(agg.getLong(2) === Width.toLong && agg.getLong(3) === Width.toLong)
    // cross-check the horizontal total against the vertical null profile
    val nullTotal = WideAgg.runBatched(wide, featCols,
      c => sum(col(c).isNull.cast("long")).cast("double"))
      .map(_._2.get).sum.toLong
    assert(agg.getLong(1) === nullTotal)
    assert(agg.getLong(0) === Rows * Width - nullTotal)
  }

  test("imputeMeans at width: one projection, nulls filled with per-col means") {
    val imputed = Correlations.imputeMeans(wide, featCols)
    // no nulls survive
    val anyNull = imputed.select(
      WideAgg.horizontalNullCount(featCols).as("n")).agg(sum("n")).head.getLong(0)
    assert(anyNull === 0L)
    // imputation preserves the column mean (fill value IS the mean)
    val k = featCols.head
    val before = wide.agg(avg(col(k))).head.getDouble(0)
    val after = imputed.agg(avg(col(k))).head.getDouble(0)
    assert(math.abs(before - after) < 1e-6)
  }

  test("FULL EdaPipeline runs end-to-end at the reference's 2241-col extra width") {
    // not just the agg kernels (the tests above): all 16 blocks WIRED
    // TOGETHER over a 2240-extra-feature fixture, so width-triggered
    // failures in block plumbing (block 8's band histogram over 2240
    // null-rates feeding block 9, block 13 screening over the full
    // width, the report writers) can't escape. Rows stay small — width
    // is the stress, not volume.
    val dir = tempDir("graft_widepipe_in").toString
    val outDir = tempDir("graft_widepipe_out").toString
    RefFixture.write(spark, dir, nTrain = 2000, nTest = 800, nExtraCols = Width)
    val r = graft.pipeline.EdaPipeline.run(spark, dir, outDir)
    // golden invariants hold at width
    assert(r.trainRows === 2000L && r.testRows === 800L)
    assert(r.nTargets === 41)
    assert(r.filledCountAuc > 0.5 && r.filledCountAuc <= 1.0, s"auc=${r.filledCountAuc}")
    assert(r.adversarialAuc > 0.3 && r.adversarialAuc < 0.7, s"adv=${r.adversarialAuc}")
    // the screening block saw ~the full extra width (only the >0.95
    // null-rate tail is excluded by the pipeline's own screening rule)
    assert(r.screenedFeatures > 2000 && r.screenedFeatures <= Width + RefFixture.NumMain,
      s"screened=${r.screenedFeatures}")
    // per-extra-column artifact realized at width: header + 2240 rows
    val miss = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(outDir, "extra_missingness_summary.csv"))
    assert(miss.size === Width + 1, s"extra_missingness rows=${miss.size}")
    // band histogram over the 2240 null rates still partitions them all
    val bands = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(outDir, "extra_missingness_bands.csv"))
    val nIdx = bands.get(0).split(",").indexOf("n_features")
    val total = (1 until bands.size).map(i => bands.get(i).split(",")(nIdx).toLong).sum
    assert(total === Width.toLong, s"banded features=$total")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(outDir, "summary.json")))
  }

  test("screening-shape crossCorr at width: 200-feature slice × 8 targets") {
    // block-13 shape at width: the co-moment kernel's X×Y block (a
    // 2240×8 block is ~18k doubles — fine), but the spec keeps the
    // spot-check slice small so the whole suite stays fast; the
    // full-width agg paths above are the constant-pool stress.
    val slice = featCols.take(200)
    val targets = RefFixture.trainTarget(spark, Rows)
    val joined = wide.select((col("customer_id") +: slice.map(col)): _*)
      .join(targets.select((col("customer_id") +: RefFixture.TargetNames.take(8).map(col)): _*),
        Seq("customer_id"))
    val grid = Correlations.crossCorr(joined, slice, RefFixture.TargetNames.take(8))
    assert(grid.count() === 200L * 8)
    val bad = grid.where(abs(col("corr")) > 1.0000001).count()
    assert(bad === 0L)
  }
}
