package graft

import java.nio.file.{Files, Paths}
import graft.fixtures.RefFixture
import graft.pipeline.EdaPipeline

/** The FULL 16-block pipeline at the reference's real extra-features
  * width: 2241 columns (customer_id + 2240; `public_eda_pipeline.py:65`,
  * `public_tables/summary.json:6`). [[WideWidthSpec]] drives the
  * individual wide operators (nullProfile / batched sums / imputeMeans /
  * crossCorr) at this width; this spec closes the residual gap it left —
  * a width-triggered failure in BLOCK WIRING (e.g. block 8's band
  * histogram over 2240 null-rates feeding block 9's screening, or the
  * report writer enumerating 2240 feature rows) would escape a
  * per-operator test. Rows are kept small (width is the axis under
  * stress; row count is WideWidthSpec's and PipelineSpec's axis).
  */
class PipelineWidthSpec extends SparkSpec {

  private val Width = 2240 // + customer_id = 2241, the reference width

  private lazy val result = {
    val dir = tempDir("graft_fixture_w").toString
    val outDir = tempDir("graft_out_w").toString
    RefFixture.write(spark, dir, nTrain = 1500, nTest = 500, nExtraCols = Width)
    (EdaPipeline.run(spark, dir, outDir), outDir)
  }

  test("full pipeline completes at 2241-column extra width") {
    val (r, _) = result
    assert(r.trainRows === 1500 && r.testRows === 500)
    assert(r.nTargets === 41)
  }

  test("width-sized artifacts enumerate every feature exactly once") {
    val (_, outDir) = result
    def lines(f: String) = Files.readAllLines(Paths.get(outDir, f))
    // extra-missingness summary: one row per extra feature + header
    val miss = lines("extra_missingness_summary.csv")
    assert(miss.size === Width + 1, s"extra_missingness_summary rows=${miss.size}")
    // the screening corr frame covers features × targets with no dups:
    // every feature name appears, none twice per target
    val corr = lines("feature_target_linear_corr.csv")
    assert(corr.size > Width, s"feature_target_linear_corr rows=${corr.size}")
    val header = corr.get(0).split(",").toSeq
    val (fIdx, tIdx) = (header.indexOf("feature"), header.indexOf("target"))
    assert(fIdx >= 0 && tIdx >= 0, s"header=$header")
    val keys = (1 until corr.size).map { i =>
      val c = corr.get(i).split(",", -1); (c(fIdx), c(tIdx))
    }
    assert(keys.distinct.size === keys.size, "duplicate (feature, target) rows")
  }

  test("band histogram over 2240 null-rates accounts for every feature") {
    val (_, outDir) = result
    val bands = Files.readAllLines(Paths.get(outDir, "extra_missingness_bands.csv"))
    val header = bands.get(0).split(",").toSeq
    val nIdx = header.indexOf("n_features")
    assert(nIdx >= 0, s"header=$header")
    val total = (1 until bands.size).map(i => bands.get(i).split(",", -1)(nIdx).toLong).sum
    assert(total === Width, s"band histogram covers $total of $Width features")
  }
}
