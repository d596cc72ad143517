package graft

import org.apache.spark.sql.functions._
import graft.stats.Auc

class AucSpec extends SparkSpec {

  /** Brute-force tie-corrected AUC (Mann-Whitney pair counting). */
  private def bruteAuc(data: Seq[(Int, Double)]): Double = {
    val pos = data.filter(_._1 == 1).map(_._2)
    val neg = data.filter(_._1 == 0).map(_._2)
    if (pos.isEmpty || neg.isEmpty) Double.NaN
    else {
      val wins = (for (p <- pos; n <- neg)
        yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
      wins / (pos.size.toDouble * neg.size)
    }
  }

  private def aucOf(data: Seq[(Int, Double)]): Double = {
    import spark.implicits._
    val df = data.toDF("y", "s")
    Auc.aucDf(df, col("y") === 1, col("s")).collect()(0).getAs[Double]("auc")
  }

  test("AUC matches brute-force pair counting, with ties") {
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(400)((rnd.nextInt(2), math.floor(rnd.nextGaussian() * 3) / 2.0))
    assert(math.abs(aucOf(data) - bruteAuc(data)) < 1e-12)
  }

  test("AUC on binary scores (heavy ties) matches brute force") {
    val rnd = new scala.util.Random(11)
    val data = Seq.fill(300)((rnd.nextInt(2), rnd.nextInt(2).toDouble))
    assert(math.abs(aucOf(data) - bruteAuc(data)) < 1e-12)
  }

  test("perfect separation gives 1.0; inverted gives 0.0; degenerate gives NaN") {
    val sep = (1 to 50).map(i => (if (i <= 25) 1 else 0, if (i <= 25) 100.0 + i else i.toDouble))
    assert(math.abs(aucOf(sep) - 1.0) < 1e-12)
    val inv = sep.map { case (y, s) => (1 - y, s) }
    assert(math.abs(aucOf(inv)) < 1e-12)
    assert(aucOf(Seq((1, 1.0), (1, 2.0))).isNaN) // one class only
  }

  test("binaryAucProfile matches rank-based aucDf for indicator columns") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val df = Seq.fill(500)((rnd.nextInt(2), rnd.nextInt(2), rnd.nextInt(2), rnd.nextInt(4) / 3))
      .toDF("y", "i1", "i2", "i3")
    val profile = Auc.binaryAucProfile(df, col("y") === 1, Seq("i1", "i2", "i3"))
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    Seq("i1", "i2", "i3").foreach { c =>
      val ranked = Auc.aucDf(df, col("y") === 1, col(c)).collect()(0).getAs[Double]("auc")
      assert(math.abs(profile(c) - ranked) < 1e-12, s"$c: ${profile(c)} vs $ranked")
    }
  }

  test("AUC is invariant to partitioning (parallel prefix sum correctness)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val data = Seq.fill(1000)((rnd.nextInt(2), rnd.nextInt(40).toDouble))
    val df1 = data.toDF("y", "s").repartition(1)
    val df13 = data.toDF("y", "s").repartition(13)
    val a1 = Auc.aucDf(df1, col("y") === 1, col("s")).collect()(0).getAs[Double]("auc")
    val a13 = Auc.aucDf(df13, col("y") === 1, col("s")).collect()(0).getAs[Double]("auc")
    assert(a1 == a13) // bit-identical, not just close
    assert(math.abs(a1 - bruteAuc(data)) < 1e-12)
  }
}
