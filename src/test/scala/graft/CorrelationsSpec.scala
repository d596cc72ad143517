package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.stats.Correlations

class CorrelationsSpec extends SparkSpec {

  /** `n` rows of `k` seeded 0/1 columns f0..f(k-1), about 1 cell in 20 null. */
  private def flags(k: Int, n: Int): (org.apache.spark.sql.DataFrame, Seq[Seq[Integer]]) = {
    val rnd = new scala.util.Random(k)
    val data = Seq.fill(n)(Seq.fill(k)(
      if (rnd.nextInt(20) == 0) null else Integer.valueOf(rnd.nextInt(2))))
    val cols = (0 until k).map(i => s"f$i")
    val schema = StructType(cols.map(StructField(_, IntegerType)))
    import scala.jdk.CollectionConverters._
    (spark.createDataFrame(data.map(Row.fromSeq).asJava, schema), data)
  }

  test("pairLift counts on binary input equal a driver loop at k=3 and k=80") {
    for (k <- Seq(3, 80)) {
      val (df, data) = flags(k, 300)
      val cols = (0 until k).map(i => s"f$i")
      def v(row: Seq[Integer], i: Int): Long = Option(row(i)).map(_.toLong).getOrElse(0L)
      val pos = (0 until k).map(i => data.map(v(_, i)).sum)
      val g = Correlations.gramian(df, cols)
      assert(g.n === 300L)
      val got = Correlations.pairLift(df, cols).collect().map { r =>
        (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      }.toMap
      assert(got.size === k * (k - 1) / 2, s"k=$k")
      for (i <- 0 until k; j <- i + 1 until k) {
        val co = data.map(r => v(r, i) * v(r, j)).sum
        val (ca, cb, gco, lift) = got((cols(i), cols(j)))
        assert((ca, cb, gco) === ((pos(i), pos(j), co)), s"k=$k pair ($i,$j)")
        assert(g.co(i, j) === co && g.positives(i) === pos(i), s"k=$k gramian ($i,$j)")
        val want = (co / 300.0) / ((pos(i) / 300.0) * (pos(j) / 300.0))
        assert(math.abs(lift - want) < 1e-12, s"k=$k lift ($i,$j)")
      }
    }
  }

  test("corrMatrix and crossCorr match df.stat.corr on continuous columns with imputed nulls") {
    val rnd = new scala.util.Random(11)
    val n = 400
    val data = Seq.fill(n) {
      val z = rnd.nextGaussian()
      def cell(x: Double): java.lang.Double = if (rnd.nextInt(8) == 0) null else x
      Row(cell(z + rnd.nextGaussian()), cell(1e3 + 0.01 * z + 0.01 * rnd.nextGaussian()),
        cell(-z * 5 + rnd.nextGaussian()), if (z + rnd.nextGaussian() > 0) 1.0 else 0.0,
        2 * z + rnd.nextGaussian())
    }
    val cols = Seq("x1", "x2", "x3", "y1", "y2")
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(data.asJava, StructType(cols.map(StructField(_, DoubleType))))
    val feats = Seq("x1", "x2", "x3")
    val tgts = Seq("y1", "y2")

    val m = Correlations.corrMatrix(df, cols)
    val complete = df.na.drop(cols)
    for (i <- cols.indices; j <- cols.indices) {
      val want = if (i == j) 1.0 else complete.stat.corr(cols(i), cols(j))
      assert(math.abs(m(i, j) - want) < 1e-12,
        s"corrMatrix (${cols(i)},${cols(j)}): ${m(i, j)} vs $want")
    }
    val imputed = Correlations.imputeMeans(df, feats)
    val grid = Correlations.crossCorrRows(df, feats, tgts)
    assert(grid.map(r => (r._1, r._2)) === (for (f <- feats; t <- tgts) yield (f, t)))
    grid.foreach { case (f, t, r, a) =>
      val want = imputed.stat.corr(f, t)
      assert(math.abs(r - want) < 1e-12, s"crossCorr ($f,$t): $r vs $want")
      assert(a === math.abs(r))
    }
  }

  private def flagFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    Seq.fill(500)((rnd.nextInt(2), rnd.nextInt(2), rnd.nextInt(2), rnd.nextInt(2)))
      .toDF("a", "b", "c", "d")
  }

  test("pairLift agg path and Gramian path agree exactly") {
    // pairLift (a14) and pairLiftGramian (its a14b scale twin) are two entry
    // points; both must give the same rows, and match the Gramian's accessors.
    val df = flagFrame
    val cols = Seq("a", "b", "c", "d")
    def toMap(r: org.apache.spark.sql.DataFrame) = r.collect().map { row =>
      (row.getString(0), row.getString(1)) ->
        (row.getLong(2), row.getLong(3), row.getLong(4), row.getDouble(5))
    }.toMap
    val agg = toMap(Correlations.pairLift(df, cols))
    val gram = toMap(Correlations.pairLiftGramian(df, cols))
    val g = Correlations.gramian(df, cols)
    assert(agg.keySet === gram.keySet)
    assert(agg.size === 6)
    agg.foreach { case (k, (ca, cb, co, lift)) =>
      val (ga, gb, gco, glift) = gram(k)
      assert(ca === ga && cb === gb && co === gco, s"pair $k")
      assert(math.abs(lift - glift) < 1e-12 || (lift.isNaN && glift.isNaN), s"lift $k")
      val (i, j) = (cols.indexOf(k._1), cols.indexOf(k._2))
      assert((ca, cb, co) === ((g.positives(i), g.positives(j), g.co(i, j))), s"gramian $k")
      assert(math.abs(lift - g.lift(i, j)) < 1e-12, s"gramian lift $k")
    }
  }

  test("pairLift on >64 columns routes through the Gramian without error") {
    import org.apache.spark.sql.functions._
    val n = 70
    val base = spark.range(200).toDF("id")
    val wide = (0 until n).foldLeft(base) { (d, i) =>
      d.withColumn(s"f$i", (pmod(col("id") + i, lit(3)) === 0).cast("int"))
    }
    val out = Correlations.pairLift(wide, (0 until n).map(i => s"f$i"))
    assert(out.count() === n.toLong * (n - 1) / 2)
  }

  test("small-k corrMatrix agg path matches df.stat.corr pairwise") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val m = Correlations.corrMatrix(li, cols)
    for (i <- cols.indices; j <- cols.indices) {
      if (i == j) assert(math.abs(m(i, j) - 1.0) < 1e-12)
      else {
        val truth = li.stat.corr(cols(i), cols(j))
        assert(math.abs(m(i, j) - truth) < 1e-9, s"(${cols(i)},${cols(j)}): ${m(i, j)} vs $truth")
      }
    }
  }

  test("empty input returns the zero Gramian and does not throw") {
    val (df, _) = flags(4, 10)
    val empty = df.limit(0)
    val cols = (0 until 4).map(i => s"f$i")
    val g = Correlations.gramian(empty, cols)
    assert(g.n === 0L)
    for (i <- 0 until 4; j <- 0 until 4) assert(g.co(i, j) === 0L && g.positives(i) === 0L)
    val pairs = Correlations.pairLift(empty, cols).collect()
    assert(pairs.length === 6 && pairs.forall(r => r.getLong(4) == 0L && r.getDouble(5).isNaN))
    val m = Correlations.corrMatrix(empty, cols)
    assert(m(0, 0) === 1.0 && m(0, 1).isNaN)
    assert(Correlations.crossCorrRows(empty, cols.take(2), cols.drop(2)).forall(_._3.isNaN))
  }

  test("imputeMeans fills nulls with the column mean, all-null with 0") {
    import spark.implicits._
    val df = Seq[(java.lang.Double, java.lang.Double)]((1.0, null), (3.0, null), (null, null))
      .toDF("x", "allnull")
    val out = Correlations.imputeMeans(df, Seq("x", "allnull")).collect()
    val xs = out.map(_.getDouble(0)).sorted
    assert(xs.toSeq === Seq(1.0, 2.0, 3.0)) // null → mean(1,3)=2
    assert(out.map(_.getDouble(1)).forall(_ == 0.0))
  }
}
