package graft.stats

import org.apache.spark.ml.linalg.{Matrices, Matrix}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.WideAgg

/** Pearson correlation and co-occurrence statistics (SURVEY.md A13–A15),
  * all from ONE accumulation kernel, [[coMoments]].
  *
  * The reference computes a 41×41 target correlation matrix
  * (`eda_workspace/public_eda_pipeline.py:140-141`), pair co-occurrence
  * and lift from the Gramian yᵀy (`P:143-163`) and a 519×41
  * feature×target cross-correlation grid via centered `XᵀY/n`
  * (`P:495-511`). Each is a block of co-moments: the kernel folds every
  * partition's rows into a primitive buffer about fixed per-column
  * centers and tree-reduces the buffers to the driver — one scan, no
  * shuffle of row data, no per-pair aggregate expressions (so no codegen
  * growth with the column count), and only the block asked for: the
  * upper triangle of a square block, or exactly X×Y for a cross block.
  * Centering at the column means first (one means pass) keeps Pearson
  * free of the n·Σxy − ΣxΣy cancellation; 0/1 columns need no centering
  * at all, since their moments are exact integers.
  *
  * Scale note: the buffer is O(|X|·|Y|) doubles per partition, so the
  * plan holds at 100 TB for blocks up to a few thousand columns a side.
  */
object Correlations {

  /** Co-moments of an X×Y column block about fixed centers: the row
    * count n and, per column or pair, Σ(x−cx), Σ(x−cx)², Σ(y−cy),
    * Σ(y−cy)² and Σ(x−cx)(y−cy). A square block (`xs == ys`) stores only
    * its upper triangle, whose diagonal is Σ(x−cx)². */
  private final class CoMoments(
      val n: Long, nx: Int, ny: Int, square: Boolean, buf: Array[Double]) {
    private val cross = if (square) nx * (nx + 1) / 2 else nx * ny
    private val sums = cross + (if (square) 0 else nx + ny)
    def xy(i: Int, j: Int): Double =
      if (!square) buf(i * ny + j)
      else if (i <= j) buf(i * nx - i * (i - 1) / 2 + (j - i))
      else xy(j, i)
    private def xx(i: Int): Double = if (square) xy(i, i) else buf(cross + i)
    private def yy(j: Int): Double = if (square) xy(j, j) else buf(cross + nx + j)
    def x(i: Int): Double = buf(sums + i)
    private def y(j: Int): Double = buf(sums + (if (square) 0 else nx) + j)
    /** Pearson r, exact for any centers (the first moments remove the
      * offset of a center from the column mean); NaN when either column
      * has no variance. */
    def pearson(i: Int, j: Int): Double = {
      val d = math.sqrt((xx(i) - x(i) * x(i) / n) * (yy(j) - y(j) * y(j) / n))
      if (d > 0) (xy(i, j) - x(i) * y(j) / n) / d else Double.NaN
    }
  }

  /** The one accumulation kernel: [[CoMoments]] of columns `xs` × `ys`
    * (cast to double) about centers `xc`/`yc`, in one scan. A null cell
    * sits at its column's center (deviation 0), so with the column mean
    * as center a null is mean-imputed. The zero-buffer aggregate (not
    * `treeReduce`) makes an empty or zero-partition input the zero
    * Gramian instead of an error. Partition buffers merge exactly (a
    * BigDecimal per slot, beside a double sum that only carries NaN and
    * ±Inf), so the result does not depend on the order in which
    * `treeAggregate` receives finished partitions. */
  private def coMoments(df: DataFrame, xs: Seq[String], xc: Seq[Double],
      ys: Seq[String], yc: Seq[Double]): CoMoments = {
    val square = xs == ys && xc == yc
    val nx = xs.length
    val ny = ys.length
    val cols = if (square) xs else xs ++ ys
    val centers = (if (square) xc else xc ++ yc).toArray
    val yOff = if (square) 0 else nx
    val cross = if (square) nx * (nx + 1) / 2 else nx * ny
    val len = cross + (if (square) 0 else cols.length) + cols.length + 1
    type Sum = (Array[java.math.BigDecimal], Array[Double])
    def add(a: Sum, b: Sum): Sum = {
      var i = 0
      while (i < len) { a._1(i) = a._1(i).add(b._1(i)); a._2(i) += b._2(i); i += 1 }
      a
    }
    val (exact, raw) = df.select(cols.map(c => col(c).cast(DoubleType)): _*).rdd.mapPartitions { it =>
      // cross block ++ squares (X×Y only) ++ first moments ++ row count
      val acc = new Array[Double](len)
      val d = new Array[Double](centers.length)
      while (it.hasNext) {
        val r = it.next()
        var i = 0
        while (i < d.length) {
          d(i) = if (r.isNullAt(i)) 0.0 else r.getDouble(i) - centers(i)
          i += 1
        }
        var idx = 0
        i = 0
        while (i < nx) {
          val di = d(i)
          var j = if (square) i else 0
          while (j < ny) { acc(idx) += di * d(yOff + j); idx += 1; j += 1 }
          i += 1
        }
        if (!square) {
          i = 0
          while (i < d.length) { acc(idx) += d(i) * d(i); idx += 1; i += 1 }
        }
        i = 0
        while (i < d.length) { acc(idx) += d(i); idx += 1; i += 1 }
        acc(idx) += 1.0
      }
      Iterator.single(acc)
    }.map(acc => (acc.map(v =>
      if (java.lang.Double.isFinite(v)) new java.math.BigDecimal(v) else java.math.BigDecimal.ZERO), acc): Sum)
      .treeAggregate((Array.fill(len)(java.math.BigDecimal.ZERO), new Array[Double](len)))(add, add)
    val buf = Array.tabulate(len)(i =>
      if (java.lang.Double.isFinite(raw(i))) exact(i).doubleValue else raw(i))
    new CoMoments(buf(len - 1).toLong, nx, ny, square, buf)
  }

  /** Gramian yᵀy of 0/1 columns (nulls count as 0) with the row count and
    * column sums, from one scan: everything per-column positives, pair
    * lift and the Pearson matrix of 0/1 columns need, as exact integers
    * (below 2^53). Indices are positions in the scanned columns. */
  final class Gramian private[Correlations] (m: CoMoments) {
    val n: Long = m.n
    def co(i: Int, j: Int): Long = m.xy(i, j).toLong
    def positives(i: Int): Long = m.x(i).toLong

    /** P(a∧b)/(P(a)·P(b)); NaN when a column has no positive. */
    def lift(i: Int, j: Int): Double = {
      val nd = n.toDouble
      val pa = positives(i) / nd
      val pb = positives(j) / nd
      if (pa > 0 && pb > 0) (co(i, j) / nd) / (pa * pb) else Double.NaN
    }

    /** Pearson r from the exact integer moments,
      * (n·co − a·b)/√(a(n−a)·b(n−b)); 1 on the diagonal, NaN off it when a
      * column is constant. */
    def pearson(i: Int, j: Int): Double =
      if (i == j) 1.0
      else {
        val (nn, a, b) = (BigInt(n), BigInt(positives(i)), BigInt(positives(j)))
        val den = a * (nn - a) * b * (nn - b)
        if (den == 0) Double.NaN
        else (nn * co(i, j) - a * b).toDouble / math.sqrt(den.toDouble)
      }
  }

  /** One-scan [[Gramian]] of the 0/1 columns `cols`. */
  def gramian(df: DataFrame, cols: Seq[String]): Gramian = {
    val zeros = cols.map(_ => 0.0)
    new Gramian(coMoments(df, cols, zeros, cols, zeros))
  }

  /** k×k Pearson matrix over `cols`: one means pass, then one square
    * co-moment pass about the means. Rows with a null in `cols` are
    * dropped (this mirrors pandas `DataFrame.corr`'s pairwise-complete
    * default only when data has no nulls; the reference's target matrix
    * has none). Diagonal 1; NaN off it for a constant column. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): Matrix = {
    val base = df.na.drop(cols)
    val means = WideAgg.runBatched(base, cols, c => avg(col(c).cast(DoubleType)))
      .map(_._2.getOrElse(0.0))
    val m = coMoments(base, cols, means, cols, means)
    val k = cols.length
    Matrices.dense(k, k,
      Array.tabulate(k, k)((i, j) => if (i == j) 1.0 else m.pearson(i, j)).flatten)
  }

  /** Long-format (col_a, col_b, corr) for all ordered pairs a < b. */
  def corrLong(df: DataFrame, cols: Seq[String]): DataFrame = {
    val m = corrMatrix(df, cols)
    val rows = for { i <- cols.indices; j <- cols.indices if i < j }
      yield Row(cols(i), cols(j), m(i, j))
    toDf(df, rows, Seq("col_a" -> StringType, "col_b" -> StringType, "corr" -> DoubleType))
  }

  /** Exact per-column means (reference A11, `public_eda_pipeline.py:496-499`):
    * one decimal-accumulated aggregate per column batch (order-independent,
    * so bit-deterministic); 0.0 for a column that is entirely null, like
    * the reference's `np.nan_to_num` fallback. */
  private def exactMeans(df: DataFrame, cols: Seq[String]): Seq[Double] =
    WideAgg.runBatched(df, cols, c => graft.functions.SumQ6.sum_q6(col(c)) / count(col(c)))
      .map(_._2.filterNot(_.isNaN).getOrElse(0.0))

  /** Mean-impute `cols` in one exact pass: `coalesce(col, mean)` with the
    * [[exactMeans]]. */
  def imputeMeans(df: DataFrame, cols: Seq[String]): DataFrame =
    // one projection for all columns (withColumns), not a foldLeft of
    // withColumn: per-column re-analysis is O(k²) in plan-build time and
    // dominates wall-clock at the reference's 2241-column width
    df.withColumns(cols.zip(exactMeans(df, cols)).map { case (c, m) =>
      c -> coalesce(col(c).cast(DoubleType), lit(m))
    }.toMap)

  /** Features × targets Pearson grid (reference screening `P:495-511`,
    * 519×41): one means pass over both sides, then one X×Y co-moment
    * pass about those means. Nulls are mean-imputed, as the reference
    * does before its centered XᵀY grid (`P:496-499`), with the same exact
    * means as [[imputeMeans]]. Rows (feature, target, corr, abs_corr) in
    * feature-major order. */
  def crossCorrRows(df: DataFrame, features: Seq[String],
      targets: Seq[String]): Seq[(String, String, Double, Double)] = {
    val means = exactMeans(df, features ++ targets)
    val (fc, tc) = means.splitAt(features.length)
    val m = coMoments(df, features, fc, targets, tc)
    for { i <- features.indices; j <- targets.indices } yield {
      val r = m.pearson(i, j)
      (features(i), targets(j), r, math.abs(r))
    }
  }

  /** [[crossCorrRows]] as a frame. */
  def crossCorr(df: DataFrame, features: Seq[String], targets: Seq[String]): DataFrame =
    toDf(df, crossCorrRows(df, features, targets).map(Row.fromTuple), Seq("feature" -> StringType,
      "target" -> StringType, "corr" -> DoubleType, "abs_corr" -> DoubleType))

  /** Pairwise co-occurrence counts and lift for binary 0/1 columns
    * (reference A14, `P:143-163`): (col_a, col_b, count_a, count_b,
    * co_count, pair_lift) for every pair a < b, from one [[Gramian]]. */
  def pairLift(df: DataFrame, cols: Seq[String]): DataFrame = {
    val g = gramian(df, cols)
    val rows = for { i <- cols.indices; j <- cols.indices if i < j }
      yield Row(cols(i), cols(j), g.positives(i), g.positives(j), g.co(i, j), g.lift(i, j))
    toDf(df, rows, Seq("col_a" -> StringType, "col_b" -> StringType,
      "count_a" -> LongType, "count_b" -> LongType, "co_count" -> LongType,
      "pair_lift" -> DoubleType))
  }

  /** [[pairLift]] under the name the `a14b` scale twin declares. */
  def pairLiftGramian(df: DataFrame, cols: Seq[String]): DataFrame = pairLift(df, cols)

  private def toDf(like: DataFrame, rows: Seq[Row], cols: Seq[(String, DataType)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    like.sparkSession.createDataFrame(rows.asJava, StructType(cols.map { case (n, t) =>
      StructField(n, t, nullable = t == DoubleType)
    }))
  }
}
