package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Relational, Sampling, WideAgg}
import graft.stats.{Auc, Correlations}
import graft.core.Relational.SingletonAttachOps

/** Aggregation / window / sort queries (SURVEY.md §2.4–§2.5) with DuckDB
  * oracles. Same determinism contract as [[RelationalQueries]]. */
object AggQueries {
  import Det._

  /** Shared oracle for a14 / a14b (expression-pass and Gramian paths must
    * match the same SQL). */
  private val pairLiftOracleSql: String = {
    val fl = Seq(
      "f_disc" -> "CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END",
      "f_qty" -> "CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END",
      "f_ret" -> "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END")
    val pairs = for { i <- fl.indices; j <- fl.indices if i < j } yield (fl(i), fl(j))
    val sels = pairs.map { case ((na, xa), (nb, xb)) =>
      s"""SELECT '$na' AS col_a, '$nb' AS col_b,
         |CAST(SUM($xa) AS BIGINT) AS count_a, CAST(SUM($xb) AS BIGINT) AS count_b,
         |CAST(SUM(($xa) * ($xb)) AS BIGINT) AS co_count,
         |ROUND((CAST(SUM(($xa) * ($xb)) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)) /
         |  ((CAST(SUM($xa) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)) *
         |   (CAST(SUM($xb) AS BIGINT) / CAST(COUNT(*) AS DOUBLE))), 6) AS pair_lift
         |FROM lineitem""".stripMargin
    }
    sels.mkString("", " UNION ALL ", " ORDER BY col_a, col_b")
  }

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    s.read.parquet(s"$dir/$n.parquet")

  // stdExact / stdExactSql now live in [[Det]] (shared with t11's CUSUM).

  val all: Seq[Q] = Seq(

    // ---- A: aggregations ---------------------------------------------------
    Q("a1_count_rows",
      (s, d) => Relational.attachSingleton(
        T(s, d, "lineitem").agg(count(lit(1)).as("lineitem_rows")),
        T(s, d, "orders").agg(count(lit(1)).as("orders_rows"))),
      Some("""SELECT (SELECT COUNT(*) FROM lineitem) AS lineitem_rows,
             |(SELECT COUNT(*) FROM orders) AS orders_rows""".stripMargin)),

    Q("a2_wide_sum",
      (s, d) => WideAgg.sumProfileExact(
        T(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("col_name")),
      Some(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"SELECT '$c' AS col_name, ${sumExactSql(c)} AS sum_value FROM lineitem"
      }.mkString("", " UNION ALL ", " ORDER BY col_name"))),

    Q("a3_null_profile",
      (s, d) => WideAgg.nullProfile(
        T(s, d, "lineitem")
          .withColumn("tax0", expr("nullif(l_tax, 0.0D)"))
          .withColumn("disc0", expr("nullif(l_discount, 0.0D)")),
        Seq("tax0", "disc0", "l_quantity"))
        .orderBy(col("col_name")),
      Some(Seq(
        "tax0" -> "NULLIF(l_tax, 0.0)",
        "disc0" -> "NULLIF(l_discount, 0.0)",
        "l_quantity" -> "l_quantity").map { case (nm, x) =>
        s"SELECT '$nm' AS col_name, CAST(AVG(CASE WHEN $x IS NULL THEN 1.0 ELSE 0.0 END) AS DOUBLE) AS null_rate FROM lineitem"
      }.mkString("", " UNION ALL ", " ORDER BY col_name"))),

    Q("a4_distinct_count",
      (s, d) => T(s, d, "lineitem").agg(
        countDistinct(col("l_returnflag")).as("n_flags"),
        countDistinct(col("l_linestatus")).as("n_status"),
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part")),
      Some("""SELECT COUNT(DISTINCT l_returnflag) AS n_flags,
             |COUNT(DISTINCT l_linestatus) AS n_status,
             |COUNT(DISTINCT l_suppkey) AS n_supp,
             |COUNT(DISTINCT l_partkey) AS n_part FROM lineitem""".stripMargin)),

    Q("a5_distinct_values",
      (s, d) => T(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY 1, 2""".stripMargin)),

    Q("a6_groupby_stats",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sumExact(col("l_quantity")).as("sum_qty"),
          sumExact(col("l_extendedprice")).as("sum_price"),
          avgExact(col("l_discount")).as("avg_disc"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |${sumExactSql("l_quantity")} AS sum_qty,
              |${sumExactSql("l_extendedprice")} AS sum_price,
              |${avgExactSql("l_discount")} AS avg_disc,
              |MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
              |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // The exact median rides Relational.weightedQuantiles' histogram-
    // compressed pass (p=0.5, w=1 — quantile_cont semantics, identical
    // to built-in `median`), NOT the built-in exact median/percentile:
    // with 5 priority groups, the built-in buffers the whole price
    // column in 5 aggregation buffers — the a21/h7/a26 OOM class
    // (PlanSpec's percentile-class guard now rejects that shape).
    Q("a7_groupby_median",
      (s, d) => {
        val o = T(s, d, "orders")
        val med = graft.core.Relational.weightedQuantiles(
            o.select(col("o_orderpriority"),
              col("o_totalprice").cast("double").as("v"), lit(1L).as("w")),
            "o_orderpriority", "v", "w", Seq(0.5))
          .select(col("o_orderpriority"), round(col("q_0_5"), 4).as("med_price"))
        o.groupBy(col("o_orderpriority"))
          .agg(
            countDistinct(col("o_custkey")).as("n_cust"),
            avgExact(col("o_totalprice")).as("avg_price"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"))
          .join(broadcast(med), Seq("o_orderpriority"))
          .select(col("o_orderpriority"), col("n_cust"), col("avg_price"),
            col("med_price"), col("min_price"), col("max_price"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust,
              |${avgExactSql("o_totalprice")} AS avg_price,
              |ROUND(MEDIAN(o_totalprice), 4) AS med_price,
              |MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
              |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("a8_conditional_agg",
      (s, d) => T(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countIf(col("l_quantity") > 25).as("n_big"),
          countIf(col("l_discount") > 0.05).as("n_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      Some(s"""SELECT l_returnflag,
              |${countIfSql("l_quantity > 25")} AS n_big,
              |${countIfSql("l_discount > 0.05")} AS n_disc,
              |COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("a9_value_counts",
      (s, d) => Relational.valueCounts(T(s, d, "orders"), "o_orderstatus"),
      Some("""SELECT o_orderstatus, COUNT(*) AS n FROM orders
             |GROUP BY 1 ORDER BY n DESC, o_orderstatus""".stripMargin)),

    Q("a10_mean_std",
      (s, d) => T(s, d, "lineitem").agg(
        avgExact(col("l_quantity")).as("mean_qty"),
        stdExact(col("l_quantity")).as("std_qty"),
        avgExact(col("l_extendedprice")).as("mean_price"),
        stdExact(col("l_extendedprice")).as("std_price")),
      Some(s"""SELECT ${avgExactSql("l_quantity")} AS mean_qty,
              |${stdExactSql("l_quantity")} AS std_qty,
              |${avgExactSql("l_extendedprice")} AS mean_price,
              |${stdExactSql("l_extendedprice")} AS std_price FROM lineitem""".stripMargin)),

    Q("a11_impute_mean",
      (s, d) => {
        val li = T(s, d, "lineitem").withColumn("tax0", expr("nullif(l_tax, 0.0D)"))
        val mean = li.agg(avgExact(col("tax0")).as("mean_tax"))
        li.attachSingleton(mean)
          .withColumn("imputed", coalesce(col("tax0"), col("mean_tax")))
          .agg(
            count(lit(1)).as("n_rows"),
            countIf(col("tax0").isNull).as("n_imputed"),
            sumExact(col("imputed")).as("sum_imputed"))
      },
      Some(s"""WITH m AS (SELECT ${avgExactSql("NULLIF(l_tax, 0.0)")} AS mean_tax FROM lineitem)
              |SELECT COUNT(*) AS n_rows,
              |${countIfSql("NULLIF(l_tax, 0.0) IS NULL")} AS n_imputed,
              |${sumExactSql("COALESCE(NULLIF(l_tax, 0.0), mean_tax)")} AS sum_imputed
              |FROM lineitem, m""".stripMargin)),

    // SCALE CAVEAT (the decileQcut caveat, same class): built-in exact
    // `percentile` buffers every value in ONE global aggregation buffer —
    // O(rows) driver-of-OOM state, the shape DevScale gates12b measured
    // heap-dead at 60M rows / few groups (fixed in a21/h7/a26/dq9 via
    // Relational.weightedQuantiles' histogram-compressed pass). a12 is
    // the DELIBERATE exact-parity pin for cross-engine interpolated-
    // percentile semantics on a bounded table; its approx twins h3/h4
    // (approx_percentile / KLL) are the 100 TB path. Keep it pinned;
    // never copy this shape onto an unbounded column (PlanSpec's
    // percentile-class guard now fails any new query that does).
    Q("a12_quantile",
      (s, d) => T(s, d, "orders").agg(
        round(percentile(col("o_totalprice"), lit(0.5)), 4).as("p50"),
        round(percentile(col("o_totalprice"), lit(0.9)), 4).as("p90"),
        round(percentile(col("o_totalprice"), lit(0.99)), 4).as("p99")),
      Some("""SELECT ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS p50,
             |ROUND(QUANTILE_CONT(o_totalprice, 0.9), 4) AS p90,
             |ROUND(QUANTILE_CONT(o_totalprice, 0.99), 4) AS p99 FROM orders""".stripMargin)),

    // WEIGHTED quantiles (frequency-weighted median/IQR — the unit-price
    // distribution where each line counts `l_quantity` times, i.e. the
    // per-UNIT price distribution) via Relational.weightedQuantiles: one
    // group-sorted window cumsum + broadcast target positions, rows
    // never expand and no group ever buffers in memory. (The built-in
    // exact `percentile(col, p, freq)` buffers every pair per group —
    // with 3 groups that concentrated 60M rows into 3 aggregation
    // buffers and OOM'd at DevScale ×100; this plan is flat.) The
    // dyadic 0.25/0.5/0.75 make p·(W−1) fp-exact, so the covering
    // indices match quantile_cont over the oracle's row expansion
    // bit-for-bit.
    Q("a21_weighted_quantiles",
      (s, d) => graft.core.Relational.weightedQuantiles(
          T(s, d, "lineitem").select(col("l_returnflag"), col("l_extendedprice"),
            col("l_quantity").cast("int").as("w")),
          "l_returnflag", "l_extendedprice", "w", ps = Seq(0.25, 0.5, 0.75))
        .select(col("l_returnflag"), col("total_weight"),
          round(col("q_0_25"), 6).as("wp25"),
          round(col("q_0_5"), 6).as("wmedian"),
          round(col("q_0_75"), 6).as("wp75"))
        .orderBy(col("l_returnflag")),
      Some("""WITH x AS (SELECT l_returnflag, l_extendedprice,
             |    CAST(l_quantity AS INT) AS w FROM lineitem),
             |e AS (SELECT l_returnflag, l_extendedprice FROM x, UNNEST(range(w)))
             |SELECT l_returnflag, COUNT(*) AS total_weight,
             |  ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 6) AS wp25,
             |  ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 6) AS wmedian,
             |  ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 6) AS wp75
             |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("a13_corr_matrix",
      (s, d) => {
        val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        Correlations.corrLong(T(s, d, "lineitem"), cols)
          .select(col("col_a"), col("col_b"), round(col("corr"), 6).as("pearson_r"))
          .orderBy(col("col_a"), col("col_b"))
      },
      Some {
        val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        (for { i <- cols.indices; j <- cols.indices if i < j } yield
          s"SELECT '${cols(i)}' AS col_a, '${cols(j)}' AS col_b, ROUND(CORR(${cols(i)}, ${cols(j)}), 6) AS pearson_r FROM lineitem")
          .mkString("", " UNION ALL ", " ORDER BY col_a, col_b")
      }),

    Q("a14_pair_lift",
      (s, d) => {
        val flagged = T(s, d, "lineitem")
          .withColumn("f_disc", (col("l_discount") > 0.05).cast("int"))
          .withColumn("f_qty", (col("l_quantity") > 25).cast("int"))
          .withColumn("f_ret", (col("l_returnflag") === "R").cast("int"))
        Correlations.pairLift(flagged, Seq("f_disc", "f_qty", "f_ret"))
          .select(
            col("col_a"), col("col_b"), col("count_a"), col("count_b"),
            col("co_count"), round(col("pair_lift"), 6).as("pair_lift"))
          .orderBy(col("col_a"), col("col_b"))
      },
      Some(pairLiftOracleSql)),

    // A14 scale twin: identical semantics via RowMatrix Gramian (one
    // treeAggregate of a k×k buffer — the k>64 path), same DuckDB oracle.
    Q("a14b_pair_lift_gramian",
      (s, d) => {
        val flagged = T(s, d, "lineitem")
          .withColumn("f_disc", (col("l_discount") > 0.05).cast("int"))
          .withColumn("f_qty", (col("l_quantity") > 25).cast("int"))
          .withColumn("f_ret", (col("l_returnflag") === "R").cast("int"))
        Correlations.pairLiftGramian(flagged, Seq("f_disc", "f_qty", "f_ret"))
          .select(
            col("col_a"), col("col_b"), col("count_a"), col("count_b"),
            col("co_count"), round(col("pair_lift"), 6).as("pair_lift"))
          .orderBy(col("col_a"), col("col_b"))
      },
      Some(pairLiftOracleSql)),

    Q("a15_cross_corr",
      (s, d) => {
        val base = T(s, d, "lineitem")
          .withColumn("tax0", expr("nullif(l_tax, 0.0D)"))
          .withColumn("f_ret", (col("l_returnflag") === "R").cast("double"))
          .withColumn("f_open", (col("l_linestatus") === "O").cast("double"))
        Correlations.crossCorr(base, Seq("l_quantity", "tax0"), Seq("f_ret", "f_open"))
          .select(col("feature"), col("target"), round(col("corr"), 6).as("pearson_r"))
          .orderBy(col("feature"), col("target"))
      },
      Some {
        val feats = Seq(
          "l_quantity" -> "CAST(l_quantity AS DOUBLE)",
          "tax0" -> "COALESCE(NULLIF(l_tax, 0.0), mt)")
        val tgts = Seq(
          "f_ret" -> "CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END",
          "f_open" -> "CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END")
        val withM = s"WITH m AS (SELECT ${avgExactSql("NULLIF(l_tax, 0.0)")} AS mt FROM lineitem)"
        val sels = for { (fn, fx) <- feats; (tn, tx) <- tgts } yield
          s"SELECT '$fn' AS feature, '$tn' AS target, ROUND(CORR($fx, $tx), 6) AS pearson_r FROM lineitem, m"
        withM + sels.mkString(" ", " UNION ALL ", " ORDER BY feature, target")
      }),

    Q("a16_point_biserial",
      (s, d) => T(s, d, "orders").agg(
        round(corr((col("o_orderstatus") === "F").cast("double"), col("o_totalprice")), 6)
          .as("pearson_r"),
        count(lit(1)).as("n")),
      Some("""SELECT ROUND(CORR(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END,
             |  o_totalprice), 6) AS pearson_r, COUNT(*) AS n FROM orders""".stripMargin)),

    Q("a17_auc",
      (s, d) => Auc.aucDf(
        T(s, d, "orders"), col("o_orderstatus") === "F", floor(col("o_totalprice") / 100))
        .select(
          col("n_pos").cast("long").as("n_pos"),
          col("n_neg").cast("long").as("n_neg"),
          round(col("auc"), 6).as("auc")),
      Some {
        s"""WITH d AS (SELECT FLOOR(o_totalprice / 100) AS s,
           |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders),
           |per AS (SELECT s, SUM(y) AS pos, SUM(1-y) AS neg FROM d GROUP BY s),
           |rk AS (SELECT pos, neg, SUM(pos+neg) OVER (ORDER BY s) AS cum FROM per),
           |fin AS (SELECT SUM(pos) AS np, SUM(neg) AS nn,
           |        SUM((cum - (pos+neg-1)/2.0) * pos) AS rs FROM rk)
           |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           |  ROUND((rs - np*(np+1)/2.0) / (np*nn), 6) AS auc FROM fin""".stripMargin
      }),

    // describe-style per-column profile in long format (count/mean/std/
    // min/max for several columns in one batched pass).
    // Cost note (round 5, measured via DevDiag at sf0.1): a 4-col decimal
    // sum runs ~1.0 s warm vs ~0.15 s in plain double — the ~7× decimal
    // tax times this query's 12 decimal accumulators (avgExact + two-moment
    // stdExact × 4 cols) accounts for its full ~2.3 s warm cost. The plan
    // is already ONE pass; the cost is exactness-bound (decimal
    // accumulation is what makes the hash bit-match the DuckDB oracle),
    // so it stays.
    Q("a20_summary_profile",
      (s, d) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val li = T(s, d, "lineitem")
        val aggs = cols.flatMap { c =>
          Seq(count(col(c)).cast("double").as(s"${c}__n"),
            avgExact(col(c)).as(s"${c}__mean"),
            stdExact(col(c)).as(s"${c}__std"),
            min(col(c)).as(s"${c}__min"),
            max(col(c)).as(s"${c}__max"))
        }
        val row = li.agg(aggs.head, aggs.tail: _*).collect()(0)
        import s.implicits._
        cols.zipWithIndex.map { case (c, i) =>
          (c, row.getDouble(5 * i).toLong,
            math.rint(row.getDouble(5 * i + 1) * 1e6) / 1e6,
            math.rint(row.getDouble(5 * i + 2) * 1e6) / 1e6,
            row.getDouble(5 * i + 3), row.getDouble(5 * i + 4))
        }.toDF("col_name", "n", "mean", "std", "min_v", "max_v")
          .orderBy(col("col_name"))
      },
      Some(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS col_name, COUNT($c) AS n,
           |ROUND(${avgExactSql(c)}, 6) AS mean,
           |ROUND(${stdExactSql(c)}, 6) AS std,
           |MIN($c) AS min_v, MAX($c) AS max_v FROM lineitem""".stripMargin
      }.mkString("", " UNION ALL ", " ORDER BY col_name"))),

    // A18: one-sided Fisher exact on the whale contingency (driver-side
    // hypergeometric tail over Spark-aggregated counts); the oracle
    // replays the tail sum with DuckDB's lgamma.
    Q("a18_fisher",
      (s, d) => {
        val sample = Sampling.modSample(T(s, d, "lineitem"), "l_orderkey", 10)
        val cont = Relational.whaleContingency(
          sample,
          Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")),
          col("l_returnflag") === "R").collect()(0)
        val (a, b, c, dd) = (cont.getAs[Long]("a"), cont.getAs[Long]("b"),
          cont.getAs[Long]("c"), cont.getAs[Long]("d"))
        val p = graft.stats.StatTests.fisherExactGreater(a, b, c, dd)
        import s.implicits._
        Seq((a, b, c, dd, math.rint(p * 1e6) / 1e6))
          .toDF("a", "b", "c", "d", "p_greater")
      },
      Some("""WITH RECURSIVE base AS (
             |  SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber
             |  FROM lineitem WHERE l_orderkey % 100 < 10),
             |nn AS (SELECT COUNT(*) AS cnt FROM base),
             |r AS (SELECT l_returnflag,
             |  ROW_NUMBER() OVER (ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
             |  FROM base),
             |f AS (SELECT CASE WHEN rk <= FLOOR(cnt * 1.0 / 100.0) THEN 1 ELSE 0 END AS w,
             |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS t FROM r, nn),
             |cont AS (SELECT
             |  CAST(SUM(CASE WHEN w=1 AND t=1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |  CAST(SUM(CASE WHEN w=1 AND t=0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             |  CAST(SUM(CASE WHEN w=0 AND t=1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             |  CAST(SUM(CASE WHEN w=0 AND t=0 THEN 1 ELSE 0 END) AS BIGINT) AS d FROM f),
             |m AS (SELECT a, b, c, d, a+b AS kk, a+c AS n1, a+b+c+d AS nt FROM cont),
             |ks(k2) AS (
             |  SELECT a FROM m
             |  UNION ALL
             |  SELECT k2 + 1 FROM ks, m WHERE ks.k2 < LEAST(m.kk, m.n1)),
             |terms AS (SELECT m.*, ks.k2 FROM m, ks),
             |p AS (SELECT a, b, c, d,
             |  SUM(EXP(lgamma(kk+1.0)-lgamma(k2+1.0)-lgamma(kk-k2+1.0)
             |    + lgamma(nt-kk+1.0)-lgamma(n1-k2+1.0)-lgamma(nt-kk-n1+k2+1.0)
             |    - (lgamma(nt+1.0)-lgamma(n1+1.0)-lgamma(nt-n1+1.0)))) AS pv
             |  FROM terms GROUP BY 1,2,3,4)
             |SELECT a, b, c, d, ROUND(LEAST(pv, 1.0), 6) AS p_greater FROM p""".stripMargin)),

    Q("a19_whale_contingency",
      (s, d) => Relational.whaleContingency(
        T(s, d, "lineitem"),
        Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")),
        col("l_returnflag") === "R"),
      Some("""WITH n AS (SELECT COUNT(*) AS cnt FROM lineitem),
             |r AS (SELECT l_returnflag,
             |  ROW_NUMBER() OVER (ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
             |  FROM lineitem),
             |f AS (SELECT CASE WHEN rk <= FLOOR(cnt * 1.0 / 100.0) THEN 1 ELSE 0 END AS w,
             |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS t FROM r, n)
             |SELECT CAST(SUM(CASE WHEN w=1 AND t=1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |  CAST(SUM(CASE WHEN w=1 AND t=0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             |  CAST(SUM(CASE WHEN w=0 AND t=1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             |  CAST(SUM(CASE WHEN w=0 AND t=0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
             |  ROUND((CAST(SUM(CASE WHEN w=1 AND t=1 THEN 1 ELSE 0 END) AS DOUBLE) /
             |    (SUM(CASE WHEN w=1 AND t=1 THEN 1 ELSE 0 END) + SUM(CASE WHEN w=1 AND t=0 THEN 1 ELSE 0 END))) /
             |    (CAST(SUM(CASE WHEN t=1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)), 6) AS whale_lift
             |FROM f""".stripMargin)),

    // ---- W: windows / sorts / top-k ----------------------------------------
    Q("w1_sort_multi",
      (s, d) => T(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_returnflag"), col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100),
      Some("""SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber FROM lineitem
             |ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber
             |LIMIT 100""".stripMargin)),

    Q("w2_topn",
      (s, d) => T(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    Q("w3_topk_per_group",
      (s, d) => Relational.topKPerGroup(
        T(s, d, "part").select(col("p_brand"), col("p_partkey"), col("p_retailprice")),
        Seq("p_brand"),
        Seq(col("p_retailprice").desc, col("p_partkey")), 3)
        .orderBy(col("p_brand"), col("rk")),
      Some("""SELECT p_brand, p_partkey, p_retailprice, rk FROM (
             |  SELECT p_brand, p_partkey, p_retailprice,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
             |      ORDER BY p_retailprice DESC, p_partkey) AS INTEGER) AS rk
             |  FROM part)
             |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin)),

    Q("w4_decile",
      (s, d) => Relational.decileExact(
        T(s, d, "orders"), Seq(col("o_totalprice"), col("o_orderkey")))
        .groupBy(col("decile"))
        .agg(
          count(lit(1)).as("n"),
          avgExact(col("o_totalprice")).as("avg_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("decile")),
      Some(s"""SELECT decile, COUNT(*) AS n, ${avgExactSql("o_totalprice")} AS avg_price,
              |MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price FROM (
              |  SELECT o_totalprice, CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS decile
              |  FROM orders)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // W4 scale twin: equal-frequency bucketing from approx-quantile cut
    // points — constant-pass, no ranking shuffle at all. With relErr small
    // enough to be exact (εN < 1), Spark's GK sketch returns the same
    // discrete quantiles as DuckDB's quantile_disc (verified at sf0.01 and
    // sf0.1), so this twin is fully oracle-checkable; at real scale one
    // relaxes relErr and accepts boundary fuzz.
    Q("w4b_decile_range",
      (s, d) => Relational.decileByRange(
        T(s, d, "orders"), "o_totalprice", relErr = 1e-8)
        .groupBy(col("decile"))
        .agg(
          count(lit(1)).as("n"),
          avgExact(col("o_totalprice")).as("avg_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("decile")),
      Some(s"""WITH cuts AS (
              |  SELECT quantile_disc(o_totalprice,
              |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cs FROM orders),
              |b AS (
              |  SELECT o_totalprice,
              |    CAST(1 + len(list_filter(cuts.cs, c -> c < o_totalprice)) AS INTEGER) AS decile
              |  FROM orders, cuts)
              |SELECT decile, COUNT(*) AS n, ${avgExactSql("o_totalprice")} AS avg_price,
              |MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
              |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // W4 qcut-parity variant on a heavy-tie column (l_tax: 9 distinct
    // values, so several decile edges collapse and get DROPPED — the
    // pd.qcut(duplicates="drop") semantics; verified equal to pandas qcut
    // codes on this data). Edge quantization contract in Relational.decileQcut.
    Q("w4c_decile_qcut",
      (s, d) => Relational.decileQcut(T(s, d, "lineitem"), "l_tax")
        .groupBy(col("decile"))
        .agg(
          count(lit(1)).as("n"),
          avgExact(col("l_tax")).as("avg_tax"),
          min(col("l_tax")).as("min_tax"),
          max(col("l_tax")).as("max_tax"))
        .orderBy(col("decile")),
      Some(s"""WITH e AS (SELECT list_sort(list_distinct(list_transform(
              |    quantile_cont(l_tax, [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]),
              |    x -> ROUND(x, 6)))) AS u FROM lineitem),
              |b AS (SELECT l_tax,
              |  CAST(len(list_filter(e.u[2:], x -> x < l_tax)) AS INTEGER) AS decile
              |  FROM lineitem, e)
              |SELECT decile, COUNT(*) AS n, ${avgExactSql("l_tax")} AS avg_tax,
              |MIN(l_tax) AS min_tax, MAX(l_tax) AS max_tax
              |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("w5_threshold_rank",
      (s, d) => T(s, d, "lineitem")
        .where(col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |WHERE l_quantity >= 45
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin)),

    // ---- Events (timestamp handling) ----------------------------------------
    Q("t1_events_daily",
      (s, d) => {
        // events.ts encoding varies by producer (INT64 TIMESTAMP(NANOS)
        // vs TIMESTAMP(MICROS)); Tables.readEvents sniffs the footer and
        // normalizes to a micros TIMESTAMP either way.
        graft.core.Tables.readEvents(s, d)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .groupBy(col("day"), col("event_type"))
          .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
          .orderBy(col("day"), col("event_type"))
      },
      Some(s"""SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type, COUNT(*) AS n,
              |${sumExactSql("value")} AS sum_value
              |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Weekly cohort retention — the canonical 100-TB product-analytics
    // shape: cohort = each user's first active day, retention = distinct
    // users active in week-offset k over cohort size. Shuffles: distinct
    // (user, day), groupBy user (cohort), groupBy (cohort_day, offset);
    // the cohort frame is user-cardinality and broadcast by AQE under the
    // re-join. Week offset is integer day-arithmetic (no engine
    // week-start semantics to disagree on).
    Q("t4_retention",
      (s, d) => {
        val days = graft.core.Tables.readEvents(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val cohort = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
        val act = days.join(cohort, "user_id")
          .select(col("user_id"), col("cohort_day"),
            floor(datediff(col("day"), col("cohort_day")) / 7.0).cast("int")
              .as("week_offset"))
          .distinct()
        val sizes = cohort.groupBy(col("cohort_day"))
          .agg(countDistinct(col("user_id")).as("cohort_users"))
        act.groupBy(col("cohort_day"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .join(sizes, "cohort_day")
          .select(
            date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
            col("week_offset"), col("n_active"), col("cohort_users"),
            round(col("n_active") / col("cohort_users"), 6).as("retention"))
          .orderBy(col("cohort_day"), col("week_offset"))
      },
      Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
             |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1),
             |act AS (SELECT DISTINCT d.user_id, c.cohort_day,
             |    CAST(FLOOR(date_diff('day', c.cohort_day, d.day) / 7.0) AS INT) AS week_offset
             |  FROM days d JOIN cohort c ON d.user_id = c.user_id),
             |sizes AS (SELECT cohort_day, COUNT(*) AS cohort_users FROM cohort GROUP BY 1)
             |SELECT STRFTIME(a.cohort_day, '%Y-%m-%d') AS cohort_day, a.week_offset,
             |  COUNT(DISTINCT a.user_id) AS n_active, s.cohort_users,
             |  ROUND(COUNT(DISTINCT a.user_id) / s.cohort_users, 6) AS retention
             |FROM act a JOIN sizes s ON a.cohort_day = s.cohort_day
             |GROUP BY 1, 2, s.cohort_users ORDER BY 1, 2""".stripMargin)),

    // ---- H: sketch operators, oracled through their guarantees --------------
    // freqItems guarantees NO FALSE NEGATIVES above the support fraction
    // (false positives possible), so sketch → semi-join exact counts →
    // threshold filter reproduces the EXACT heavy-hitter set; the oracle is
    // the plain HAVING query.
    Q("h1_heavy_hitters",
      (s, d) => {
        val orders = T(s, d, "orders")
        val support = 0.01
        val total = orders.count()
        val items = Relational.heavyHitters(orders, Seq("o_orderpriority"), support)
          .select(explode(col("o_orderpriority_freqItems")).as("o_orderpriority"))
        orders.join(items, Seq("o_orderpriority"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
          .where(col("n") > lit(total * support))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1
             |HAVING COUNT(*) > (SELECT COUNT(*) FROM orders) * 0.01
             |ORDER BY 1""".stripMargin)),

    // HLL++ is deterministic for a given dataset (hash-based, order- and
    // partitioning-independent), so the 3σ accuracy window is a stable
    // verifiable fact: the query emits the EXACT count plus the in-window
    // flag, and the oracle asserts the flag is literally TRUE.
    // MAINTENANCE: the TRUE is a probabilistic bound frozen against the
    // current fixture + Spark HLL implementation. If the orders generator,
    // the column, or Spark's sketch ever changes, a flip here surfaces as a
    // hash mismatch — re-verify the 3σ window (CoreSpec's "sketch twins"
    // test reports the observed relative error on the orders column)
    // rather than chasing a value bug.
    Q("h2_approx_distinct",
      (s, d) => {
        val rsd = 0.05
        T(s, d, "orders")
          .agg(
            countDistinct(col("o_custkey")).as("n_exact"),
            approx_count_distinct(col("o_custkey"), rsd).as("n_approx"))
          .select(
            col("n_exact"),
            (abs(col("n_approx") - col("n_exact")) <= lit(3 * rsd) * col("n_exact"))
              .as("approx_ok"))
      },
      Some("""SELECT COUNT(DISTINCT o_custkey) AS n_exact, TRUE AS approx_ok
             |FROM orders""".stripMargin)),

    // Count-min-sketch top-k: exact counts are the SQL-checked payload;
    // the CMS columns pin its two contracts — never-undercount is a
    // deterministic CMS guarantee, the eps window is probabilistic but
    // frozen against the fixed seed (same maintenance caveat as h2).
    Q("h5_cms_topk",
      (s, d) => Relational.cmsTopK(T(s, d, "orders"), "o_custkey", k = 5)
        .orderBy(col("n_exact").desc, col("o_custkey")),
      Some("""WITH c AS (SELECT o_custkey, COUNT(*) AS n_exact FROM orders GROUP BY 1),
             |r AS (SELECT o_custkey, n_exact,
             |  ROW_NUMBER() OVER (ORDER BY n_exact DESC, o_custkey) AS rk FROM c)
             |SELECT o_custkey, n_exact, TRUE AS overestimate_nonneg, TRUE AS within_eps
             |FROM r WHERE rk <= 5 ORDER BY n_exact DESC, o_custkey""".stripMargin)),

    // MERGEABLE distinct-count sketches AT REST (the 100 TB pattern for
    // distinct users: build DataSketches HLL per (group, shard) once,
    // persist the binary sketches, and answer global distinct questions
    // by UNIONING sketches — never rescanning raw data). Shards stand in
    // for ingest partitions/days. Merge order/partitioning cannot change
    // the estimate (HLL union is commutative + idempotent), and the
    // estimate is a deterministic function of the input SET, so the 3σ
    // window flag is a stable verifiable fact (h2's maintenance caveat
    // applies: lgK=12 → rel. std. err. ≈ 1.04/√4096 ≈ 1.6%).
    Q("h6_hll_at_rest",
      (s, d) => {
        val ev = T(s, d, "events").select(col("event_type"), col("user_id"))
        val out = graft.Session.scratch(s, "h6_sketches").toString
        ev.withColumn("shard", pmod(col("user_id"), lit(16)))
          .groupBy(col("event_type"), col("shard"))
          .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
          .write.mode("overwrite").parquet(out)
        val merged = s.read.parquet(out)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_shards"),
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact"))
        exact.join(merged, Seq("event_type"))
          .select(col("event_type"), col("n_exact"), col("n_shards"),
            (abs(col("est") - col("n_exact")).cast("double")
              <= lit(3 * 0.016) * col("n_exact")).as("sketch_ok"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
             |COUNT(DISTINCT user_id % 16) AS n_shards, TRUE AS sketch_ok
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Pairwise audience OVERLAP from sketches at rest (h6's second
    // serving pattern): HLL cannot intersect, but inclusion–exclusion
    // over mergeable unions can — |A∩B| ≈ est(A)+est(B)−est(A∪B),
    // answered entirely from the per-(type, shard) sketch table h6
    // leaves at rest, never rescanning raw events. The union for each
    // pair is one hll_union_agg over that pair's ≤32 sketch rows (a
    // tiny type-pair-keyed aggregate). Error compounds across three
    // estimates, so the pin is the SUMMED 3σ bound (3·1.6% of each
    // term at lgK=12); exact intersections come from one slim
    // user-keyed self-join of the distinct (user, type) frame.
    Q("h8_audience_overlap",
      (s, d) => {
        val ev = T(s, d, "events").select(col("event_type"), col("user_id"))
        val out = graft.Session.scratch(s, "h8_sketches").toString
        ev.withColumn("shard", pmod(col("user_id"), lit(16)))
          .groupBy(col("event_type"), col("shard"))
          .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
          .write.mode("overwrite").parquet(out)
        val shards = s.read.parquet(out)
        val perType = shards.groupBy(col("event_type"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        // pair membership as a broadcast table (types are a handful —
        // driver-side list; an inequality-only join would plan BNLJ)
        val typeList = shards.select(col("event_type")).distinct()
          .collect().map(_.getString(0)).sorted.toSeq
        val memb = s.createDataFrame(
          for { a <- typeList; b <- typeList if a < b; t <- Seq(a, b) }
            yield (t, a, b))
          .toDF("event_type", "type_a", "type_b")
        val pairUnion = shards.join(broadcast(memb), Seq("event_type"))
          .groupBy(col("type_a"), col("type_b"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_union"))
        val users = ev.distinct()
        val exact = users.select(col("event_type").as("type_a"), col("user_id"))
          .join(users.select(col("event_type").as("type_b"), col("user_id")),
            Seq("user_id"))
          .where(col("type_a") < col("type_b"))
          .groupBy(col("type_a"), col("type_b"))
          .agg(count(lit(1)).as("n_exact"))
        exact
          .join(pairUnion, Seq("type_a", "type_b"))
          .join(broadcast(perType.select(col("event_type").as("type_a"),
            col("est").as("est_a"))), Seq("type_a"))
          .join(broadcast(perType.select(col("event_type").as("type_b"),
            col("est").as("est_b"))), Seq("type_b"))
          .select(col("type_a"), col("type_b"), col("n_exact"),
            (abs(col("est_a") + col("est_b") - col("est_union") - col("n_exact"))
              .cast("double") <= lit(3 * 0.016) *
                (col("est_a") + col("est_b") + col("est_union")).cast("double"))
              .as("overlap_ok"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some("""WITH u AS (SELECT DISTINCT event_type, user_id FROM events)
             |SELECT a.event_type AS type_a, b.event_type AS type_b,
             |  COUNT(*) AS n_exact, TRUE AS overlap_ok
             |FROM u a JOIN u b ON a.user_id = b.user_id
             |  AND a.event_type < b.event_type
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // COUNT-MIN SKETCH AT REST with EXPLICIT universal hashes (h5's
    // datasketches CMS pins a coarse eps window; this one is built from
    // first principles — h_i(x) = ((a_i·x + b_i) mod p) mod w with
    // literal constants — so the DuckDB oracle replays the EXACT
    // estimates, not just their error bound). The at-rest pattern: one
    // pass builds per-(shard, depth, bucket) counters (3×1024 bounded
    // rows per shard — CMS merge is elementwise ADD, so the shard
    // roll-up is a plain keyed sum and any later batch folds in the
    // same way, never rescanning history); point frequency estimates
    // for a probe set are then served from the ≤3k-row counter table:
    // est(u) = min over depths of counter[d][h_d(u)], with the CMS
    // guarantee est ≥ exact pinned per probe. Everything is integer.
    Q("h9_cms_at_rest",
      (s, d) => {
        val s2 = s; import s2.implicits._
        val Cms = graft.llm.Frequency.Cms
        val ev = T(s, d, "events").select(col("user_id"))
        val out = graft.Session.scratch(s, "h9_counters").toString
        Cms.expand(ev, "user_id")
          .withColumn("shard", pmod(col("user_id"), lit(8)))
          .groupBy(col("shard"), col("depth"), col("bucket"))
          .agg(count(lit(1)).as("c"))
          .write.mode("overwrite").parquet(out)
        val counters = s.read.parquet(out)
          .groupBy(col("depth"), col("bucket")).agg(sum(col("c")).as("c"))
        val probes = (1L to 10L).toDF("u")
        val est = Cms.estimates(probes, counters)
        val exact = ev.where(col("user_id").between(1, 10))
          .groupBy(col("user_id").as("u")).agg(count(lit(1)).as("n_exact"))
        probes.join(est, Seq("u")).join(exact, Seq("u"), "left")
          .select(col("u").as("user_id"),
            coalesce(col("n_exact"), lit(0L)).as("n_exact"),
            col("cms_est"),
            (col("cms_est") >= coalesce(col("n_exact"), lit(0L)))
              .as("overcount_nonneg"))
          .orderBy(col("user_id"))
      },
      Some("""WITH par AS (SELECT * FROM (VALUES
             |    (0, 1103515245, 12345), (1, 1234567891, 54321),
             |    (2, 987654321, 192837465)) AS t(d, a, b)),
             |counters AS (SELECT d,
             |    ((a * (user_id % 2147483647) + b) % 2147483647) % 1024 AS bucket, COUNT(*) AS c
             |  FROM events, par GROUP BY 1, 2),
             |probes AS (SELECT UNNEST(range(1, 11)) AS u),
             |est AS (SELECT p.u, MIN(COALESCE(c.c, 0)) AS cms_est
             |  FROM probes p CROSS JOIN par
             |  LEFT JOIN counters c ON c.d = par.d
             |    AND c.bucket = ((par.a * (p.u % 2147483647) + par.b) % 2147483647) % 1024
             |  GROUP BY 1),
             |exact AS (SELECT user_id AS u, COUNT(*) AS n
             |  FROM events WHERE user_id BETWEEN 1 AND 10 GROUP BY 1)
             |SELECT p.u AS user_id, COALESCE(x.n, 0) AS n_exact,
             |  CAST(e.cms_est AS BIGINT) AS cms_est,
             |  e.cms_est >= COALESCE(x.n, 0) AS overcount_nonneg
             |FROM probes p JOIN est e ON e.u = p.u LEFT JOIN exact x ON x.u = p.u
             |ORDER BY 1""".stripMargin)),

    // MERGEABLE quantile sketches AT REST (KLL): per-(flag, shard)
    // sketches of the price column persisted once, then per-flag medians
    // served by kll_merge_agg over the sketch rows — the rollup-quantile
    // pattern (exact distributed quantiles need a rank pass per ask;
    // sketches answer any later slice without touching raw rows). KLL
    // compaction is randomized, so the pinned fact is a WIDE rank band,
    // not a value: k=400 → rank error ≈ 1.0% at 3σ, and the flag asserts
    // the merged median lands within the exact [p40, p60] value band
    // (≈ 10σ margin each side; prices are near-continuous so the band is
    // wide). n_rows proves the merged sketch saw every row exactly once.
    Q("h7_kll_at_rest",
      (s, d) => {
        val li = T(s, d, "lineitem").select(col("l_returnflag"),
          col("l_orderkey"), col("l_extendedprice").cast("double").as("v"))
        val out = graft.Session.scratch(s, "h7_sketches").toString
        li.withColumn("shard", pmod(col("l_orderkey"), lit(32)))
          .groupBy(col("l_returnflag"), col("shard"))
          .agg(kll_sketch_agg_double(col("v"), 400).as("sk"))
          .write.mode("overwrite").parquet(out)
        val merged = s.read.parquet(out)
          .groupBy(col("l_returnflag"))
          .agg(kll_merge_agg_double(col("sk")).as("mk"))
          .select(col("l_returnflag"),
            kll_sketch_get_n_double(col("mk")).as("n_rows"),
            kll_sketch_get_quantile_double(col("mk"), lit(0.5)).as("est_med"))
        // Exact verification band via the histogram-compressed
        // weightedQuantiles (w=1) — built-in exact percentile buffers
        // each group's values in ONE agg buffer (the a21 OOM class;
        // measured 32 s at 60M rows / 3 groups where this runs in ~5 s).
        val exact = graft.core.Relational.weightedQuantiles(
          li.withColumn("w", lit(1L)), "l_returnflag", "v", "w",
          Seq(0.4, 0.5, 0.6))
        exact.join(merged, Seq("l_returnflag"))
          .select(col("l_returnflag"),
            col("total_weight").as("n_exact"),
            (col("n_rows") === col("total_weight")).as("counts_agree"),
            round(col("q_0_5"), 4).as("exact_median"),
            (col("est_med") >= col("q_0_4") && col("est_med") <= col("q_0_6"))
              .as("sketch_ok"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_exact, TRUE AS counts_agree,
             |ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS exact_median,
             |TRUE AS sketch_ok
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-group feature scaling (z-score + min-max — the standard
    // preprocessing transform before model training): grouped moments
    // from ONE exact-decimal aggregate pass, broadcast back (group count
    // is tiny; at high-cardinality group keys this becomes the same
    // keyed-join shape), scale as a pure projection. All inputs to the
    // per-row double arithmetic (mu/sd/lo/hi) come from exact decimal
    // sums, so every scaled value is bit-identical across engines; the
    // verifiable payload is the per-group scaled-distribution summary.
    Q("a22_feature_scale",
      (s, d) => {
        val li = T(s, d, "lineitem").select(col("l_returnflag").as("g"),
          col("l_extendedprice").cast("double").as("v"))
        val stats = li.groupBy(col("g")).agg(
          count(col("v")).as("n"),
          avgExact(col("v")).as("mu"),
          stdExact(col("v")).as("sd"),
          min(col("v")).as("lo"),
          max(col("v")).as("hi"))
        li.join(broadcast(stats), Seq("g"))
          .select(col("g"), col("n"), col("mu"), col("sd"),
            (abs(col("v") - col("mu")) / col("sd")).as("absz"),
            ((col("v") - col("lo")) / (col("hi") - col("lo"))).as("mm"))
          .groupBy(col("g"))
          .agg(
            max(col("n")).as("n"),
            round(max(col("mu")), 6).as("mu"),
            round(max(col("sd")), 6).as("sd"),
            round(sumExact(col("absz")) / max(col("n")), 6).as("mean_abs_z"),
            round(sumExact(col("mm")) / max(col("n")), 6).as("mean_minmax"))
          .orderBy(col("g"))
      },
      Some(s"""WITH s AS (
              |  SELECT l_returnflag AS g, COUNT(*) AS n,
              |    ${avgExactSql("CAST(l_extendedprice AS DOUBLE)")} AS mu,
              |    ${stdExactSql("CAST(l_extendedprice AS DOUBLE)")} AS sd,
              |    MIN(CAST(l_extendedprice AS DOUBLE)) AS lo,
              |    MAX(CAST(l_extendedprice AS DOUBLE)) AS hi
              |  FROM lineitem GROUP BY 1),
              |j AS (
              |  SELECT s.g, s.n, s.mu, s.sd,
              |    ABS(CAST(l_extendedprice AS DOUBLE) - s.mu) / s.sd AS absz,
              |    (CAST(l_extendedprice AS DOUBLE) - s.lo) / (s.hi - s.lo) AS mm
              |  FROM lineitem l JOIN s ON l.l_returnflag = s.g)
              |SELECT g, MAX(n) AS n, ROUND(MAX(mu), 6) AS mu,
              |  ROUND(MAX(sd), 6) AS sd,
              |  ROUND(${sumExactSql("absz")} / MAX(n), 6) AS mean_abs_z,
              |  ROUND(${sumExactSql("mm")} / MAX(n), 6) AS mean_minmax
              |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Distribution-shape profile: population skewness and excess
    // kurtosis per group from EXACT decimal power sums (m3/σ³, m4/σ⁴−3
    // evaluated as one fixed double expression over bit-identical
    // inputs — the same stance as stdExact; Spark's built-in
    // skewness/kurtosis are fp-accumulation-order dependent and would
    // not hash-match DuckDB). One map-side-combined aggregate pass.
    // l_quantity is bounded (≤ 55), so x⁴ ≤ 1e7 sits far inside
    // DECIMAL(27,6)'s 21 integer digits.
    Q("a23_moments",
      (s, d) => {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val x = col("l_quantity").cast("double")
        def sumP(p: Int) = {
          val t = Seq.fill(p)(x).reduce(_ * _)
          graft.functions.SumQ6.sum_q6(t)
        }
        T(s, d, "lineitem")
          .groupBy(col("l_returnflag").as("g"))
          .agg(count(x).cast(DoubleType).as("n"),
            sumP(1).as("s1"), sumP(2).as("s2"), sumP(3).as("s3"), sumP(4).as("s4"))
          .select(col("g"), col("n").cast("long").as("n_rows"),
            round(col("s1") / col("n"), 6).as("mean"), col("n"),
            col("s1"), col("s2"), col("s3"), col("s4"))
          .withColumn("mu", col("s1") / col("n"))
          .withColumn("m2",
            col("s2") / col("n") - col("mu") * col("mu"))
          .withColumn("m3",
            col("s3") / col("n") - lit(3d) * col("mu") * (col("s2") / col("n"))
              + lit(2d) * col("mu") * col("mu") * col("mu"))
          .withColumn("m4",
            col("s4") / col("n") - lit(4d) * col("mu") * (col("s3") / col("n"))
              + lit(6d) * col("mu") * col("mu") * (col("s2") / col("n"))
              - lit(3d) * col("mu") * col("mu") * col("mu") * col("mu"))
          .select(col("g"), col("n_rows"), col("mean"),
            round(col("m3") / pow(col("m2"), 1.5), 6).as("skewness"),
            round(col("m4") / (col("m2") * col("m2")) - 3d, 6).as("ex_kurtosis"))
          .orderBy(col("g"))
      },
      Some("""WITH a AS (
             |  SELECT l_returnflag AS g, CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) AS s1,
             |    CAST(SUM(CAST(CAST(l_quantity AS DOUBLE)*CAST(l_quantity AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) AS s2,
             |    CAST(SUM(CAST(CAST(l_quantity AS DOUBLE)*CAST(l_quantity AS DOUBLE)*CAST(l_quantity AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) AS s3,
             |    CAST(SUM(CAST(CAST(l_quantity AS DOUBLE)*CAST(l_quantity AS DOUBLE)*CAST(l_quantity AS DOUBLE)*CAST(l_quantity AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) AS s4
             |  FROM lineitem GROUP BY 1),
             |m AS (
             |  SELECT g, CAST(n AS BIGINT) AS n_rows, ROUND(s1/n, 6) AS mean,
             |    s1/n AS mu,
             |    s2/n - (s1/n)*(s1/n) AS m2,
             |    s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n) AS m3,
             |    s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
             |      - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n) AS m4
             |  FROM a)
             |SELECT g, n_rows, mean,
             |  ROUND(m3 / POWER(m2, 1.5), 6) AS skewness,
             |  ROUND(m4 / (m2 * m2) - 3, 6) AS ex_kurtosis
             |FROM m ORDER BY g""".stripMargin)),

    // Shannon-entropy profile of categorical columns (feature-selection /
    // corpus-balance diagnostic): melt the columns map-only (explode of
    // a 2-element struct array — no shuffle), one (col, value) count
    // aggregate, probabilities via a per-column window over the TINY
    // count frame (≤ distinct values per column), then
    // H = Σ p·log2(1/p). Each term is rounded to 1e-6 BEFORE an exact
    // decimal sum (x15's stance: snaps any cross-engine log2 last-bit
    // drift AND makes the sum order-independent). norm_entropy = H /
    // log2(|distinct|) — the 0..1 balance score.
    Q("a24_cat_entropy",
      (s, d) => {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val melted = T(s, d, "orders")
          .select(explode(array(
            struct(lit("o_orderpriority").as("col_name"), col("o_orderpriority").as("v")),
            struct(lit("o_orderstatus").as("col_name"), col("o_orderstatus").as("v"))))
            .as("m"))
          .select(col("m.col_name"), col("m.v"))
        val counts = melted.groupBy(col("col_name"), col("v"))
          .agg(count(lit(1)).as("cnt"))
        counts
          .withColumn("p", col("cnt").cast(DoubleType) /
            sum(col("cnt")).over(Window.partitionBy(col("col_name"))).cast(DoubleType))
          .withColumn("term", round(-col("p") * log2(col("p")), 6).cast(DecimalType(27, 6)))
          .groupBy(col("col_name"))
          .agg(count(lit(1)).as("n_distinct"),
            sum(col("term")).cast(DoubleType).as("ent"))
          .select(col("col_name"), col("n_distinct"),
            round(col("ent"), 6).as("entropy"),
            round(col("ent") / log2(col("n_distinct").cast(DoubleType)), 6)
              .as("norm_entropy"))
          .orderBy(col("col_name"))
      },
      Some("""WITH m AS (
             |  SELECT 'o_orderpriority' AS col_name, o_orderpriority AS v FROM orders
             |  UNION ALL
             |  SELECT 'o_orderstatus', o_orderstatus FROM orders),
             |c AS (SELECT col_name, v, COUNT(*) AS cnt FROM m GROUP BY 1, 2),
             |t AS (SELECT col_name, cnt,
             |    CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY col_name) AS DOUBLE) AS p
             |  FROM c),
             |e AS (SELECT col_name, COUNT(*) AS n_distinct,
             |    CAST(SUM(CAST(ROUND(-p * LOG2(p), 6) AS DECIMAL(27,6))) AS DOUBLE) AS ent
             |  FROM t GROUP BY 1)
             |SELECT col_name, n_distinct, ROUND(ent, 6) AS entropy,
             |  ROUND(ent / LOG2(CAST(n_distinct AS DOUBLE)), 6) AS norm_entropy
             |FROM e ORDER BY col_name""".stripMargin)),

    // Mixture-concentration index (a24's companion: not "how balanced
    // within a column" but "how concentrated is the corpus over
    // sources"): Gini of per-source doc counts via the sorted-cumulative
    // formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over counts ranked
    // ascending — all integer sums (exact), one final double division.
    // The rank window runs over the S-row count frame, never documents.
    Q("a25_source_gini",
      (s, d) => {
        val counts = T(s, d, "documents")
          .groupBy(col("source")).agg(count(lit(1)).as("x"))
        val w = Window.orderBy(col("x"), col("source"))
        counts
          .withColumn("i", row_number().over(w).cast("long"))
          .agg(count(lit(1)).as("n_sources"),
            sumLong(col("x")).as("n_docs"),
            sumLong(col("i") * col("x")).as("six"))
          .select(col("n_sources"), col("n_docs"),
            round(lit(2.0) * col("six") / (col("n_sources") * col("n_docs"))
              - (col("n_sources") + lit(1L)).cast("double") / col("n_sources"), 6)
              .as("gini"))
      },
      Some("""WITH c AS (SELECT source, COUNT(*) AS x FROM documents GROUP BY 1),
             |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, source) AS i FROM c),
             |a AS (SELECT COUNT(*) AS n_sources, CAST(SUM(x) AS BIGINT) AS n_docs,
             |    CAST(SUM(i * x) AS BIGINT) AS six FROM r)
             |SELECT n_sources, n_docs,
             |  ROUND(2.0 * six / (n_sources * n_docs)
             |    - CAST(n_sources + 1 AS DOUBLE) / n_sources, 6) AS gini
             |FROM a""".stripMargin)),

    // Robust location estimates per group (the outlier-resistant twin of
    // a6's plain means, feeding threshold decisions that a handful of
    // corrupt prices must not move): 10% two-sided TRIMMED mean (drop
    // values outside [p10, p90]) and WINSORIZED mean (clamp to the same
    // band). The per-group thresholds come from the HISTOGRAM-COMPRESSED
    // distributed quantile pass (Relational.weightedQuantiles, w=1 — the
    // same quantile_cont interpolation as a12, but O(distinct values)
    // state instead of buffering every price in G=3 aggregation buffers:
    // built-in exact `percentile` with few groups is the a21/h7 OOM
    // class, measured heap-dead at ×100 in DevScale gates12b). A
    // broadcast of the G-row threshold frame puts them back on the scan,
    // and both means ride the exact-decimal path. Membership (v in
    // [lo, hi]) is safe against last-bit threshold drift: an interpolated
    // threshold lies strictly between two adjacent observed values, so a
    // ±1ulp engine difference cannot flip any row.
    Q("a26_trimmed_stats",
      (s, d) => {
        val v = T(s, d, "lineitem")
          .select(col("l_returnflag").as("g"), col("l_extendedprice").cast("double").as("v"))
        val th = graft.core.Relational.weightedQuantiles(
            v.withColumn("w", lit(1L)), "g", "v", "w", Seq(0.1, 0.9))
          .select(col("g"), col("q_0_1").as("lo"), col("q_0_9").as("hi"))
        val kept = col("v") >= col("lo") && col("v") <= col("hi")
        v.join(broadcast(th), Seq("g"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("n"),
            round(avgExact(col("v")), 6).as("mean"),
            count(when(kept, 1)).as("n_kept"),
            round(avgExact(when(kept, col("v"))), 6).as("trimmed_mean"),
            round(avgExact(greatest(col("lo"), least(col("hi"), col("v")))), 6)
              .as("winsorized_mean"))
          .orderBy(col("g"))
      },
      Some(s"""WITH v AS (
             |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
             |th AS (SELECT g, QUANTILE_CONT(v, 0.1) AS lo, QUANTILE_CONT(v, 0.9) AS hi
             |  FROM v GROUP BY 1)
             |SELECT v.g, COUNT(*) AS n,
             |  ROUND(${avgExactSql("v.v")}, 6) AS mean,
             |  CAST(SUM(CASE WHEN v.v >= lo AND v.v <= hi THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_kept,
             |  ROUND(${avgExactSql("CASE WHEN v.v >= lo AND v.v <= hi THEN v.v END")}, 6)
             |    AS trimmed_mean,
             |  ROUND(${avgExactSql("GREATEST(lo, LEAST(hi, v.v))")}, 6) AS winsorized_mean
             |FROM v JOIN th ON th.g = v.g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Hill tail-index estimator (the heavy-tail exponent of the
    // document-length distribution — the corpus-forensics companion to
    // x41's Zipf slope and x45's Heaps fit; a finite-variance verdict
    // decides whether mean-based length budgets are even meaningful):
    // α = k / Σᵢ ln(xᵢ/x_thr) over the k largest values with x_thr the
    // (k+1)-th order statistic. ONE TakeOrdered(k+1) global top-N (the
    // w2 shape — never a full sort), then a 201-row aggregate. The
    // threshold row contributes ln(1)=0, so summing over all k+1 rows
    // with divisor k is tie-safe and identical in both engines; ln
    // terms are rounded to 1e-9 and decimal-summed (a24's stance).
    // Deterministic under boundary ties via the (length desc, id) total
    // order.
    Q("a27_hill_tail",
      (s, d) => {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val top = T(s, d, "documents")
          .select(col("n_chars").cast(DoubleType).as("v"), col("doc_id"))
          .orderBy(col("v").desc, col("doc_id")).limit(201)
        val thr = top.agg(min(col("v")).as("x_thr"))
        top.attachSingleton(thr) // 1-row scalar attach
          .agg(count(lit(1)).as("n_top"),
            first(col("x_thr")).as("x_thr"),
            sum(round(log(col("v") / col("x_thr")), 9)
              .cast(DecimalType(27, 9))).cast(DoubleType).as("ln_sum"))
          .select((col("n_top") - 1L).as("k"), col("x_thr"),
            round(col("ln_sum"), 6).as("ln_sum"),
            round(when(col("ln_sum") > 0, (col("n_top") - 1L).cast(DoubleType) / col("ln_sum")), 6)
              .as("alpha"))
      },
      Some("""WITH t AS (
             |  SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
             |  ORDER BY n_chars DESC, doc_id LIMIT 201),
             |thr AS (SELECT MIN(v) AS x_thr FROM t),
             |a AS (SELECT COUNT(*) AS n_top, MIN(x_thr) AS x_thr,
             |    CAST(SUM(CAST(ROUND(LN(v / x_thr), 9) AS DECIMAL(27,9))) AS DOUBLE)
             |      AS ln_sum
             |  FROM t, thr)
             |SELECT CAST(n_top - 1 AS BIGINT) AS k, x_thr,
             |  ROUND(ln_sum, 6) AS ln_sum,
             |  ROUND(CASE WHEN ln_sum > 0
             |    THEN CAST(n_top - 1 AS DOUBLE) / ln_sum END, 6) AS alpha
             |FROM a""".stripMargin)),

    // Spearman rank correlation with textbook AVERAGE tie ranks (the
    // robust monotone-association twin of a13's Pearson — quantity is
    // 50 discrete values, so ties dominate and the tie convention IS
    // the statistic). Exactness trick: the average rank of a tied value
    // is min_rank + (cnt−1)/2 — a HALF-integer — so both engines carry
    // 2·avg_rank = 2·min_rank + cnt − 1 as exact BIGINTs (Spearman is
    // affine-invariant, the doubling cancels), and the correlation is
    // one closed-form double over five decimal-exact sums. Scale shape:
    // per column one map-side-combined histogram + one distributed
    // weighted prefix-sum over DISTINCT VALUES (withGlobalCumSum — no
    // global window, no row-scale materialization), mapped back by a
    // value-keyed join; nothing single-partition.
    Q("a28_spearman",
      (s, d) => {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val li = T(s, d, "lineitem").select(
          col("l_quantity").as("x"), col("l_extendedprice").as("y"))
        // Doubled average tie rank STRAIGHT FROM THE VALUE HISTOGRAM:
        // min_rank(v) = (rows with smaller value) + 1 = cum(v) − cnt(v) + 1
        // (cum = inclusive running count over distinct values), so
        // 2·avg = 2·min + cnt − 1 = 2·cum − cnt + 1 — tie order never
        // matters, so NO row-scale rank pass is needed. The original
        // shape (two withGlobalRank passes over all rows, each eagerly
        // checkpointing a 4-column row-scale frame) exhausted executor
        // memory at ×100 (gates13c: AGGREGATE_OUT_OF_MEMORY with both
        // 60M-row checkpoints resident); this one checkpoints only the
        // distinct-value histograms (≤ |price grid| rows) inside
        // withGlobalCumSum and is the same histogram-compression move
        // as weightedQuantiles.
        def rank2(vc: String): DataFrame =
          Relational.withGlobalCumSum(
              li.groupBy(col(vc)).agg(count(lit(1)).as("__cnt")),
              Seq(col(vc)), col("__cnt"), "__cum")
            .select(col(vc),
              (lit(2L) * col("__cum") - col("__cnt") + 1L).as(s"r$vc"))
        val joined = li.join(rank2("x"), Seq("x")).join(rank2("y"), Seq("y"))
        val dec = DecimalType(38, 0)
        val st = joined.agg(
          count(lit(1)).as("n"),
          graft.functions.SumQ6.sum_q6(col("rx")).as("sx"),
          graft.functions.SumQ6.sum_q6(col("ry")).as("sy"),
          graft.functions.SumQ6.sum_q6((col("rx") * col("ry"))).as("sxy"),
          graft.functions.SumQ6.sum_q6((col("rx") * col("rx"))).as("sxx"),
          graft.functions.SumQ6.sum_q6((col("ry") * col("ry"))).as("syy"))
        val m = col("n").cast(DoubleType)
        st.select(col("n").as("n_rows"),
          round((col("sxy") / m - (col("sx") / m) * (col("sy") / m)) /
            sqrt((col("sxx") / m - (col("sx") / m) * (col("sx") / m)) *
              (col("syy") / m - (col("sy") / m) * (col("sy") / m))), 6)
            .as("spearman"))
      },
      Some("""WITH b AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
             |rx AS MATERIALIZED (SELECT x, 2 * MIN(rk) + COUNT(*) - 1 AS rx
             |  FROM (SELECT x, RANK() OVER (ORDER BY x) AS rk FROM b) GROUP BY x),
             |ry AS MATERIALIZED (SELECT y, 2 * MIN(rk) + COUNT(*) - 1 AS ry
             |  FROM (SELECT y, RANK() OVER (ORDER BY y) AS rk FROM b) GROUP BY y),
             |st AS (SELECT COUNT(*) AS n,
             |    CAST(SUM(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(rx * ry AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             |    CAST(SUM(CAST(rx * rx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(ry * ry AS DECIMAL(38,0))) AS DOUBLE) AS syy
             |  FROM b JOIN rx USING (x) JOIN ry USING (y))
             |SELECT n AS n_rows,
             |  ROUND((sxy / n - (sx / n) * (sy / n))
             |    / SQRT((sxx / n - (sx / n) * (sx / n))
             |      * (syy / n - (sy / n) * (sy / n))), 6) AS spearman
             |FROM st""".stripMargin)),

    // Kendall tau-b (the third leg of the correlation family: a13
    // Pearson, a28 Spearman, a29 Kendall — concordance-based, the most
    // tie-robust of the three) between two DISCRETE columns. The key
    // scale move: with bounded domains (quantity 1–50 × linenumber
    // 1–7), every pairwise statistic collapses onto the CONTINGENCY
    // CELL table — one map-side-combined groupBy to ≤350 cells, then
    // concordant/discordant pair mass from a broadcast cell self-join
    // (≤350² pairs — a nested-loop join over an AGGREGATED frame is
    // fine; the guard against BNLJ is for row-scale inputs). Counts
    // multiply as DECIMAL(38,0) (cell products overflow int64 at
    // trillion-row scale); tau-b's denominator uses
    // n(n−1) − Σ t(t−1) kept exact in decimal, halved in double
    // (÷2 is exact in IEEE), so both engines compute identical doubles.
    Q("a29_kendall",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val dec = DecimalType(18, 0)
        val cells = T(s, d, "lineitem")
          .groupBy(col("l_quantity").cast("long").as("x"),
            col("l_linenumber").cast("long").as("y"))
          .agg(count(lit(1)).as("cn"))
        // Concordant/discordant pair mass WITHOUT the triangular pair
        // join (a x2 > x1 self-join is a BroadcastNestedLoopJoin — the
        // banned shape; attachSingleton's inline guard caught it hiding
        // in this build-time scalars frame). Prefix-sum identity on the
        // dense |X|·|Y| grid instead: F(x,y) = Σ_{x'<x} n(x',y) (strict-
        // prior cum over x per y), G(x,y) = Σ_{y'<y} F(x,y') (strict-
        // prior cum over y per x), Ftot(x) = Σ_y F(x,y). Then
        // C = Σ n·G and D = Σ n·(Ftot − F − G) — two windows over the
        // vocab-bounded grid, O(|X|·|Y|) instead of O(|cells|²). The
        // grid densifies missing cells to n = 0 via a bounded collect of
        // the y vocabulary exploded as literals (the audited S7 class).
        val yVals = cells.select(col("y")).distinct()
          .collect().map(_.getLong(0)).sorted
        require(yVals.length <= 4096,
          s"a29: y vocabulary ${yVals.length} exceeds the grid cap")
        val wx = Window.partitionBy(col("y")).orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wy = Window.partitionBy(col("x")).orderBy(col("y"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val grid = cells.select(col("x")).distinct()
          .withColumn("y", explode(array(yVals.map(lit(_)): _*)))
          .join(cells, Seq("x", "y"), "left")
          .na.fill(0L, Seq("cn"))
          .withColumn("f", coalesce(sum(col("cn")).over(wx), lit(0L)))
          .withColumn("g", coalesce(sum(col("f")).over(wy), lit(0L)))
          .withColumn("ftot",
            sum(col("f")).over(Window.partitionBy(col("x"))))
        val cd = grid.agg(
          sum(col("cn").cast(dec) * col("g").cast(dec)).as("c"),
          sum(col("cn").cast(dec) *
            (col("ftot") - col("f") - col("g")).cast(dec)).as("dd"))
        def tieSum(k: String) = cells.groupBy(col(k)).agg(sum(col("cn")).as("t"))
          .agg(sum(col("t").cast(dec) * (col("t") - 1).cast(dec)).as(s"s$k"))
        val tot = cells.agg(sum(col("cn")).as("n"), count(lit(1)).as("n_cells"))
        val nn = col("n").cast(dec) * (col("n") - 1).cast(dec)
        tot.attachSingleton(cd)
          .attachSingleton(tieSum("x")).attachSingleton(tieSum("y"))
          .select(col("n"), col("n_cells"),
            col("c").cast("long").as("concordant"),
            col("dd").cast("long").as("discordant"),
            round((col("c") - col("dd")).cast("double") /
              (sqrt((nn - col("sx")).cast("double") / 2) *
                sqrt((nn - col("sy")).cast("double") / 2)), 6).as("tau_b"))
      },
      Some("""WITH cells AS (
             |  SELECT CAST(l_quantity AS BIGINT) AS x,
             |    CAST(l_linenumber AS BIGINT) AS y, COUNT(*) AS cn
             |  FROM lineitem GROUP BY 1, 2),
             |cd AS (SELECT
             |    COALESCE(SUM(CASE WHEN b.y > a.y THEN a.cn * b.cn END), 0) AS c,
             |    COALESCE(SUM(CASE WHEN b.y < a.y THEN a.cn * b.cn END), 0) AS d
             |  FROM cells a JOIN cells b ON b.x > a.x),
             |sx AS (SELECT SUM(t * (t - 1)) AS sx
             |  FROM (SELECT SUM(cn) AS t FROM cells GROUP BY x)),
             |sy AS (SELECT SUM(t * (t - 1)) AS sy
             |  FROM (SELECT SUM(cn) AS t FROM cells GROUP BY y)),
             |tot AS (SELECT CAST(SUM(cn) AS BIGINT) AS n, COUNT(*) AS n_cells
             |  FROM cells)
             |SELECT n, n_cells,
             |  CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
             |  ROUND(CAST(c - d AS DOUBLE)
             |    / (SQRT(CAST(CAST(n AS HUGEINT) * (n - 1) - sx AS DOUBLE) / 2)
             |      * SQRT(CAST(CAST(n AS HUGEINT) * (n - 1) - sy AS DOUBLE) / 2)), 6)
             |    AS tau_b
             |FROM tot, cd, sx, sy""".stripMargin)),

    // GROUPED quantile sketch: percentile_approx per group at an accuracy
    // far above the per-group distinct count keeps the GK sketch lossless
    // (no compaction → exact observed-value quantiles, quantile_disc
    // semantics — the same equivalence h3/w4b rely on), while remaining
    // the bounded-memory shape that scales to groups of billions of rows
    // by lowering the accuracy knob.
    Q("h4_group_quantile",
      (s, d) => T(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000000)).as("p50"),
          percentile_approx(col("o_totalprice"), lit(0.9), lit(10000000)).as("p90"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
             |  quantile_disc(o_totalprice, 0.5) AS p50,
             |  quantile_disc(o_totalprice, 0.9) AS p90
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // approxQuantile at relErr 1e-8 is EXACT on any column with fewer
    // distinct values than 1e8 (the GK sketch stores every distinct rank
    // boundary) and returns an observed value — i.e. quantile_disc
    // semantics (same equivalence w4b_decile_range relies on).
    Q("h3_approx_quantile",
      (s, d) => {
        val labels = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9, "p99" -> 0.99)
        val vals = Relational.quantilesApprox(
          T(s, d, "orders"), "o_totalprice", labels.map(_._2), relErr = 1e-8)
        import s.implicits._
        labels.map(_._1).zip(vals).toDF("p", "value").orderBy(col("p"))
      },
      Some(Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.9 -> "p90", 0.99 -> "p99").map {
        case (q, l) =>
          s"SELECT '$l' AS p, quantile_disc(o_totalprice, $q) AS value FROM orders"
      }.mkString("", " UNION ALL ", " ORDER BY p"))),

    // WEIGHTED Pearson correlation per group (a13/a16's frequency-
    // weighted sibling — the shape survey pipelines need when rows
    // carry multiplicities: price vs discount weighted by quantity).
    // All six weighted moments (Σw, Σwx, Σwy, Σwx², Σwy², Σwxy)
    // accumulate in ONE map-side-combined pass through exact DECIMAL
    // (order-independent), the closed form runs on the six resulting
    // bit-identical doubles with the SAME expression tree both engines
    // evaluate in IEEE order, and the O(1) ratio takes the usual 1e-6
    // rounding grid. Decimal headroom: Σw·x² ≤ ~6e11/row → ~4e17 at
    // sf0.1, inside DECIMAL(27,6)'s 1e21 — re-derive before pointing
    // at a column with |x| ≫ 1e5 at larger SFs.
    Q("a30_weighted_corr",
      (s, d) => {
        val (x, y, wt) = (col("l_extendedprice"), col("l_discount"), col("l_quantity"))
        def m(c: org.apache.spark.sql.Column) =
          graft.functions.SumQ6.sum_q6(c)
        T(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            m(wt).as("sw"), m(wt * x).as("swx"), m(wt * y).as("swy"),
            m(wt * x * x).as("swxx"), m(wt * y * y).as("swyy"),
            m(wt * x * y).as("swxy"))
          .select(col("l_returnflag"), col("n"),
            round(col("swx") / col("sw"), 6).as("wmean_x"),
            round(col("swy") / col("sw"), 6).as("wmean_y"),
            round(
              (col("sw") * col("swxy") - col("swx") * col("swy")) /
                sqrt((col("sw") * col("swxx") - col("swx") * col("swx")) *
                  (col("sw") * col("swyy") - col("swy") * col("swy"))), 6)
              .as("weighted_corr"))
          .orderBy(col("l_returnflag"))
      },
      Some {
        def m(e: String) =
          s"CAST(SUM(CAST(($e) AS DECIMAL(27,6))) AS DOUBLE)"
        s"""WITH s AS (SELECT l_returnflag, COUNT(*) AS n,
           |  ${m("l_quantity")} AS sw,
           |  ${m("l_quantity*l_extendedprice")} AS swx,
           |  ${m("l_quantity*l_discount")} AS swy,
           |  ${m("l_quantity*l_extendedprice*l_extendedprice")} AS swxx,
           |  ${m("l_quantity*l_discount*l_discount")} AS swyy,
           |  ${m("l_quantity*l_extendedprice*l_discount")} AS swxy
           |FROM lineitem GROUP BY 1)
           |SELECT l_returnflag, n,
           |  ROUND(swx / sw, 6) AS wmean_x,
           |  ROUND(swy / sw, 6) AS wmean_y,
           |  ROUND((sw * swxy - swx * swy) /
           |    SQRT((sw * swxx - swx * swx) * (sw * swyy - swy * swy)), 6)
           |    AS weighted_corr
           |FROM s ORDER BY l_returnflag""".stripMargin
      }),

    // Durbin–Watson autocorrelation statistic over the daily-total
    // series (t13's ACF asks "how correlated at lag k"; DW is the
    // classic 0–4 residual-independence gate regression diagnostics
    // thread first): daily totals come from one groupBy(day) pass with
    // exact decimal sums, the mean is decimal-exact, and the lag-1
    // differences run over the PRE-AGGREGATED day frame (O(days) rows —
    // the documented safe unpartitioned-window class). Per-term squares
    // are rounded-then-decimal-summed (a29/dq13's pattern) so the
    // O(days) float accumulation cannot reorder across engines.
    // DW ≈ 2(1 − ρ₁): <2 positive autocorrelation, >2 negative.
    Q("a31_durbin_watson",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val daily = graft.core.Tables.readEvents(s, d)
          .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
          .agg(sum(col("value").cast(DecimalType(27, 6))).as("vd"))
        // totals via a constant-partition window over the O(days) frame
        // (the documented safe class) — a 1-row crossJoin would plan as
        // BroadcastNestedLoopJoin, which the plan audit bans outright
        val wAll = Window.partitionBy(lit(0))
        val wd = Window.partitionBy(lit(0)).orderBy(col("day"))
        val terms = daily
          .withColumn("n_days", count(lit(1)).over(wAll))
          .withColumn("sv", sum(col("vd")).over(wAll).cast("double"))
          .withColumn("dev", col("vd").cast("double") - col("sv") / col("n_days"))
          .withColumn("prev", lag(col("dev"), 1).over(wd))
          .select(col("n_days"),
            round((col("dev") - col("prev")) * (col("dev") - col("prev")), 9)
              .cast(DecimalType(27, 9)).as("num_t"),
            round(col("dev") * col("dev"), 9).cast(DecimalType(27, 9)).as("den_t"))
        terms.groupBy(col("n_days"))
          .agg(round(sum(col("num_t")).cast("double") /
            sum(col("den_t")).cast("double"), 6).as("dw"))
          .select(col("n_days"), col("dw"))
      },
      Some("""WITH daily AS (
             |  SELECT STRFTIME(date_trunc('day', ts), '%Y-%m-%d') AS day,
             |    SUM(CAST(value AS DECIMAL(27,6))) AS vd
             |  FROM events GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS n_days,
             |    CAST(SUM(vd) AS DOUBLE) AS sv FROM daily),
             |dev AS (SELECT n_days,
             |    CAST(vd AS DOUBLE) - sv / n_days AS dev,
             |    LAG(CAST(vd AS DOUBLE) - sv / n_days)
             |      OVER (ORDER BY day) AS prev
             |  FROM daily, tot),
             |t AS (SELECT n_days,
             |    CAST(ROUND((dev - prev) * (dev - prev), 9) AS DECIMAL(27,9)) AS num_t,
             |    CAST(ROUND(dev * dev, 9) AS DECIMAL(27,9)) AS den_t
             |  FROM dev)
             |SELECT n_days,
             |  ROUND(CAST(SUM(num_t) AS DOUBLE) / CAST(SUM(den_t) AS DOUBLE), 6) AS dw
             |FROM t GROUP BY 1""".stripMargin)),

    // Welch's unequal-variance t-test (two-segment mean comparison, the
    // A/B-readout companion to a16's point-biserial): click vs view
    // event values. ONE conditional-sum scan (map-side combined, no
    // join, no pivot) produces each side's exact-decimal n/Σx/Σx²;
    // t and the Welch–Satterthwaite df are closed-form doubles over
    // those bit-identical inputs, rounded on both sides. Sample
    // variance (n−1) per the test's definition.
    Q("a32_welch_ttest",
      (s, d) => {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val x = col("value")
        def side(t: String, nm: String) = {
          val m = col("event_type") === t
          Seq(countIf(m).cast(DoubleType).as(s"n_$nm"),
            graft.functions.SumQ6.sum_q6(when(m, x)).as(s"s1_$nm"),
            graft.functions.SumQ6.sum_q6(when(m, x * x)).as(s"s2_$nm"))
        }
        def v(nm: String) =
          (col(s"s2_$nm") - col(s"s1_$nm") * col(s"s1_$nm") / col(s"n_$nm")) /
            (col(s"n_$nm") - 1d)
        def se2(nm: String) = v(nm) / col(s"n_$nm")
        graft.core.Tables.readEvents(s, d)
          .where(col("event_type").isin("click", "view"))
          .agg((side("click", "a") ++ side("view", "b")).head,
            (side("click", "a") ++ side("view", "b")).tail: _*)
          .select(
            col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
            round(col("s1_a") / col("n_a"), 6).as("mean_a"),
            round(col("s1_b") / col("n_b"), 6).as("mean_b"),
            round((col("s1_a") / col("n_a") - col("s1_b") / col("n_b")) /
              sqrt(se2("a") + se2("b")), 6).as("t_stat"),
            round((se2("a") + se2("b")) * (se2("a") + se2("b")) /
              (se2("a") * se2("a") / (col("n_a") - 1d) +
                se2("b") * se2("b") / (col("n_b") - 1d)), 6).as("df"))
      },
      Some("""WITH s AS (SELECT
             |    CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS DOUBLE) AS n_a,
             |    CAST(SUM(CAST(CASE WHEN event_type='click' THEN value END AS DECIMAL(27,6))) AS DOUBLE) AS s1_a,
             |    CAST(SUM(CAST(CASE WHEN event_type='click' THEN value*value END AS DECIMAL(27,6))) AS DOUBLE) AS s2_a,
             |    CAST(SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS DOUBLE) AS n_b,
             |    CAST(SUM(CAST(CASE WHEN event_type='view' THEN value END AS DECIMAL(27,6))) AS DOUBLE) AS s1_b,
             |    CAST(SUM(CAST(CASE WHEN event_type='view' THEN value*value END AS DECIMAL(27,6))) AS DOUBLE) AS s2_b
             |  FROM events WHERE event_type IN ('click','view')),
             |v AS (SELECT n_a, n_b, s1_a, s1_b,
             |    ((s2_a - s1_a*s1_a/n_a)/(n_a - 1))/n_a AS se2a,
             |    ((s2_b - s1_b*s1_b/n_b)/(n_b - 1))/n_b AS se2b
             |  FROM s)
             |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             |  ROUND(s1_a/n_a, 6) AS mean_a, ROUND(s1_b/n_b, 6) AS mean_b,
             |  ROUND((s1_a/n_a - s1_b/n_b)/SQRT(se2a + se2b), 6) AS t_stat,
             |  ROUND((se2a + se2b)*(se2a + se2b) /
             |    (se2a*se2a/(n_a - 1) + se2b*se2b/(n_b - 1)), 6) AS df
             |FROM v""".stripMargin)),

    // Mann–Whitney U (rank-sum two-sample test — the nonparametric twin
    // of a32, and a28's histogram-rank machinery reused): tie-aware
    // midranks come from ONE distributed cumulative count over the
    // pooled (value → count, count-in-A) HISTOGRAM via withGlobalCumSum
    // — never a row-level global window; the frame after the scan is
    // distinct values. All rank sums are kept in BIGINT (2·midrank is
    // an integer) so every engine sees bit-identical inputs to the
    // final z closed form (normal approximation with the standard tie
    // correction). Tie runs are value-bounded, so t³ stays far inside
    // BIGINT at any corpus scale with real-valued measures.
    Q("a33_mann_whitney",
      (s, d) => {
        val h = graft.core.Tables.readEvents(s, d)
          .where(col("event_type").isin("click", "view"))
          .groupBy(col("value").as("v"))
          .agg(count(lit(1)).as("t"),
            countIf(col("event_type") === "click").as("t1"))
        val c = Relational.withGlobalCumSum(h, Seq(col("v")), col("t"), "cum")
        val nd = (nm: String) => col(nm).cast("double")
        c.agg(sumLong(col("t1")).as("n1"),
            sumLong(col("t") - col("t1")).as("n2"),
            // Σ over group A of 2·midrank = Σ t1·(2·(cum−t) + t + 1)
            sumLong(col("t1") * (lit(2L) * col("cum") - col("t") + lit(1L)))
              .as("r2"),
            sumLong(col("t") * col("t") * col("t") - col("t")).as("tie3"))
          .select(col("n1"), col("n2"),
            round(nd("r2") / 2d - nd("n1") * (col("n1") + 1) / 2d, 6).as("u1"),
            round((nd("r2") / 2d - nd("n1") * (col("n1") + 1) / 2d -
              nd("n1") * col("n2") / 2d) /
              sqrt(nd("n1") * col("n2") / 12d *
                ((col("n1") + col("n2") + 1) -
                  nd("tie3") / ((col("n1") + col("n2")) *
                    (col("n1") + col("n2") - 1).cast("double")))), 6).as("z"))
      },
      Some("""WITH e AS (SELECT value AS v,
             |    CASE WHEN event_type='click' THEN 1 ELSE 0 END AS g1
             |  FROM events WHERE event_type IN ('click','view')),
             |h AS (SELECT v, COUNT(*) AS t, SUM(g1) AS t1 FROM e GROUP BY 1),
             |c AS (SELECT t, t1, SUM(t) OVER (ORDER BY v
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM h),
             |s AS (SELECT CAST(SUM(t1) AS BIGINT) AS n1,
             |    CAST(SUM(t - t1) AS BIGINT) AS n2,
             |    CAST(SUM(t1 * (2*cum - t + 1)) AS BIGINT) AS r2,
             |    CAST(SUM(t*t*t - t) AS BIGINT) AS tie3 FROM c)
             |SELECT n1, n2,
             |  ROUND(CAST(r2 AS DOUBLE)/2 - CAST(n1 AS DOUBLE)*(n1 + 1)/2, 6) AS u1,
             |  ROUND((CAST(r2 AS DOUBLE)/2 - CAST(n1 AS DOUBLE)*(n1 + 1)/2 -
             |      CAST(n1 AS DOUBLE)*n2/2) /
             |    SQRT(CAST(n1 AS DOUBLE)*n2/12 *
             |      ((n1 + n2 + 1) - CAST(tie3 AS DOUBLE)/((n1 + n2)*CAST(n1 + n2 - 1 AS DOUBLE)))),
             |    6) AS z
             |FROM s""".stripMargin)),

    // Kruskal–Wallis H (the k-sample extension of a33 — one rank pass,
    // five groups): the same pooled-histogram midrank machinery
    // (withGlobalCumSum over distinct values), per-group rank sums from
    // ONE value-keyed equi join of the (value, group) counts onto the
    // cumulative frame, everything BIGINT until the closed form. The
    // five per-group terms fold into H in EXPLICIT alphabetical order
    // on both engines — a SUM over group rows would make the 5-term
    // double accumulation order engine-dependent. The 1-row tie frame
    // reaches the pivot through unionByName + max-ignoring-nulls,
    // never a 1-row join (the banned BNLJ shape).
    Q("a34_kruskal_wallis",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val ev = graft.core.Tables.readEvents(s, d)
          .select(col("value").as("v"), col("event_type").as("g"))
        val h = ev.groupBy(col("v")).agg(count(lit(1)).as("t"))
        val c = Relational.withGlobalCumSum(h, Seq(col("v")), col("t"), "cum")
        val per = ev.groupBy(col("v"), col("g")).agg(count(lit(1)).as("tg"))
          .join(c, Seq("v"))
          .groupBy(col("g"))
          .agg(sumLong(col("tg")).as("n"),
            sumLong(col("tg") * (lit(2L) * col("cum") - col("t") + lit(1L)))
              .as("r2"))
          .select(col("g"), col("n"), col("r2"),
            lit(null).cast("long").as("tie3"), lit(null).cast("long").as("nn"))
        val ties = c.agg(
            sumLong(col("t") * col("t") * col("t") - col("t")).as("tie3"),
            sumLong(col("t")).as("nn"))
          .select(lit(null).cast("string").as("g"),
            lit(null).cast("long").as("n"), lit(null).cast("long").as("r2"),
            col("tie3"), col("nn"))
        val wide = per.unionByName(ties).agg(
          (types.map(t => max(when(col("g") === t, col("n"))).as(s"n_$t")) ++
            types.map(t => max(when(col("g") === t, col("r2"))).as(s"r2_$t")) ++
            Seq(max(col("tie3")).as("tie3"), max(col("nn")).as("nn"))).head,
          (types.map(t => max(when(col("g") === t, col("n"))).as(s"n_$t")) ++
            types.map(t => max(when(col("g") === t, col("r2"))).as(s"r2_$t")) ++
            Seq(max(col("tie3")).as("tie3"), max(col("nn")).as("nn"))).tail: _*)
        val nd = col("nn").cast("double")
        def term(t: String) =
          (col(s"r2_$t").cast("double") / 2d) *
            (col(s"r2_$t").cast("double") / 2d) / col(s"n_$t")
        val hraw = lit(12.0) / (nd * (col("nn") + 1)) *
          types.map(term).reduce(_ + _) - lit(3) * (col("nn") + 1)
        wide.withColumn("hraw", hraw)
          .select(col("nn").as("n_total"),
            round(col("hraw"), 6).as("h_stat"),
            round(col("hraw") /
              (lit(1.0) - col("tie3").cast("double") / (nd * nd * nd - col("nn"))),
              6).as("h_tied"))
      },
      Some("""WITH e AS (SELECT value AS v, event_type AS g FROM events),
             |h AS (SELECT v, COUNT(*) AS t FROM e GROUP BY 1),
             |c AS (SELECT v, t, SUM(t) OVER (ORDER BY v
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM h),
             |gc AS (SELECT v, g, COUNT(*) AS tg FROM e GROUP BY 1, 2),
             |per AS (SELECT g, CAST(SUM(tg) AS BIGINT) AS n,
             |    CAST(SUM(tg * (2*cum - t + 1)) AS BIGINT) AS r2
             |  FROM gc JOIN c USING (v) GROUP BY 1),
             |ties AS (SELECT CAST(SUM(t*t*t - t) AS BIGINT) AS tie3,
             |    CAST(SUM(t) AS BIGINT) AS nn FROM c),
             |u AS (SELECT g, n, r2, CAST(NULL AS BIGINT) AS tie3,
             |    CAST(NULL AS BIGINT) AS nn FROM per
             |  UNION ALL SELECT NULL, NULL, NULL, tie3, nn FROM ties),
             |w AS (SELECT
             |    MAX(CASE WHEN g='click' THEN n END) AS n_click,
             |    MAX(CASE WHEN g='error' THEN n END) AS n_error,
             |    MAX(CASE WHEN g='purchase' THEN n END) AS n_purchase,
             |    MAX(CASE WHEN g='signup' THEN n END) AS n_signup,
             |    MAX(CASE WHEN g='view' THEN n END) AS n_view,
             |    MAX(CASE WHEN g='click' THEN r2 END) AS r2_click,
             |    MAX(CASE WHEN g='error' THEN r2 END) AS r2_error,
             |    MAX(CASE WHEN g='purchase' THEN r2 END) AS r2_purchase,
             |    MAX(CASE WHEN g='signup' THEN r2 END) AS r2_signup,
             |    MAX(CASE WHEN g='view' THEN r2 END) AS r2_view,
             |    MAX(tie3) AS tie3, MAX(nn) AS nn
             |  FROM u),
             |f AS (SELECT nn, tie3,
             |    12.0/(CAST(nn AS DOUBLE)*(nn + 1)) * (
             |      (CAST(r2_click AS DOUBLE)/2)*(CAST(r2_click AS DOUBLE)/2)/n_click +
             |      (CAST(r2_error AS DOUBLE)/2)*(CAST(r2_error AS DOUBLE)/2)/n_error +
             |      (CAST(r2_purchase AS DOUBLE)/2)*(CAST(r2_purchase AS DOUBLE)/2)/n_purchase +
             |      (CAST(r2_signup AS DOUBLE)/2)*(CAST(r2_signup AS DOUBLE)/2)/n_signup +
             |      (CAST(r2_view AS DOUBLE)/2)*(CAST(r2_view AS DOUBLE)/2)/n_view
             |    ) - 3*(nn + 1) AS hraw
             |  FROM w)
             |SELECT nn AS n_total, ROUND(hraw, 6) AS h_stat,
             |  ROUND(hraw / (1.0 - CAST(tie3 AS DOUBLE) /
             |    (CAST(nn AS DOUBLE)*CAST(nn AS DOUBLE)*CAST(nn AS DOUBLE) - nn)),
             |    6) AS h_tied
             |FROM f""".stripMargin)),

    // Brown–Forsythe variance-homogeneity test (Levene with the MEDIAN
    // center — robust to the heavy tails that break plain Levene; the
    // precondition check for a32/a34): per-group medians from the
    // histogram-compressed quantile pass, |x − med| deviations, then a
    // one-way ANOVA F over deviations from ONE conditional-decimal-sum
    // scan. The five group terms fold in EXPLICIT alphabetical order on
    // both engines (a34's rule); both the Spark expressions and the
    // oracle SQL are GENERATED from the same type list so the two
    // expression trees cannot drift.
    Q("a35_brown_forsythe",
      (s, d) => {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        val types = Seq("click", "error", "purchase", "signup", "view")
        val ev = graft.core.Tables.readEvents(s, d)
          .select(col("event_type").as("g"), col("value").as("x"))
        val med = Relational.weightedQuantiles(
            ev.withColumn("w1", lit(1L)), "g", "x", "w1", ps = Seq(0.5))
          .select(col("g"), col("q_0_5").as("med"))
        val z = ev.join(broadcast(med), Seq("g"))
          .withColumn("z", abs(col("x") - col("med")))
        val aggs = Seq(count(lit(1)).as("nt")) ++ types.flatMap { t =>
          val m = col("g") === t
          Seq(countIf(m).cast(DoubleType).as(s"n_$t"),
            graft.functions.SumQ6.sum_q6(when(m, col("z"))).as(s"s1_$t"),
            graft.functions.SumQ6.sum_q6(when(m, col("z") * col("z")))
              .as(s"s2_$t"))
        }
        val wide = z.agg(aggs.head, aggs.tail: _*)
        val zbar = types.map(t => col(s"s1_$t")).reduce(_ + _) / col("nt")
        val ssw = types.map(t =>
          col(s"s2_$t") - col(s"s1_$t") * col(s"s1_$t") / col(s"n_$t"))
          .reduce(_ + _)
        val ssb = types.map { t =>
          val dev = col(s"s1_$t") / col(s"n_$t") - zbar
          col(s"n_$t") * dev * dev
        }.reduce(_ + _)
        wide.select(col("nt").as("n_total"),
          round((ssb / lit(4.0)) / (ssw / (col("nt") - 5)), 6).as("f_stat"))
      },
      Some {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val sums = types.map { t =>
          s"""CAST(SUM(CASE WHEN g='$t' THEN 1 ELSE 0 END) AS DOUBLE) AS n_$t,
             |    CAST(SUM(CAST(CASE WHEN g='$t' THEN z END AS DECIMAL(27,6))) AS DOUBLE) AS s1_$t,
             |    CAST(SUM(CAST(CASE WHEN g='$t' THEN z*z END AS DECIMAL(27,6))) AS DOUBLE) AS s2_$t""".stripMargin
        }.mkString(",\n    ")
        val zbar = types.map(t => s"s1_$t").mkString("(", " + ", ")") + " / nt"
        val ssw = types.map(t => s"(s2_$t - s1_$t*s1_$t/n_$t)")
          .mkString(" + ")
        val ssb = types.map(t =>
          s"n_$t*(s1_$t/n_$t - zb)*(s1_$t/n_$t - zb)").mkString(" + ")
        s"""WITH e AS (SELECT event_type AS g, value AS x FROM events),
           |med AS (SELECT g, QUANTILE_CONT(x, 0.5) AS med FROM e GROUP BY 1),
           |z AS (SELECT e.g, ABS(e.x - m.med) AS z FROM e JOIN med m ON e.g = m.g),
           |s AS (SELECT COUNT(*) AS nt,
           |    $sums
           |  FROM z),
           |zz AS (SELECT *, $zbar AS zb FROM s)
           |SELECT nt AS n_total,
           |  ROUND((($ssb) / 4.0) / (($ssw) / (nt - 5)), 6) AS f_stat
           |FROM zz""".stripMargin
      }),

    // Cramér's V between two CATEGORICAL fields (the association grid's
    // missing cell: a13 covers numeric↔numeric, a16 numeric↔binary,
    // a28 monotone ranks — this is category↔category; dq13 uses the
    // same chi² machinery but answers a different question, drift
    // between two POPULATIONS of one field, not association between two
    // FIELDS). R×C contingency over orders (priority 5 × status 3),
    // DENSIFIED so structural zeros contribute their (0−e)²/e term —
    // the column vocabulary is a bounded collect exploded as literals
    // (a29's grid pattern; a plain cross join is the banned shape on
    // the Spark side). Each chi² cell term is rounded to 9 places and
    // DECIMAL-summed (dq13's order-free trick); V = √(χ²/(N·min(R−1,
    // C−1))) is one double expression over identical sums.
    Q("a36_cramers_v",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val o = T(s, d, "orders")
          .select(col("o_orderpriority").as("p"), col("o_orderstatus").as("c"))
        val cells = o.groupBy(col("p"), col("c")).agg(count(lit(1)).as("nij"))
        val cVals = cells.select(col("c")).distinct()
          .collect().map(_.getString(0)).sorted
        require(cVals.length <= 1024,
          s"a36: column vocabulary ${cVals.length} exceeds the grid cap")
        val grid = cells.select(col("p")).distinct()
          .withColumn("c", explode(array(cVals.map(lit(_)): _*)))
          .join(cells, Seq("p", "c"), "left")
          .na.fill(0L, Seq("nij"))
        val rows = cells.groupBy(col("p")).agg(sum(col("nij")).as("ri"))
        val colsT = cells.groupBy(col("c")).agg(sum(col("nij")).as("cj"))
        val tot = cells.agg(sum(col("nij")).as("n"),
          countDistinct(col("p")).as("r_levels"),
          countDistinct(col("c")).as("c_levels"))
        val e = col("ri").cast("double") * col("cj") / col("n")
        val terms = Relational.attachSingleton(
            grid.join(rows, Seq("p")).join(colsT, Seq("c")), tot)
          .select(col("n"), col("r_levels"), col("c_levels"),
            round((col("nij") - e) * (col("nij") - e) / e, 9)
              .cast(DecimalType(27, 9)).as("term"))
        terms.groupBy(col("n"), col("r_levels"), col("c_levels"))
          .agg(sum(col("term")).cast("double").as("chi2"))
          .select(col("n"), col("r_levels"), col("c_levels"),
            round(col("chi2"), 6).as("chi2"),
            ((col("r_levels") - 1) * (col("c_levels") - 1)).as("df"),
            round(sqrt(col("chi2") /
              (col("n") * least(col("r_levels") - 1, col("c_levels") - 1))), 6)
              .as("cramers_v"))
      },
      Some("""WITH o AS (SELECT o_orderpriority AS p, o_orderstatus AS c
             |  FROM orders),
             |cells AS (SELECT p, c, COUNT(*) AS nij FROM o GROUP BY 1, 2),
             |grid AS (SELECT pr.p, cc.c, COALESCE(cells.nij, 0) AS nij
             |  FROM (SELECT DISTINCT p FROM cells) pr
             |  CROSS JOIN (SELECT DISTINCT c FROM cells) cc
             |  LEFT JOIN cells ON cells.p = pr.p AND cells.c = cc.c),
             |rws AS (SELECT p, SUM(nij) AS ri FROM cells GROUP BY 1),
             |cls AS (SELECT c, SUM(nij) AS cj FROM cells GROUP BY 1),
             |tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n,
             |    COUNT(DISTINCT p) AS r_levels, COUNT(DISTINCT c) AS c_levels
             |  FROM cells),
             |terms AS (SELECT n, r_levels, c_levels,
             |    CAST(ROUND((g.nij - CAST(ri AS DOUBLE) * cj / n)
             |      * (g.nij - CAST(ri AS DOUBLE) * cj / n)
             |      / (CAST(ri AS DOUBLE) * cj / n), 9) AS DECIMAL(27,9))
             |      AS term
             |  FROM grid g JOIN rws ON rws.p = g.p JOIN cls ON cls.c = g.c
             |  CROSS JOIN tot),
             |agg AS (SELECT n, r_levels, c_levels,
             |    CAST(SUM(term) AS DOUBLE) AS chi2
             |  FROM terms GROUP BY 1, 2, 3)
             |SELECT n, r_levels, c_levels, ROUND(chi2, 6) AS chi2,
             |  CAST((r_levels - 1) * (c_levels - 1) AS BIGINT) AS df,
             |  ROUND(SQRT(chi2 / (n * LEAST(r_levels - 1, c_levels - 1))), 6)
             |    AS cramers_v
             |FROM agg""".stripMargin)),

    // Trend BREAK per series family (the changepoint readout t11's
    // CUSUM statistic flags but doesn't size, and a question t21's
    // per-user slope doesn't ask): split the corpus at its time
    // midpoint and fit OLS value-vs-hours on each half in ONE
    // conditional-moment scan — slope_shift = slope_post − slope_pre is
    // the magnitude of the regime change per event_type. The ten
    // half-moments accumulate in DECIMAL(27,6) (t31's quantize pattern;
    // x comes from integer micros by one shared double division, the
    // midpoint from attached integer min/max — all bit-identical
    // cross-engine). Degenerate halves (under 2 points or zero
    // x-variance) are out of contract via the same predicate on both
    // engines. Spark aggregate list and oracle SQL are generated from
    // one `half` template (a35's cannot-drift trick).
    Q("a37_trend_break",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val dec = DecimalType(27, 6)
        val ev = graft.core.Tables.readEvents(s, d)
          .select(col("event_type"), unix_micros(col("ts")).as("tsu"),
            col("value").as("y"))
        val withX = Relational.attachSingleton(ev,
            ev.agg(min(col("tsu")).as("t0"), max(col("tsu")).as("t1")))
          .withColumn("x", (col("tsu") - col("t0")) / lit(3600000000.0))
          .withColumn("pre",
            col("x") < (col("t1") - col("t0")) / lit(3600000000.0) / lit(2.0))
        def half(tag: String, cond: org.apache.spark.sql.Column) = Seq(
          sum(when(cond, 1L).otherwise(0L)).as(s"n_$tag"),
          graft.functions.SumQ6.sum_q6(when(cond, col("x"))).as(s"sx_$tag"),
          graft.functions.SumQ6.sum_q6(when(cond, col("y"))).as(s"sy_$tag"),
          graft.functions.SumQ6.sum_q6(when(cond, col("x") * col("x")))
            .as(s"sxx_$tag"),
          graft.functions.SumQ6.sum_q6(when(cond, col("x") * col("y")))
            .as(s"sxy_$tag"))
        val aggs = half("pre", col("pre")) ++ half("post", !col("pre"))
        val m = withX.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
        def slope(tag: String) =
          (col(s"n_$tag") * col(s"sxy_$tag") -
            col(s"sx_$tag") * col(s"sy_$tag")) /
          (col(s"n_$tag") * col(s"sxx_$tag") -
            col(s"sx_$tag") * col(s"sx_$tag"))
        def varOk(tag: String) = col(s"n_$tag") >= 2 &&
          col(s"n_$tag") * col(s"sxx_$tag") -
            col(s"sx_$tag") * col(s"sx_$tag") > 0
        m.where(varOk("pre") && varOk("post"))
          .select(col("event_type"), col("n_pre"), col("n_post"),
            round(slope("pre"), 6).as("slope_pre"),
            round(slope("post"), 6).as("slope_post"),
            round(slope("post") - slope("pre"), 6).as("slope_shift"))
          .orderBy(col("event_type"))
      },
      Some {
        def half(tag: String, cond: String) =
          s"""CAST(SUM(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS n_$tag,
             |    CAST(SUM(CAST(CASE WHEN $cond THEN x END AS DECIMAL(27,6))) AS DOUBLE) AS sx_$tag,
             |    CAST(SUM(CAST(CASE WHEN $cond THEN y END AS DECIMAL(27,6))) AS DOUBLE) AS sy_$tag,
             |    CAST(SUM(CAST(CASE WHEN $cond THEN x*x END AS DECIMAL(27,6))) AS DOUBLE) AS sxx_$tag,
             |    CAST(SUM(CAST(CASE WHEN $cond THEN x*y END AS DECIMAL(27,6))) AS DOUBLE) AS sxy_$tag""".stripMargin
        def slope(tag: String) =
          s"(n_$tag*sxy_$tag - sx_$tag*sy_$tag) / (n_$tag*sxx_$tag - sx_$tag*sx_$tag)"
        def varOk(tag: String) =
          s"n_$tag >= 2 AND n_$tag*sxx_$tag - sx_$tag*sx_$tag > 0"
        s"""WITH e AS (SELECT event_type, epoch_us(ts) AS tsu, value AS y
           |  FROM events),
           |t0 AS (SELECT MIN(tsu) AS t0, MAX(tsu) AS t1 FROM e),
           |p AS (SELECT event_type, (tsu - t0) / 3600000000.0 AS x, y,
           |    (tsu - t0) / 3600000000.0 < (t1 - t0) / 3600000000.0 / 2.0
           |      AS pre
           |  FROM e CROSS JOIN t0),
           |m AS (SELECT event_type,
           |    ${half("pre", "pre")},
           |    ${half("post", "NOT pre")}
           |  FROM p GROUP BY 1)
           |SELECT event_type, n_pre, n_post,
           |  ROUND(${slope("pre")}, 6) AS slope_pre,
           |  ROUND(${slope("post")}, 6) AS slope_post,
           |  ROUND(${slope("post")} - ${slope("pre")}, 6) AS slope_shift
           |FROM m
           |WHERE ${varOk("pre")} AND ${varOk("post")}
           |ORDER BY 1""".stripMargin
      }),

    // Benjamini–Hochberg FDR control over a family of m = 120 cell
    // tests (the multiple-testing layer every screening query in this
    // family eventually needs: a16/a32/a34 emit per-test statistics;
    // running 120 of them at α=.05 "finds" 6 effects in pure noise —
    // BH caps the expected false-discovery RATE instead). Tests:
    // per (event_type, hour-of-day), is the cell over-represented
    // among its type's events vs uniform 1/24? One-sided normal z on
    // exact integer counts; the p-value is DEFINED BY the classical
    // Abramowitz–Stegun 7.1.26 erfc polynomial (max abs err 1.5e-7 —
    // far below the round-6 contract), spelled out identically on both
    // engines because neither exposes erfc; EXP is the only
    // transcendental (LN/EXP round-6 parity precedent: a27, x47, dq2).
    // Everything is scan-bound: one aggregate to the 120-cell grid,
    // per-row p arithmetic, then the BH step-up (sort p ascending,
    // reject ranks ≤ max{k : p_(k) ≤ kα/m}) on the vocabulary-bounded
    // frame via constant-partition windows (a31/dq19's tiny-frame
    // class — the grid is 5×24 at ANY corpus size; ties broken by
    // (p, event_type, hour) so the permutation is total on both
    // engines). BH needs no driver collect and no per-test resort at
    // scale: m is fixed by the test family, not the data.
    Q("a38_bh_fdr",
      (s, d) => {
        val alpha = 0.05
        // the fixture's hours are uniform (every p ≈ U[0,1]), so a real
        // signal is PLANTED — purchase@hour-3 events are doubled (x21's
        // pattern, replayed by the oracle) — to force the step-up
        // branch to actually reject; without it kstar is NULL and the
        // rejection path would hold vacuously
        val ev0 = graft.core.Tables.readEvents(s, d)
          .select(col("event_type"), col("ts"))
        val planted = ev0.unionByName(ev0.where(
          col("event_type") === "purchase" && hour(col("ts")) === 3))
        val cells = planted
          .groupBy(col("event_type"), hour(col("ts")).as("hr"))
          .agg(count(lit(1)).as("n_obs"))
        val totals = cells.groupBy(col("event_type"))
          .agg(sum(col("n_obs")).as("n_type"))
        val p0 = 1.0 / 24.0
        val withZ = cells.join(totals, Seq("event_type"))
          .withColumn("z",
            (col("n_obs") - col("n_type") * lit(p0)) /
              sqrt(col("n_type") * lit(p0) * lit(1.0 - p0)))
        // erfc(x) for x ≥ 0 via A&S 7.1.26; upper-tail p = erfc(z/√2)/2,
        // reflected for negative z (erfc(−x) = 2 − erfc(x))
        def erfcPos(x: org.apache.spark.sql.Column) = {
          val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
          (((((lit(1.061405429) * t - lit(1.453152027)) * t) + lit(1.421413741)) * t
            - lit(0.284496736)) * t + lit(0.254829592)) * t * exp(-x * x)
        }
        val xa = abs(col("z")) / lit(math.sqrt(2.0))
        // p is a raw-double score feeding a plain-ROUND oracle (and the
        // BH rejection compare below — a repr-tie here flips bh_reject,
        // not just a display digit), so it takes Det.round6Bin, the
        // binary half-up round; p ∈ [0,1] satisfies its non-negative
        // contract. Same rule sign-aware for z below.
        val scored = withZ.withColumn("p",
            Det.round6Bin(when(col("z") >= 0, erfcPos(xa) / 2)
              .otherwise(lit(1.0) - erfcPos(xa) / 2)))
        val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
        val wRank = wAll.orderBy(col("p"), col("event_type"), col("hr"))
        val m = count(lit(1)).over(wAll)
        val ranked = scored
          .withColumn("bh_rank", row_number().over(wRank))
          .withColumn("__ok",
            col("p") <= col("bh_rank") * lit(alpha) / m)
          .withColumn("__kstar",
            max(when(col("__ok"), col("bh_rank"))).over(wAll))
        ranked
          .select(col("event_type"), col("hr"), col("n_obs"),
            Det.round6BinSigned(col("z")).as("z"), col("p"), col("bh_rank"),
            (col("__kstar").isNotNull && col("bh_rank") <= col("__kstar"))
              .as("bh_reject"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type, ts FROM events
             |  UNION ALL
             |  SELECT event_type, ts FROM events
             |  WHERE event_type = 'purchase' AND EXTRACT(hour FROM ts) = 3),
             |c AS (SELECT event_type, EXTRACT(hour FROM ts) AS hr,
             |    COUNT(*) AS n_obs
             |  FROM ev GROUP BY 1, 2),
             |t AS (SELECT event_type, SUM(n_obs) AS n_type FROM c GROUP BY 1),
             |z0 AS (SELECT c.event_type, hr, n_obs,
             |    (n_obs - n_type * (1.0/24)) /
             |      SQRT(n_type * (1.0/24) * (1 - 1.0/24)) AS z
             |  FROM c JOIN t ON c.event_type = t.event_type),
             |e AS (SELECT *, ABS(z) / SQRT(2.0) AS x,
             |    1.0 / (1.0 + 0.3275911 * (ABS(z) / SQRT(2.0))) AS tt
             |  FROM z0),
             |pp AS (SELECT event_type, hr, n_obs, z,
             |    ROUND(CASE WHEN z >= 0
             |      THEN (((((1.061405429*tt - 1.453152027)*tt) + 1.421413741)*tt
             |        - 0.284496736)*tt + 0.254829592)*tt * EXP(-x*x) / 2
             |      ELSE 1.0 - (((((1.061405429*tt - 1.453152027)*tt) + 1.421413741)*tt
             |        - 0.284496736)*tt + 0.254829592)*tt * EXP(-x*x) / 2
             |      END, 6) AS p
             |  FROM e),
             |rk AS (SELECT *,
             |    ROW_NUMBER() OVER (ORDER BY p, event_type, hr) AS bh_rank,
             |    COUNT(*) OVER () AS m
             |  FROM pp),
             |ks AS (SELECT *,
             |    MAX(CASE WHEN p <= CAST(bh_rank AS DOUBLE) * 0.05 / m
             |      THEN bh_rank END) OVER () AS kstar
             |  FROM rk)
             |SELECT event_type, hr, n_obs, ROUND(z, 6) AS z, p, bh_rank,
             |  (kstar IS NOT NULL AND bh_rank <= kstar) AS bh_reject
             |FROM ks ORDER BY 1, 2""".stripMargin)),

    // Cochran–Armitage trend test (the ORDERED-categories member of the
    // association family: a36 measures nominal association, this one
    // tests for a monotone trend in a binary rate across ordered levels
    // — priority 1-URGENT…5-LOW vs the F-status rate). The whole test
    // reduces to FIVE integer row-sums (N, X, Σsᵢ over rows, Σsᵢ² over
    // rows, Σsᵢ·[F]) — integer aggregation is order-free and exact on
    // both engines, so the closed form T = Sx − X·Sn/N,
    // VarT = (X/N)(1−X/N)(Snn − Sn²/N), z = T/√VarT is a deterministic
    // double chain over bit-identical inputs. One scan, map-side
    // combined; no per-level frame at all. z ≠ 0 at the fixture (the
    // priority×status grid is not flat), so the statistic bites.
    Q("a39_cochran_armitage",
      (s, d) => {
        val o = T(s, d, "orders")
          .select(substring(col("o_orderpriority"), 1, 1).cast("long").as("sc"),
            when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("f"))
        val agg = o.agg(count(lit(1)).as("n"), sum(col("f")).as("x"),
          sum(col("sc")).as("sn"), sum(col("sc") * col("sc")).as("snn"),
          sum(col("sc") * col("f")).as("sx"))
        val nD = col("n").cast("double"); val xD = col("x").cast("double")
        val pbar = xD / nD
        val t = col("sx").cast("double") - pbar * col("sn").cast("double")
        val varT = pbar * (lit(1.0) - pbar) *
          (col("snn").cast("double")
            - col("sn").cast("double") * col("sn").cast("double") / nD)
        // t and z are signed raw-double statistics vs a plain-ROUND
        // oracle → sign-aware binary round (the repr-tie rule).
        agg.select(col("n").as("n_total"), col("x").as("n_f"),
            Det.round6BinSigned(t).as("t_stat"),
            Det.round6BinSigned(t / sqrt(varT)).as("z"))
      },
      Some("""WITH r AS (SELECT
             |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS sc,
             |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f
             |  FROM orders),
             |a AS (SELECT COUNT(*) AS n, CAST(SUM(f) AS BIGINT) AS x,
             |    CAST(SUM(sc) AS BIGINT) AS sn, CAST(SUM(sc*sc) AS BIGINT) AS snn,
             |    CAST(SUM(sc*f) AS BIGINT) AS sx
             |  FROM r)
             |SELECT n AS n_total, x AS n_f,
             |  ROUND(CAST(sx AS DOUBLE)
             |    - (CAST(x AS DOUBLE)/CAST(n AS DOUBLE)) * CAST(sn AS DOUBLE), 6)
             |    AS t_stat,
             |  ROUND((CAST(sx AS DOUBLE)
             |    - (CAST(x AS DOUBLE)/CAST(n AS DOUBLE)) * CAST(sn AS DOUBLE))
             |   / SQRT((CAST(x AS DOUBLE)/CAST(n AS DOUBLE))
             |     * (1.0 - CAST(x AS DOUBLE)/CAST(n AS DOUBLE))
             |     * (CAST(snn AS DOUBLE)
             |       - CAST(sn AS DOUBLE)*CAST(sn AS DOUBLE)/CAST(n AS DOUBLE))), 6)
             |    AS z
             |FROM a""".stripMargin))
  )
}
