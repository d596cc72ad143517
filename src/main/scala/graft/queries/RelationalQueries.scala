package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Joins, Layout, Merge, Relational, Sampling, Validation, WideAgg}
import graft.stats.{Auc, Correlations}
import graft.core.Relational.SingletonAttachOps
import graft.io.Generations

/** One declared query per SURVEY.md §2 operator (the driver's correctness
  * surface). Every query returns a DataFrame whose column names match its
  * `oracle` SQL exactly (the driver sorts columns by name and hash-compares
  * values), all floating aggregates go through [[Det]] so the values are
  * bit-deterministic across engines, and every query ends in a fully
  * deterministic ORDER BY (unique tie-break keys).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object RelationalQueries {
  import Det._

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    s.read.parquet(s"$dir/$n.parquet")

  import graft.Session.scratch

  /** An in-query fold into the query's own generation dir (see
    * [[Generations.fold]]). */
  private def fold(s: SparkSession, name: String, seed: DataFrame)(
      steps: Seq[DataFrame => DataFrame]): DataFrame =
    Generations.fold(s, scratch(s, name).toString, seed, steps)

  /** Shared oracle for j1 / j8 / j9: the salted and bloom-pruned joins'
    * contract IS "result equals the plain inner join". */
  private lazy val plainJoinOracleSql: String =
    s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
       |${Det.sumExactSql("o_totalprice")} AS sum_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB oracle for the rank-based exact AUC (mirrors stats.Auc). */
  private def aucSql(from: String, score: String, labelCond: String): String =
    s"""WITH d AS (SELECT ($score) AS s, CASE WHEN $labelCond THEN 1 ELSE 0 END AS y FROM $from),
       |per AS (SELECT s, SUM(y) AS pos, SUM(1-y) AS neg FROM d GROUP BY s),
       |rk AS (SELECT pos, neg, SUM(pos+neg) OVER (ORDER BY s) AS cum FROM per),
       |fin AS (SELECT SUM(pos) AS np, SUM(neg) AS nn,
       |        SUM((cum - (pos+neg-1)/2.0) * pos) AS rs FROM rk)
       |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       |  ROUND((rs - np*(np+1)/2.0) / (np*nn), 6) AS auc FROM fin""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- S: scans / schema ------------------------------------------------
    Q("s1_scan_project",
      (s, d) => T(s, d, "lineitem")
        .where(col("l_quantity") < 3)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_quantity < 3 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("s2_schema_only",
      (s, d) => {
        import s.implicits._
        T(s, d, "lineitem").schema.fieldNames.sorted.toSeq.toDF("col_name")
      },
      Some("""SELECT column_name AS col_name FROM (DESCRIBE SELECT * FROM lineitem)
             |ORDER BY col_name""".stripMargin)),

    Q("s3_full_scan_agg",
      (s, d) => T(s, d, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        sumExact(col("l_extendedprice")).as("sum_price"),
        sumExact(col("l_quantity")).as("sum_qty")),
      Some(s"""SELECT COUNT(*) AS n_rows,
              |${sumExactSql("l_extendedprice")} AS sum_price,
              |${sumExactSql("l_quantity")} AS sum_qty FROM lineitem""".stripMargin)),

    // ---- E: projections / predicates / scalar expressions -----------------
    Q("e1_projection",
      (s, d) => T(s, d, "part").select(col("p_partkey"), col("p_retailprice"))
        .orderBy(col("p_partkey")),
      Some("SELECT p_partkey, p_retailprice FROM part ORDER BY p_partkey")),

    Q("e2_hash_sample",
      (s, d) => Sampling.modSample(T(s, d, "orders"), "o_orderkey", 10).agg(
        count(lit(1)).as("n_rows"),
        sumExact(col("o_totalprice")).as("sum_price")),
      Some(s"""SELECT COUNT(*) AS n_rows, ${sumExactSql("o_totalprice")} AS sum_price
              |FROM orders WHERE o_orderkey % 100 < 10""".stripMargin)),

    Q("e3_cast",
      (s, d) => T(s, d, "lineitem").agg(
        sum(floor(col("l_quantity")).cast("int")).as("qty_sum"),
        sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents_sum")),
      Some("""SELECT CAST(SUM(CAST(FLOOR(l_quantity) AS INTEGER)) AS BIGINT) AS qty_sum,
             |CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum
             |FROM lineitem""".stripMargin)),

    Q("e4_null_fill",
      (s, d) => T(s, d, "lineitem")
        .withColumn("filled", coalesce(expr("nullif(l_tax, 0.0D)"), lit(-1.0)))
        .agg(
          countIf(col("filled") === -1.0).as("n_filled"),
          sumExact(col("filled")).as("sum_filled")),
      Some(s"""SELECT ${countIfSql("COALESCE(NULLIF(l_tax, 0.0), -1.0) = -1.0")} AS n_filled,
              |${sumExactSql("COALESCE(NULLIF(l_tax, 0.0), -1.0)")} AS sum_filled
              |FROM lineitem""".stripMargin)),

    Q("e5_null_predicates",
      (s, d) => T(s, d, "lineitem")
        .withColumn("tax0", expr("nullif(l_tax, 0.0D)"))
        .groupBy(col("l_returnflag"))
        .agg(
          countIf(col("tax0").isNull).as("n_null"),
          countIf(col("tax0").isNotNull).as("n_notnull"))
        .orderBy(col("l_returnflag")),
      Some(s"""SELECT l_returnflag,
              |${countIfSql("NULLIF(l_tax, 0.0) IS NULL")} AS n_null,
              |${countIfSql("NULLIF(l_tax, 0.0) IS NOT NULL")} AS n_notnull
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("e6_horizontal_sum",
      (s, d) => T(s, d, "lineitem").agg(
        sum(WideAgg.horizontalSum(Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")))
          .as("hsum_total"),
        count(lit(1)).as("n_rows")),
      Some("""SELECT CAST(SUM(CAST(l_orderkey AS BIGINT) + CAST(l_partkey AS BIGINT)
             | + CAST(l_suppkey AS BIGINT) + CAST(l_linenumber AS BIGINT)) AS BIGINT) AS hsum_total,
             |COUNT(*) AS n_rows FROM lineitem""".stripMargin)),

    Q("e7_flag",
      (s, d) => T(s, d, "lineitem")
        .withColumn("disc_flag", WideAgg.flag(col("l_discount") > 0.05).cast("int"))
        .groupBy(col("disc_flag")).agg(count(lit(1)).as("n"))
        .orderBy(col("disc_flag")),
      Some("""SELECT CAST(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS INTEGER) AS disc_flag,
             |COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("e8_string_ops",
      (s, d) => T(s, d, "part")
        .withColumn("name_head", split(col("p_name"), " ").getItem(0))
        .where(col("p_type").startsWith("E") || col("p_type").startsWith("P"))
        .groupBy(col("name_head")).agg(count(lit(1)).as("n"))
        .orderBy(col("name_head")),
      Some("""SELECT split_part(p_name, ' ', 1) AS name_head, COUNT(*) AS n FROM part
             |WHERE p_type LIKE 'E%' OR p_type LIKE 'P%'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("e9_abs_guards",
      (s, d) => T(s, d, "lineitem").agg(
        sumExact(abs(col("l_discount") - 0.05)).as("sum_dev"),
        sumExact(greatest(col("l_discount"), lit(1.0) - col("l_discount"))).as("sum_max")),
      Some(s"""SELECT ${sumExactSql("ABS(l_discount - 0.05)")} AS sum_dev,
              |${sumExactSql("GREATEST(l_discount, 1.0 - l_discount)")} AS sum_max
              |FROM lineitem""".stripMargin)),

    Q("e10_dict_diff",
      (s, d) => Relational.unseenValues(
        T(s, d, "part").select(col("p_partkey").as("partkey")),
        T(s, d, "lineitem").where(col("l_quantity") >= 49)
          .select(col("l_partkey").as("partkey")),
        "partkey"),
      Some("""SELECT p_partkey AS partkey FROM part
             |EXCEPT
             |SELECT l_partkey AS partkey FROM lineitem WHERE l_quantity >= 49
             |ORDER BY partkey""".stripMargin)),

    Q("e11_in_list",
      (s, d) => T(s, d, "orders")
        .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority, COUNT(*) AS n FROM orders
             |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("e12_band_histogram",
      (s, d) => T(s, d, "lineitem")
        .withColumn("band", Relational.bandLabel(
          col("l_discount"),
          Seq("a_low" -> 0.02, "b_mid" -> 0.05, "c_high" -> 0.08), "d_top"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), avgExact(col("l_discount")).as("avg_disc"))
        .orderBy(col("band")),
      Some(s"""SELECT CASE WHEN l_discount < 0.02 THEN 'a_low'
              |  WHEN l_discount < 0.05 THEN 'b_mid'
              |  WHEN l_discount < 0.08 THEN 'c_high' ELSE 'd_top' END AS band,
              |COUNT(*) AS n, ${avgExactSql("l_discount")} AS avg_disc
              |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- J: joins ----------------------------------------------------------
    Q("j1_join_inner",
      (s, d) => T(s, d, "orders")
        .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sumExact(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_mktsegment")),
      Some(plainJoinOracleSql)),

    // The skew/pruning join strategies' correctness contract is "equals
    // the plain inner join", so both reuse j1's oracle VERBATIM — the
    // salt / bloom machinery must be invisible in the result.
    Q("j8_salted_join",
      (s, d) => Joins.saltedJoin(
        T(s, d, "orders"),
        T(s, d, "customer").select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sumExact(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_mktsegment")),
      Some(plainJoinOracleSql)),

    Q("j9_bloom_join",
      (s, d) => Joins.bloomPrunedJoin(
        T(s, d, "orders"),
        T(s, d, "customer").select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sumExact(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_mktsegment")),
      Some(plainJoinOracleSql)),

    // One-pass data-quality gate (Deequ-style): five constraints in a
    // SINGLE scan + one referential anti-join, melted to the
    // (check, metric, passed) report — the validation a pipeline runs
    // before accepting a new data drop.
    Q("dq1_constraints",
      (s, d) => {
        val orders = T(s, d, "orders")
        val report = Validation.constraintReport(orders, Seq(
          Validation.completeness("o_custkey"),
          Validation.uniqueness("o_orderkey"),
          Validation.minBound("o_totalprice", 0.0),
          Validation.inDomain("o_orderstatus", Seq("F", "O", "P"))))
        report.unionByName(
          Validation.referentialCheck(orders, T(s, d, "customer"),
            "o_custkey", "c_custkey", "referential_o_custkey"))
          // "check" is a reserved word in DuckDB — expose as check_name
          .select(col("check").as("check_name"),
            round(col("metric"), 6).as("metric"), col("passed"))
          .orderBy(col("check_name"))
      },
      Some("""WITH m AS (SELECT
             |    AVG(CASE WHEN o_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END) AS comp,
             |    CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(o_orderkey) AS uniq,
             |    CAST(MIN(o_totalprice) AS DOUBLE) AS minp,
             |    CAST(SUM(CASE WHEN o_orderstatus IN ('F','O','P')
             |      OR o_orderstatus IS NULL THEN 0 ELSE 1 END) AS DOUBLE) AS dom
             |  FROM orders),
             |r AS (SELECT CAST(COUNT(*) AS DOUBLE) AS orphans
             |  FROM orders ANTI JOIN customer ON o_custkey = c_custkey)
             |SELECT * FROM (
             |  SELECT 'completeness_o_custkey' AS check_name, ROUND(comp, 6) AS metric,
             |    comp >= 1.0 AS passed FROM m
             |  UNION ALL SELECT 'uniqueness_o_orderkey', ROUND(uniq, 6), uniq = 1.0 FROM m
             |  UNION ALL SELECT 'min_o_totalprice', ROUND(minp, 6), minp >= 0.0 FROM m
             |  UNION ALL SELECT 'domain_o_orderstatus', ROUND(dom, 6), dom = 0.0 FROM m
             |  UNION ALL SELECT 'referential_o_custkey', ROUND(orphans, 6), orphans = 0.0 FROM r)
             |ORDER BY check_name""".stripMargin)),

    // Feature-drift gate: Population Stability Index between an even-key
    // "reference" snapshot and an odd-key "current" snapshot of
    // o_totalprice, 10 equal-width bins cut on the REFERENCE min/max,
    // Laplace-smoothed proportions ((n+0.5)/(N+5)) so empty bins stay
    // finite. Two tiny bin-keyed shuffles; the bin spine guarantees all
    // 10 rows. psi_total replicated per row (window sum over 10 rows).
    Q("dq2_drift_psi",
      (s, d) => {
        val orders = T(s, d, "orders")
        Validation.driftPsi(
            orders.where(pmod(col("o_orderkey"), lit(2)) === 0),
            orders.where(pmod(col("o_orderkey"), lit(2)) === 1),
            "o_totalprice", nBins = 10)
          .select(col("bin"), round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"),
            col("n_ref"), col("n_cur"),
            round(col("p_ref"), 6).as("p_ref"), round(col("p_cur"), 6).as("p_cur"),
            round(col("psi_contrib"), 6).as("psi_contrib"),
            round(col("psi_total"), 6).as("psi_total"))
      },
      Some("""WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 0
             |  AND o_totalprice IS NOT NULL AND NOT isnan(CAST(o_totalprice AS DOUBLE))),
             |cur AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 1
             |  AND o_totalprice IS NOT NULL AND NOT isnan(CAST(o_totalprice AS DOUBLE))),
             |s AS (SELECT CAST(MIN(v) AS DOUBLE) AS vmin, CAST(MAX(v) AS DOUBLE) AS vmax FROM ref),
             |rb AS (SELECT LEAST(GREATEST(CAST(FLOOR((v - vmin) / (vmax - vmin) * 10) AS INT), 0), 9) AS bin,
             |    COUNT(*) AS n_ref FROM ref, s WHERE v IS NOT NULL GROUP BY 1),
             |cb AS (SELECT LEAST(GREATEST(CAST(FLOOR((v - vmin) / (vmax - vmin) * 10) AS INT), 0), 9) AS bin,
             |    COUNT(*) AS n_cur FROM cur, s WHERE v IS NOT NULL GROUP BY 1),
             |spine AS (SELECT CAST(r.range AS INT) AS bin, vmin, vmax FROM range(0, 10) r, s),
             |j AS (SELECT bin, vmin, vmax, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
             |  FROM spine LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)),
             |t AS (SELECT *, SUM(n_ref) OVER () AS nr, SUM(n_cur) OVER () AS nc FROM j),
             |p AS (SELECT bin, vmin, vmax, n_ref, n_cur,
             |    (n_ref + 0.5) / (nr + 5.0) AS p_ref, (n_cur + 0.5) / (nc + 5.0) AS q FROM t)
             |SELECT bin,
             |  ROUND(vmin + (vmax - vmin) / 10 * bin, 6) AS lo,
             |  ROUND(vmin + (vmax - vmin) / 10 * (bin + 1), 6) AS hi,
             |  n_ref, n_cur,
             |  ROUND(p_ref, 6) AS p_ref, ROUND(q, 6) AS p_cur,
             |  ROUND((p_ref - q) * LN(p_ref / q), 6) AS psi_contrib,
             |  ROUND(SUM((p_ref - q) * LN(p_ref / q)) OVER (), 6) AS psi_total
             |FROM p ORDER BY bin""".stripMargin)),

    // Robust per-group outlier gate: median/MAD z-scores (50% breakdown
    // point — mean/std would be dragged by the very outliers hunted);
    // outlier ⇔ |x − med| > 3 · 1.4826 · MAD. Two keyed exact-median
    // passes (MAD needs the median first) + broadcast-back joins.
    Q("dq3_outlier_mad",
      (s, d) => Validation.robustOutliers(
          T(s, d, "orders"), "o_orderstatus", "o_totalprice", k = 3.0)
        .select(col("o_orderstatus"), col("n"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
          col("n_outliers"), round(col("outlier_frac"), 6).as("outlier_frac")),
      Some("""WITH m AS (SELECT o_orderstatus AS g, CAST(median(o_totalprice) AS DOUBLE) AS med
             |  FROM orders GROUP BY 1),
             |w AS (SELECT o.o_orderstatus AS g, CAST(o.o_totalprice AS DOUBLE) AS v, m.med
             |  FROM orders o JOIN m ON o.o_orderstatus = m.g),
             |d AS (SELECT g, CAST(median(abs(v - med)) AS DOUBLE) AS mad FROM w GROUP BY 1)
             |SELECT w.g AS o_orderstatus, COUNT(v) AS n,
             |  ROUND(MAX(w.med), 6) AS med, ROUND(MAX(d.mad), 6) AS mad,
             |  CAST(SUM(CASE WHEN abs(v - w.med) > 3 * 1.4826 * GREATEST(d.mad, 1e-9)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |  ROUND(SUM(CASE WHEN abs(v - w.med) > 3 * 1.4826 * GREATEST(d.mad, 1e-9)
             |    THEN 1 ELSE 0 END) * 1.0 / COUNT(v), 6) AS outlier_frac
             |FROM w JOIN d ON w.g = d.g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // k-anonymity release (the privacy gate next to x13's PII scrub):
    // quasi-identifier groups (nation, segment) with n ≥ 15 release
    // as-is (level 0); smaller groups generalize segment → '*' and
    // release if the collapsed nation group reaches 15 (level 1); the
    // remainder is fully suppressed into one ('*','*') accounting row
    // (level 2). At sf0.01 all three levels are exercised.
    Q("dq4_k_anonymity",
      (s, d) => Validation.kAnonymize(
        T(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"), k = 15L),
      Some("""WITH g AS (SELECT CAST(c_nationkey AS VARCHAR) AS c_nationkey, c_mktsegment,
             |    COUNT(*) AS n FROM customer GROUP BY 1, 2),
             |pass AS (SELECT c_nationkey, c_mktsegment, n, 0 AS level FROM g WHERE n >= 15),
             |gen AS (SELECT c_nationkey, '*' AS c_mktsegment, CAST(SUM(n) AS BIGINT) AS n, 1 AS level
             |  FROM g WHERE n < 15 GROUP BY 1),
             |genpass AS (SELECT * FROM gen WHERE n >= 15),
             |supp AS (SELECT '*' AS c_nationkey, '*' AS c_mktsegment,
             |    CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n, 2 AS level
             |  FROM gen WHERE n < 15 HAVING COALESCE(SUM(n), 0) > 0)
             |SELECT c_nationkey, c_mktsegment, n, level
             |FROM (SELECT * FROM pass UNION ALL SELECT * FROM genpass UNION ALL SELECT * FROM supp)
             |ORDER BY level, c_nationkey, c_mktsegment""".stripMargin)),

    // Snapshot reconciliation report (the audit step after a merge/upsert
    // cycle, next to p9/u1 which APPLY changes): two snapshots compare by
    // key in ONE full-outer join — rows only in A (removed), only in B
    // (added), in both with differing payload (changed), identical
    // (same). The "current" snapshot plants deterministic drift: keys
    // %97==0 deleted, %31==0 price-bumped, %89==0 cloned as new ids.
    // Column-wise comparison (no row checksum) keeps the diff
    // engine-portable — double-to-string formatting differs across
    // engines, direct value equality does not.
    Q("dq5_reconcile",
      (s, d) => {
        val a = T(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
            col("o_orderstatus").as("status"))
        val b = a.where(pmod(col("k"), lit(97)) =!= 0)
          .withColumn("price",
            when(pmod(col("k"), lit(31)) === 0, col("price") + 1.0).otherwise(col("price")))
          .unionByName(
            a.where(pmod(col("k"), lit(89)) === 0)
              .select((col("k") + 10000000L).as("k"), col("price"), col("status")))
        a.as("A").join(b.as("B"), col("A.k") === col("B.k"), "full_outer")
          .agg(
            countIf(col("A.k").isNull).as("n_added"),
            countIf(col("B.k").isNull).as("n_removed"),
            countIf(col("A.k").isNotNull && col("B.k").isNotNull &&
              (col("A.price") =!= col("B.price") ||
                col("A.status") =!= col("B.status"))).as("n_changed"),
            countIf(col("A.k").isNotNull && col("B.k").isNotNull &&
              col("A.price") === col("B.price") &&
              col("A.status") === col("B.status")).as("n_same"))
      },
      Some("""WITH a AS (SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
             |  FROM orders),
             |b AS (
             |  SELECT k, CASE WHEN k % 31 = 0 THEN price + 1.0 ELSE price END AS price, status
             |  FROM a WHERE k % 97 <> 0
             |  UNION ALL
             |  SELECT k + 10000000, price, status FROM a WHERE k % 89 = 0)
             |SELECT
             |  CAST(SUM(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
             |  CAST(SUM(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             |  CAST(SUM(CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
             |    AND (a.price <> b.price OR a.status <> b.status) THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             |  CAST(SUM(CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
             |    AND a.price = b.price AND a.status = b.status THEN 1 ELSE 0 END) AS BIGINT) AS n_same
             |FROM a FULL OUTER JOIN b ON a.k = b.k""".stripMargin)),

    // Full outer join: customers with no orders survive on the right side
    // (observable as segments whose customer count exceeds their order
    // count); count/countDistinct skip the null side symmetrically in both
    // engines.
    Q("j10_full_outer",
      (s, d) => T(s, d, "orders").select(col("o_custkey"), col("o_totalprice"))
        .join(T(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"), "full_outer")
        .groupBy(coalesce(col("c_mktsegment"), lit("NO_CUSTOMER")).as("seg"))
        .agg(
          count(col("o_custkey")).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_customers"),
          sumExact(col("o_totalprice")).as("sum_price"))
        .orderBy(col("seg")),
      Some(s"""SELECT COALESCE(c_mktsegment, 'NO_CUSTOMER') AS seg,
              |COUNT(o_custkey) AS n_orders,
              |COUNT(DISTINCT c_custkey) AS n_customers,
              |${sumExactSql("o_totalprice")} AS sum_price
              |FROM orders FULL OUTER JOIN customer ON o_custkey = c_custkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Left-semi join as a first-class query (EXISTS shape): customers with
    // at least one big order, no duplication from multiple matches.
    Q("j11_semi_join",
      (s, d) => T(s, d, "customer")
        .join(
          T(s, d, "orders").where(col("o_totalprice") > 300000).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"), avgExact(col("c_acctbal")).as("avg_bal"))
        .orderBy(col("c_mktsegment")),
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
              |${avgExactSql("c_acctbal")} AS avg_bal
              |FROM customer WHERE EXISTS (
              |  SELECT 1 FROM orders
              |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // INTERSECT (set semantics): customers active in BOTH order statuses.
    // Spark plans intersect as a distinct-aggregated semi join — one
    // shuffle per side on the key, no row explosion.
    Q("j12_intersect",
      (s, d) => {
        val orders = T(s, d, "orders")
        orders.where(col("o_orderstatus") === "F").select(col("o_custkey"))
          .intersect(
            orders.where(col("o_orderstatus") === "O").select(col("o_custkey")))
          .agg(count(lit(1)).as("n_both"),
            min(col("o_custkey")).as("min_key"), max(col("o_custkey")).as("max_key"))
      },
      Some("""WITH both_k AS (
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |  INTERSECT
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
             |SELECT COUNT(*) AS n_both, MIN(o_custkey) AS min_key,
             |  MAX(o_custkey) AS max_key FROM both_k""".stripMargin)),

    // EXCEPT (set difference): customer keys present in orders but absent
    // from the customer dimension would be referential orphans; here the
    // observable difference is segment keys minus high-value keys.
    Q("j13_except",
      (s, d) => {
        val orders = T(s, d, "orders")
        orders.where(col("o_orderstatus") === "P").select(col("o_custkey"))
          .except(
            orders.where(col("o_totalprice") > 250000).select(col("o_custkey")))
          .agg(count(lit(1)).as("n_only"),
            min(col("o_custkey")).as("min_key"), max(col("o_custkey")).as("max_key"))
      },
      Some("""WITH only_k AS (
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
             |  EXCEPT
             |  SELECT o_custkey FROM orders WHERE o_totalprice > 250000)
             |SELECT COUNT(*) AS n_only, MIN(o_custkey) AS min_key,
             |  MAX(o_custkey) AS max_key FROM only_k""".stripMargin)),

    // Range (band) join through the bucket rewrite (Joins.rangeJoinBuckets):
    // orders prices vs 50 OVERLAPPING price bands — an equi join on the
    // bucket id plus a residual filter, never a nested-loop join. The
    // bands are generated identically on both sides (range 0..50).
    Q("rj1_range_join",
      (s, d) => {
        val bands = s.range(0, 50).select(
          col("id").cast("int").as("band_id"),
          (col("id") * 10000.0).as("lo"),
          (col("id") * 10000.0 + 15000.0).as("hi"))
        Joins.rangeJoinBuckets(
          T(s, d, "orders").select(col("o_totalprice")), bands,
          "o_totalprice", "lo", "hi", bucketWidth = 10000.0)
          .groupBy(col("band_id"))
          .agg(count(lit(1)).as("n"), sumExact(col("o_totalprice")).as("sum_price"))
          .orderBy(col("band_id"))
      },
      Some(s"""SELECT CAST(r.range AS INT) AS band_id, COUNT(*) AS n,
              |${sumExactSql("o_totalprice")} AS sum_price
              |FROM range(0, 50) r JOIN orders
              |  ON o_totalprice >= r.range * 10000.0
              | AND o_totalprice < r.range * 10000.0 + 15000.0
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Interval-overlap join through the bucket rewrite
    // (Joins.intervalOverlapJoin): REAL per-order ship spans (min→max
    // ship day over the order's lineitems) against 40 overlapping audit
    // windows — an equi join on the bucket id with a residual overlap
    // predicate and the emit-once bucket guard, never a nested loop.
    // Oracle: the plain theta join in DuckDB.
    Q("rj2_interval_overlap",
      (s, d) => {
        val spans = T(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(
            min(datediff(col("l_shipdate"), lit("1995-01-01"))).as("span_lo"),
            max(datediff(col("l_shipdate"), lit("1995-01-01"))).as("span_hi"))
        val windows = s.range(0, 40).select(
          col("id").cast("int").as("window_id"),
          (col("id") * 60L).as("win_lo"),
          (col("id") * 60L + 45L).as("win_hi"))
        Joins.intervalOverlapJoin(spans, windows,
            "span_lo", "span_hi", "win_lo", "win_hi", bucketWidth = 64.0)
          .groupBy(col("window_id"))
          .agg(count(lit(1)).as("n_orders"),
            min(col("l_orderkey")).as("min_order"),
            max(col("l_orderkey")).as("max_order"))
          .orderBy(col("window_id"))
      },
      Some("""WITH spans AS (
             |  SELECT l_orderkey,
             |    MIN(CAST(l_shipdate AS DATE) - DATE '1995-01-01') AS span_lo,
             |    MAX(CAST(l_shipdate AS DATE) - DATE '1995-01-01') AS span_hi
             |  FROM lineitem GROUP BY 1),
             |w AS (SELECT CAST(r.range AS INT) AS window_id, r.range * 60 AS win_lo,
             |    r.range * 60 + 45 AS win_hi FROM range(0, 40) r)
             |SELECT window_id, COUNT(*) AS n_orders, MIN(l_orderkey) AS min_order,
             |  MAX(l_orderkey) AS max_order
             |FROM spans JOIN w ON span_lo <= win_hi AND win_lo <= span_hi
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Column-profile drift between two snapshots (the STRUCTURAL gate
    // next to dq2's distributional PSI): per-column n/null-frac/exact
    // distinct/decimal-exact mean for an even-key reference vs an
    // odd-key current split, joined side-by-side with deltas. ONE
    // aggregate pass per side (multi-countDistinct Expand) + a
    // column-count-sized join.
    Q("dq6_profile_diff",
      (s, d) => {
        val orders = T(s, d, "orders")
        Validation.profileDiff(
            orders.where(pmod(col("o_orderkey"), lit(2)) === 0),
            orders.where(pmod(col("o_orderkey"), lit(2)) === 1),
            numCols = Seq("o_totalprice", "o_custkey", "o_orderkey"),
            strCols = Seq("o_orderstatus", "o_orderpriority"))
          .select(col("column"), col("n_ref"), col("n_cur"),
            round(col("null_frac_ref"), 6).as("null_frac_ref"),
            round(col("null_frac_cur"), 6).as("null_frac_cur"),
            col("distinct_ref"), col("distinct_cur"),
            round(col("mean_ref"), 6).as("mean_ref"),
            round(col("mean_cur"), 6).as("mean_cur"),
            round(col("mean_shift"), 6).as("mean_shift"))
          .orderBy(col("column"))
      },
      Some {
        val num = Seq("o_totalprice", "o_custkey", "o_orderkey")
        val str = Seq("o_orderstatus", "o_orderpriority")
        def side(from: String) =
          (num.map(c =>
            s"""SELECT '$c' AS col, COUNT($c) AS n, COUNT(*) AS nr,
               |    COUNT(DISTINCT $c) AS nd,
               |    CAST(SUM(CAST($c AS DECIMAL(27,6))) AS DOUBLE) / COUNT($c) AS mean
               |  FROM $from""".stripMargin) ++
           str.map(c =>
            s"""SELECT '$c', COUNT($c), COUNT(*), COUNT(DISTINCT $c),
               |    CAST(NULL AS DOUBLE) FROM $from""".stripMargin))
            .mkString("\n  UNION ALL ")
        s"""WITH ref AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
           |cur AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1),
           |rs AS (${side("ref")}),
           |cs AS (${side("cur")})
           |SELECT rs.col AS "column", rs.n AS n_ref, cs.n AS n_cur,
           |  ROUND(CAST(rs.nr - rs.n AS DOUBLE) / rs.nr, 6) AS null_frac_ref,
           |  ROUND(CAST(cs.nr - cs.n AS DOUBLE) / cs.nr, 6) AS null_frac_cur,
           |  rs.nd AS distinct_ref, cs.nd AS distinct_cur,
           |  ROUND(rs.mean, 6) AS mean_ref, ROUND(cs.mean, 6) AS mean_cur,
           |  ROUND(cs.mean - rs.mean, 6) AS mean_shift
           |FROM rs JOIN cs ON rs.col = cs.col
           |ORDER BY rs.col""".stripMargin
      }),

    // Functional-dependency audit (Validation.functionalDeps): declared
    // determinant→dependent checks — the key-integrity gate before
    // trusting a join key or a supposedly-derived column. o_orderkey is
    // a true key (both FDs hold); the two coarse determinants are
    // genuinely violated on this data, so both verdicts are exercised.
    // One exact groupBy per FD keyed on its determinant; the oracle is
    // the same per-FD aggregate UNION ALL'd.
    Q("dq7_functional_deps",
      (s, d) => Validation.functionalDeps(T(s, d, "orders"), Seq(
          Seq("o_orderkey") -> "o_custkey",
          Seq("o_orderkey") -> "o_orderstatus",
          Seq("o_custkey") -> "o_orderpriority",
          Seq("o_orderpriority", "o_orderstatus") -> "o_orderdate"))
        .orderBy(col("determinant"), col("dependent")),
      Some {
        def fd(det: Seq[String], dep: String) = {
          val g = det.mkString(", ")
          s"""SELECT '${det.mkString(",")}' AS determinant, '$dep' AS dependent,
             |  COUNT(*) AS n_groups,
             |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
             |  CAST(SUM(CASE WHEN nd > 1 THEN nr ELSE 0 END) AS BIGINT) AS n_violating_rows,
             |  MAX(nd) AS max_dependents,
             |  SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
             |FROM (SELECT COUNT(DISTINCT $dep) AS nd, COUNT(*) AS nr
             |  FROM orders GROUP BY $g)""".stripMargin
        }
        Seq(
          fd(Seq("o_orderkey"), "o_custkey"),
          fd(Seq("o_orderkey"), "o_orderstatus"),
          fd(Seq("o_custkey"), "o_orderpriority"),
          fd(Seq("o_orderpriority", "o_orderstatus"), "o_orderdate"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY determinant, dependent")
      }),

    // Referential-integrity audit (Validation.referentialIntegrity):
    // declared child.fk ⊆ parent.pk orphan checks, one FK-keyed left
    // join each against the deduplicated parent key set. Three true FKs
    // hold; the parent→child coverage check ("every order has lines")
    // is genuinely violated on this data (orders without lineitems), so
    // both verdicts are exercised.
    Q("dq8_referential_integrity",
      (s, d) => Validation.referentialIntegrity(Seq(
          ("customer_nation", T(s, d, "customer"), "c_nationkey",
            T(s, d, "nation"), "n_nationkey"),
          ("lineitem_orders", T(s, d, "lineitem"), "l_orderkey",
            T(s, d, "orders"), "o_orderkey"),
          ("orders_customer", T(s, d, "orders"), "o_custkey",
            T(s, d, "customer"), "c_custkey"),
          ("orders_has_lines", T(s, d, "orders"), "o_orderkey",
            T(s, d, "lineitem"), "l_orderkey")))
        .orderBy(col("relationship")),
      Some {
        def ri(name: String, child: String, fk: String, parent: String, pk: String) =
          s"""SELECT '$name' AS relationship, COUNT(*) AS n_child,
             |  CAST(SUM(CASE WHEN p.__pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
             |  CASE WHEN COUNT(*) > 0 THEN
             |    ROUND(CAST(SUM(CASE WHEN p.__pk IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |      / COUNT(*), 6) END AS orphan_frac,
             |  SUM(CASE WHEN p.__pk IS NULL THEN 1 ELSE 0 END) = 0 AS holds
             |FROM (SELECT $fk AS __fk FROM $child WHERE $fk IS NOT NULL) c
             |LEFT JOIN (SELECT DISTINCT $pk AS __pk FROM $parent) p ON c.__fk = p.__pk""".stripMargin
        Seq(
          ri("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
          ri("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          ri("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
          ri("orders_has_lines", "orders", "o_orderkey", "lineitem", "l_orderkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
      }),

    // Join-key skew profile (Validation.skewProfile): the pre-join
    // diagnosis for salting / AQE-skew decisions — per-key counts
    // summarized to max-key share, skew ratio (max/mean), and exact
    // p50/p90/p99 key sizes, over the two keys the repo's own joins
    // shuffle on. Oracle: identical two-level aggregate per key set.
    Q("dq9_skew_profile",
      (s, d) => Validation.skewProfile(T(s, d, "lineitem"), Seq("l_orderkey"))
        .unionByName(Validation.skewProfile(T(s, d, "orders"), Seq("o_custkey")))
        .orderBy(col("key")),
      Some {
        def sp(table: String, key: String) =
          s"""SELECT '$key' AS key,
             |  CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
             |  CAST(MAX(n) AS BIGINT) AS max_key_rows,
             |  ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS max_key_share,
             |  ROUND(CAST(MAX(n) AS DOUBLE) * COUNT(*) / SUM(n), 6) AS skew_ratio,
             |  ROUND(QUANTILE_CONT(n, 0.5), 6) AS p50_key_rows,
             |  ROUND(QUANTILE_CONT(n, 0.9), 6) AS p90_key_rows,
             |  ROUND(QUANTILE_CONT(n, 0.99), 6) AS p99_key_rows
             |FROM (SELECT COUNT(*) AS n FROM $table GROUP BY $key)""".stripMargin
        sp("lineitem", "l_orderkey") + "\nUNION ALL\n" + sp("orders", "o_custkey") +
          "\nORDER BY key"
      }),

    // Incremental aggregate maintenance (Merge.aggPartials/
    // mergeAggState — the materialized-view pattern): per-key algebraic
    // partials built once, persisted, then each delta batch folds in
    // with ONE key-keyed aggregate — the MV update never rescans
    // history. Three batches replayed through the at-rest state; the
    // read-time view (avg derived from partials) must equal a full
    // recompute — which is exactly what the oracle runs.
    Q("u2_incremental_agg",
      (s, d) => {
        val orders = T(s, d, "orders")
        // GENERATION dirs (the MV-replay layout): each fold
        // reads gen i−1 and streams straight into gen i's parquet — no
        // eager block-manager materialization of the state between the
        // fold and its write (the old single-dir overwrite needed one
        // to avoid reading files mid-rewrite; at scale it doubled the
        // state I/O per fold)
        def batch(i: Int) = orders.where(pmod(col("o_orderkey"), lit(3)) === i)
        def partials(i: Int) =
          graft.core.Merge.aggPartials(batch(i), Seq("o_orderstatus"), "o_totalprice")
        // seed state from batch 0, then fold batches 1 and 2 in
        fold(s, "u2_state", partials(0))((1 to 2).map(i => (st: DataFrame) =>
          graft.core.Merge.mergeAggState(st, partials(i), Seq("o_orderstatus"))))
          .select(col("o_orderstatus"), col("cnt").as("n"),
            col("sum").cast("double").as("sum_price"),
            (col("sum").cast("double") / col("cnt")).as("avg_price"),
            col("mn").as("min_price"), col("mx").as("max_price"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""SELECT o_orderstatus, COUNT(o_totalprice) AS n,
              |${sumExactSql("o_totalprice")} AS sum_price,
              |${sumExactSql("o_totalprice")} / COUNT(o_totalprice) AS avg_price,
              |MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
              |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Incremental JOIN maintenance — the third piece of the
    // incremental-compute triad (u2 maintains aggregates, u3 classifies
    // deltas, u4 maintains a JOIN): the at-rest orders⋈customer result
    // is folded forward per delta batch with the standard delta-join
    // identity  Δ(A⋈B) = ΔA⋈B  (B static here — the dimension side;
    // a two-sided delta adds A⋈ΔB ∪ ΔA⋈ΔB, same plan shapes). Each
    // fold joins ONLY the delta against the broadcast dimension —
    // never re-joins the accumulated fact history — then appends.
    // The oracle is the full recompute: maintained ≡ recomputed is
    // exactly the invariant incremental pipelines must hold.
    //
    // BROADCAST BOUND: the `broadcast(cust)` hint is a CHOICE for this
    // fixture's dimension (customer ≪ executor memory), not part of the
    // fold's contract. With a dimension too big to broadcast (a 100 TB
    // entity table), drop the hint — the identical fold runs as a
    // key-keyed sort-merge join of delta against dimension, and if both
    // sides are bucketed on the key (j14's layout machinery) even that
    // exchange disappears. IncrementalJoinSpec proves the non-broadcast
    // path: same results, SortMergeJoin in the plan.
    Q("u4_incremental_join",
      (s, d) => {
        val orders = T(s, d, "orders")
        val cust = T(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val stateDir = scratch(s, "u4_state").toString
        def batch(i: Int) = orders.where(pmod(col("o_orderkey"), lit(3)) === i)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        batch(0).join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .drop("c_custkey")
          .write.mode("overwrite").parquet(stateDir)
        (1 to 2).foreach { i =>
          batch(i).join(broadcast(cust), col("o_custkey") === col("c_custkey"))
            .drop("c_custkey")
            .write.mode("append").parquet(stateDir)
        }
        s.read.parquet(stateDir)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sumLong(col("o_orderkey")).as("key_sum"),
            sumExact(col("o_totalprice")).as("sum_price"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n,
              |${sumLongSql("o_orderkey")} AS key_sum,
              |${sumExactSql("o_totalprice")} AS sum_price
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CDC-style corpus snapshot diff (Merge.snapshotDiff): "today's
    // crawl" derived deterministically from the documents table
    // (ids ≡5 mod 11 dropped, ids ≡3 mod 7 revised, ids ≡1 mod 13
    // re-added under offset keys), then one slim key-keyed full-outer
    // join of md5 fingerprints classifies every key — the decision
    // input for how much of an incremental pipeline must recompute.
    // Payloads never ride the shuffle; id_sum pins the exact member
    // SET per class, not just its size.
    Q("u3_snapshot_diff",
      (s, d) => {
        val docs = T(s, d, "documents")
        val kept = docs.where(pmod(col("doc_id"), lit(11)) =!= 5)
        val cur = kept
          .withColumn("text",
            when(pmod(col("doc_id"), lit(7)) === 3, concat(col("text"), lit(" rev2")))
              .otherwise(col("text")))
          .unionByName(
            docs.where(pmod(col("doc_id"), lit(13)) === 1)
              .withColumn("doc_id", col("doc_id") + lit(10000000L)))
        graft.core.Merge.snapshotDiff(
            docs.withColumn("fp", md5(col("text"))),
            cur.withColumn("fp", md5(col("text"))),
            "doc_id", "fp")
          .groupBy(col("change_type"))
          .agg(count(lit(1)).as("n"), sumLong(col("doc_id")).as("id_sum"))
          .orderBy(col("change_type"))
      },
      Some("""WITH cur AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 3 THEN text || ' rev2' ELSE text END AS text
             |  FROM documents WHERE doc_id % 11 <> 5
             |  UNION ALL
             |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 13 = 1),
             |pf AS (SELECT doc_id, md5(text) AS fp FROM documents),
             |cf AS (SELECT doc_id, md5(text) AS fp FROM cur),
             |df AS (
             |  SELECT COALESCE(pf.doc_id, cf.doc_id) AS doc_id,
             |    CASE WHEN pf.fp IS NULL THEN 'added'
             |      WHEN cf.fp IS NULL THEN 'removed'
             |      WHEN pf.fp = cf.fp THEN 'unchanged'
             |      ELSE 'changed' END AS change_type
             |  FROM pf FULL OUTER JOIN cf ON pf.doc_id = cf.doc_id)
             |SELECT change_type, COUNT(*) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
             |FROM df GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Incremental SCD2 maintenance (Merge.scd2Fold — the dimension-table
    // member of the incremental triad: u2 aggregates, u3 classifies, u4
    // joins, u5 maintains the SLOWLY-CHANGING DIMENSION itself): at-rest
    // compressed history is built from events before a time cutoff,
    // persisted to parquet (the real at-rest shape, like u2's state),
    // then ONE fold absorbs the post-cutoff batch without rescanning
    // history — O(batch + touched keys) work. The oracle recomputes
    // scd2Compressed over ALL events in SQL: fold ≡ recompute is the
    // contract (Scd2FoldSpec pins the row-level boundary cases — run
    // continuation across the split, multi-change batches, new keys).
    // Interval timestamps are pinned via modular sums (epoch_us sums
    // overflow int64 under ANSI; residues mod 1e9+7 pin the multiset).
    Q("u5_scd2_incremental",
      (s, d) => {
        val cutoff = 1705881600000000L // 2024-01-22T00:00:00Z in epoch µs
        val ev = graft.core.Tables.readEvents(s, d).select(
          col("user_id"), unix_micros(col("ts")).as("tsu"),
          col("event_id"), col("event_type"))
        val stateDir = scratch(s, "u5_state").toString
        graft.core.Merge.scd2Compressed(ev.where(col("tsu") < cutoff),
            "user_id", "tsu", "event_id", "event_type")
          .write.mode("overwrite").parquet(stateDir)
        val folded = graft.core.Merge.scd2Fold(s.read.parquet(stateDir),
          ev.where(col("tsu") >= cutoff),
          "user_id", "tsu", "event_id", "event_type")
        val M = lit(1000000007L)
        folded.groupBy(col("attr")).agg(
            count(lit(1)).as("n_intervals"),
            countDistinct(col("user_id")).as("n_keys"),
            sumLong(pmod(col("valid_from_ts"), M)).as("from_us_sum"),
            sumLong(col("valid_from_id")).as("from_id_sum"),
            count(col("valid_to_ts")).as("n_closed"),
            sumLong(coalesce(pmod(col("valid_to_ts"), M), lit(0L))).as("to_us_sum"),
            sumLong(coalesce(col("valid_to_id"), lit(0L))).as("to_id_sum"))
          .orderBy(col("attr"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type FROM events),
             |m AS (SELECT *, LAG(event_type) OVER
             |    (PARTITION BY user_id ORDER BY tsu, event_id) AS p FROM e),
             |c AS (SELECT user_id, event_type, tsu, event_id FROM m
             |  WHERE p IS NULL OR p <> event_type),
             |f AS (SELECT user_id, event_type AS attr,
             |    tsu AS vf_ts, event_id AS vf_id,
             |    LEAD(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS vt_ts,
             |    LEAD(event_id) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS vt_id
             |  FROM c)
             |SELECT attr, COUNT(*) AS n_intervals,
             |  COUNT(DISTINCT user_id) AS n_keys,
             |  CAST(SUM(vf_ts % 1000000007) AS BIGINT) AS from_us_sum,
             |  CAST(SUM(vf_id) AS BIGINT) AS from_id_sum,
             |  COUNT(vt_ts) AS n_closed,
             |  CAST(COALESCE(SUM(vt_ts % 1000000007), 0) AS BIGINT) AS to_us_sum,
             |  CAST(COALESCE(SUM(vt_id), 0) AS BIGINT) AS to_id_sum
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact COUNT(DISTINCT) materialized-view maintenance
    // (Merge.firstSeenNew — the distinct member of the incremental
    // triad: u2 sums, u4 joins, u5 dimensions, u6 distinct sets).
    // Exact distinct is the one aggregate streaming engines cannot
    // maintain natively (its state IS the key set), so the at-rest
    // state here is exactly that key set: distinct (event_type,
    // user_id) pairs in parquet, appended-to only — each batch
    // contributes batch-distinct → anti-join → new pairs, never a
    // rewrite of history. Read-time view = count per type over the
    // state. Oracle = one-shot COUNT(DISTINCT): fold ≡ recompute is
    // the contract (FirstSeenFoldSpec pins it over random splits);
    // user_id_sum pins the member SET, not just its size. The approx
    // twin that drops the O(distinct) state is h6's mergeable HLL.
    Q("u6_incremental_distinct",
      (s, d) => {
        val ev = graft.core.Tables.readEvents(s, d)
        val stateDir = scratch(s, "u6_state").toString
        def batch(i: Int) = ev.where(pmod(col("event_id"), lit(3)) === i)
          .select(col("event_type"), col("user_id"))
        batch(0).distinct().write.mode("overwrite").parquet(stateDir)
        (1 to 2).foreach { i =>
          // materialize the new rows BEFORE the append touches the dir
          // the anti-join is still lazily reading from
          val fresh = graft.core.Merge.firstSeenNew(
            s.read.parquet(stateDir), batch(i),
            Seq("event_type", "user_id")).localCheckpoint(true)
          fresh.write.mode("append").parquet(stateDir)
        }
        s.read.parquet(stateDir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_distinct_users"),
            sumLong(col("user_id")).as("user_id_sum"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users,
             |CAST(SUM(DISTINCT user_id) AS BIGINT) AS user_id_sum
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Bounded TOP-K maintenance (Merge.topKFold — the leaderboard MV):
    // the at-rest state is the current top-5 orders by price per
    // priority (k·groups rows, bounded forever); each delta batch folds
    // in with one group-keyed WindowGroupLimit pass over state ∪ batch —
    // history below the cut is never revisited. Top-k under the total
    // order (price DESC, orderkey ASC tie-break) is a commutative fold,
    // so the state equals the one-shot window recompute the oracle runs
    // regardless of batch boundaries (TopKFoldSpec property-tests random
    // splits AND shuffled batch order).
    Q("u7_incremental_topk",
      (s, d) => {
        val k = 5
        val orders = T(s, d, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        val ord = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
        // generation dirs, fold streams straight to parquet (see u2)
        def batch(i: Int) = orders.where(pmod(col("o_orderkey"), lit(3)) === i)
        def topK(st: DataFrame, i: Int) =
          graft.core.Merge.topKFold(st, batch(i), Seq("o_orderpriority"), ord, k)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        fold(s, "u7_state", topK(orders.limit(0), 0))(
            (1 to 2).map(i => (st: DataFrame) => topK(st, i)))
          .withColumn("rk", row_number().over(w))
          .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
            col("o_totalprice"))
          .orderBy(col("o_orderpriority"), col("rk"))
      },
      Some("""SELECT * FROM (
             |  SELECT o_orderpriority,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk,
             |    o_orderkey, o_totalprice
             |  FROM orders)
             |WHERE rk <= 5 ORDER BY o_orderpriority, rk""".stripMargin)),

    // Interval-integrity audit (the SCD2/validity-table data-quality
    // gate dq8 is to foreign keys: does the dimension's interval chain
    // actually tile time?). Intervals derive from events per t9's lead
    // chain, then three corruption classes are PLANTED deterministically
    // (event_id residues mod 17: +1s overlap into the successor, −1s
    // clamped gap, zero-length collapse) so the audit must FIRE with
    // closed-form counts — both engines replay the same corruption.
    // Classes are disjoint (zero-length excluded from gaps; the clamp
    // makes sub-1s-gap %17=3 rows zero-length, not gaps) and the check
    // is adjacent-pair based: ONE user-keyed window shuffle, and a
    // key's interval count is its change count — bounded by ingest
    // cadence, never corpus size. bad_id_sum pins WHICH rows violate.
    Q("dq15_interval_audit",
      (s, d) => {
        // event_id tie-break (t22's rule): the corruption class pairs a
        // row's event_id residue with lead(tsu), so two same-timestamp
        // events under a tsu-only order would make the pairing (and the
        // audit counts) tie-order dependent vs the oracle.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
        val iv = graft.core.Tables.readEvents(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"), col("event_id"))
          .withColumn("valid_from", col("tsu"))
          .withColumn("next_from", lead(col("tsu"), 1).over(w))
          .withColumn("valid_to",
            when(col("next_from").isNull, lit(null).cast("long"))
              .when(pmod(col("event_id"), lit(17)) === 2,
                col("next_from") + lit(1000000L))
              .when(pmod(col("event_id"), lit(17)) === 3,
                greatest(col("valid_from"), col("next_from") - lit(1000000L)))
              .when(pmod(col("event_id"), lit(17)) === 5, col("valid_from"))
              .otherwise(col("next_from")))
        val bad = col("valid_to").isNotNull && col("valid_to") =!= col("next_from")
        iv.agg(
          count(lit(1)).as("n_intervals"),
          countIf(col("valid_to").isNull).as("n_open"),
          countIf(col("valid_to") > col("next_from")).as("n_overlaps"),
          countIf(col("valid_to") < col("next_from") &&
            col("valid_to") =!= col("valid_from")).as("n_gaps"),
          countIf(col("valid_to") === col("valid_from")).as("n_zero_len"),
          sumLong(when(bad, col("event_id"))).as("bad_id_sum"))
      },
      Some(s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events),
              |iv AS (SELECT user_id, event_id, tsu AS valid_from,
              |    LEAD(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS next_from
              |  FROM e),
              |c AS (SELECT *, CASE
              |    WHEN next_from IS NULL THEN NULL
              |    WHEN event_id % 17 = 2 THEN next_from + 1000000
              |    WHEN event_id % 17 = 3 THEN GREATEST(valid_from, next_from - 1000000)
              |    WHEN event_id % 17 = 5 THEN valid_from
              |    ELSE next_from END AS valid_to FROM iv)
              |SELECT COUNT(*) AS n_intervals,
              |  ${countIfSql("valid_to IS NULL")} AS n_open,
              |  ${countIfSql("valid_to > next_from")} AS n_overlaps,
              |  ${countIfSql("valid_to < next_from AND valid_to <> valid_from")} AS n_gaps,
              |  ${countIfSql("valid_to = valid_from")} AS n_zero_len,
              |  CAST(SUM(CASE WHEN valid_to IS NOT NULL AND valid_to <> next_from
              |    THEN event_id END) AS BIGINT) AS bad_id_sum
              |FROM c""".stripMargin)),

    // Candidate-key discovery (the uniqueness face of the dq7
    // functional-dependency audit): for each declared candidate column
    // set, one slim groupBy-count pass yields exact cardinality,
    // uniqueness ratio, and an is_key verdict (max group size 1). Each
    // candidate reads ONLY its columns (parquet column pruning) and its
    // counts combine map-side; at 100 TB the first pass is
    // approx_count_distinct to shortlist candidates and only the
    // shortlist pays the exact groupBy — same plan shape, cheaper knob.
    Q("dq16_candidate_keys",
      (s, d) => {
        val orders = T(s, d, "orders")
        def audit(label: String, cols: Seq[String]) =
          orders.groupBy(cols.map(col): _*).agg(count(lit(1)).as("cnt"))
            .agg(count(lit(1)).as("n_distinct"), sumLong(col("cnt")).as("n_rows"),
              max(col("cnt")).as("max_dup"))
            .select(lit(label).as("candidate"), col("n_rows"), col("n_distinct"),
              round(col("n_distinct").cast("double") / col("n_rows"), 6)
                .as("uniqueness"),
              (col("max_dup") === 1).as("is_key"))
        audit("o_orderkey", Seq("o_orderkey"))
          .unionByName(audit("o_custkey", Seq("o_custkey")))
          .unionByName(audit("o_custkey,o_orderdate", Seq("o_custkey", "o_orderdate")))
          .unionByName(audit("o_orderstatus,o_orderpriority",
            Seq("o_orderstatus", "o_orderpriority")))
          .orderBy(col("candidate"))
      },
      Some {
        def one(label: String, group: String) =
          s"""SELECT '$label' AS candidate, n_rows, n_distinct,
             |  ROUND(CAST(n_distinct AS DOUBLE) / n_rows, 6) AS uniqueness,
             |  max_dup = 1 AS is_key
             |FROM (SELECT COUNT(*) AS n_distinct, CAST(SUM(cnt) AS BIGINT) AS n_rows,
             |    MAX(cnt) AS max_dup
             |  FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY $group))""".stripMargin
        Seq(
          one("o_orderkey", "o_orderkey"),
          one("o_custkey", "o_custkey"),
          one("o_custkey,o_orderdate", "o_custkey, o_orderdate"),
          one("o_orderstatus,o_orderpriority", "o_orderstatus, o_orderpriority"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY candidate")
      }),

    // Co-null PATTERN profile (dq1 counts nulls per column; partial
    // backfills and joiner bugs produce CORRELATED nulls — the pattern
    // "value and props null together" is the fingerprint of a failed
    // enrichment stage, invisible in per-column rates). Nulls are
    // PLANTED deterministically (event_id residues mod 7/11/13 nullify
    // value/props/event_type) so the profile has closed-form counts
    // both engines replay, including the co-null patterns at the
    // residue intersections (e.g. id ≡ 1 mod 7 ∧ ≡ 2 mod 11). One
    // map-side-combined groupBy over the 3-bit pattern key (≤8 rows);
    // shares are exact integer ppm — no float division anywhere.
    Q("dq17_null_patterns",
      (s, d) => {
        val ev = graft.core.Tables.readEvents(s, d)
          .select(col("event_id"),
            when(pmod(col("event_id"), lit(7)) === 1, lit(null).cast("double"))
              .otherwise(col("value")).as("value"),
            when(pmod(col("event_id"), lit(11)) === 2, lit(null).cast("string"))
              .otherwise(col("props")).as("props"),
            when(pmod(col("event_id"), lit(13)) === 3, lit(null).cast("string"))
              .otherwise(col("event_type")).as("event_type"))
        val bit = (c: org.apache.spark.sql.Column) =>
          when(c.isNull, lit("0")).otherwise(lit("1"))
        val pat = concat(bit(col("value")), bit(col("props")), bit(col("event_type")))
        ev.groupBy(pat.as("pattern"))
          .agg(count(lit(1)).as("n"))
          // the unpartitioned total-window runs over the ≤8-row grouped
          // frame — the documented safe class
          .withColumn("ppm", expr("CAST(n * 1000000 DIV SUM(n) OVER () AS BIGINT)"))
          .select(col("pattern"), col("n"), col("ppm"))
          .orderBy(col("pattern"))
      },
      Some("""WITH e AS (SELECT
             |    CASE WHEN event_id % 7 = 1 THEN NULL ELSE value END AS value,
             |    CASE WHEN event_id % 11 = 2 THEN NULL ELSE props END AS props,
             |    CASE WHEN event_id % 13 = 3 THEN NULL ELSE event_type END AS et
             |  FROM events),
             |g AS (SELECT
             |    (CASE WHEN value IS NULL THEN '0' ELSE '1' END) ||
             |    (CASE WHEN props IS NULL THEN '0' ELSE '1' END) ||
             |    (CASE WHEN et IS NULL THEN '0' ELSE '1' END) AS pattern,
             |    COUNT(*) AS n
             |  FROM e GROUP BY 1)
             |SELECT pattern, n,
             |  CAST(n * 1000000 // SUM(n) OVER () AS BIGINT) AS ppm
             |FROM g ORDER BY pattern""".stripMargin)),

    // Corrupt-record ingest audit (the PERMISSIVE-parse quarantine
    // every raw-text/CSV landing zone needs: count, isolate, and PIN
    // the malformed rows instead of failing the job or silently
    // dropping them). A CSV is round-tripped with PLANTED type
    // corruption (orderkey ≡ 7 mod 50 writes "xx" where the price
    // belongs), re-read with an explicit schema + columnNameOfCorrupt-
    // Record; PERMISSIVE keeps the fields that DID parse, so the audit
    // pins the corrupt-row KEY SET (corrupt_key_sum), not just its
    // size, and the good-row price mass must survive the string
    // round-trip bit-exactly (shortest-roundtrip double formatting).
    // Map-only besides the final 1-row aggregate.
    Q("p17_corrupt_record_audit",
      (s, d) => {
        val dir = scratch(s, "p17_csv").toString
        T(s, d, "orders").select(concat_ws(",",
            col("o_orderkey"), col("o_orderstatus"),
            when(pmod(col("o_orderkey"), lit(50)) === 7, lit("xx"))
              .otherwise(col("o_totalprice").cast("string"))).as("value"))
          .write.mode("overwrite").text(dir)
        s.read
          .schema("k LONG, st STRING, p DOUBLE, _corrupt_record STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(dir)
          .agg(
            count(lit(1)).as("n_rows"),
            countIf(col("_corrupt_record").isNull).as("n_good"),
            countIf(col("_corrupt_record").isNotNull).as("n_corrupt"),
            sumExact(when(col("_corrupt_record").isNull, col("p")))
              .as("good_price_sum"),
            sumLong(when(col("_corrupt_record").isNotNull, col("k")))
              .as("corrupt_key_sum"))
      },
      Some(s"""SELECT COUNT(*) AS n_rows,
              |  ${countIfSql("o_orderkey % 50 <> 7")} AS n_good,
              |  ${countIfSql("o_orderkey % 50 = 7")} AS n_corrupt,
              |  ${sumExactSql("CASE WHEN o_orderkey % 50 <> 7 THEN o_totalprice END")}
              |    AS good_price_sum,
              |  CAST(SUM(CASE WHEN o_orderkey % 50 = 7 THEN o_orderkey END) AS BIGINT)
              |    AS corrupt_key_sum
              |FROM orders""".stripMargin)),

    // Conflicting-key audit (the "dirty upsert source" gate ahead of
    // u1/p9's MERGE: a changelog claiming key-uniqueness but carrying
    // the SAME key with DIFFERENT payloads makes latest-wins order-
    // dependent). The messy changelog is derived deterministically
    // (original docs ∪ revised twins for doc_id ≡ 3 mod 7 — u3's
    // revision plant), fingerprints are md5 so payloads never ride the
    // shuffle, and ONE key-keyed aggregate classifies every key. The
    // conflict id-sum pins WHICH keys, not just how many.
    Q("dq18_conflicting_keys",
      (s, d) => {
        val docs = T(s, d, "documents")
        val log = docs.select(col("doc_id"), md5(col("text")).as("fp"))
          .unionByName(docs.where(pmod(col("doc_id"), lit(7)) === 3)
            .select(col("doc_id"), md5(concat(col("text"), lit(" rev2"))).as("fp")))
        log.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_rows"), countDistinct(col("fp")).as("n_payloads"))
          .agg(
            count(lit(1)).as("n_keys"),
            countIf(col("n_rows") > 1).as("n_multi_row"),
            countIf(col("n_payloads") > 1).as("n_conflicting"),
            sumLong(when(col("n_payloads") > 1, col("doc_id"))).as("conflict_id_sum"),
            max(col("n_payloads")).as("max_payloads"))
      },
      Some(s"""WITH log AS (
              |  SELECT doc_id, md5(text) AS fp FROM documents
              |  UNION ALL
              |  SELECT doc_id, md5(text || ' rev2') AS fp FROM documents
              |  WHERE doc_id % 7 = 3),
              |k AS (SELECT doc_id, COUNT(*) AS n_rows,
              |    COUNT(DISTINCT fp) AS n_payloads FROM log GROUP BY 1)
              |SELECT COUNT(*) AS n_keys,
              |  ${countIfSql("n_rows > 1")} AS n_multi_row,
              |  ${countIfSql("n_payloads > 1")} AS n_conflicting,
              |  CAST(SUM(CASE WHEN n_payloads > 1 THEN doc_id END) AS BIGINT)
              |    AS conflict_id_sum,
              |  MAX(n_payloads) AS max_payloads
              |FROM k""".stripMargin)),

    // INCREMENTAL layout maintenance (p13 compacts a whole table; the
    // production background job touches ONLY the delta partition —
    // rewriting a 100 TB base to absorb a 0.1% delta is the anti-
    // pattern): base lands range-sorted once, small delta files land
    // beside it, maintenance compacts the DELTA DIRECTORY alone and the
    // base's files are verifiably untouched (file-count equality on the
    // base manifest — metadata only). The read-back union must carry
    // the full corpus (count + id-sum pins), which is what the oracle
    // recomputes.
    Q("p18_incremental_compaction",
      (s, d) => {
        val docs = T(s, d, "documents")
        val base = scratch(s, "p18_base").toString
        val delta = scratch(s, "p18_delta").toString
        val compacted = scratch(s, "p18_compacted").toString
        docs.where(pmod(col("doc_id"), lit(5)) =!= 4)
          .repartitionByRange(8, col("doc_id"))
          .write.mode("overwrite").parquet(base)
        docs.where(pmod(col("doc_id"), lit(5)) === 4)
          .repartition(16)
          .write.mode("overwrite").parquet(delta)
        def nFiles(p: String) =
          new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
        val baseBefore = nFiles(base)
        val (deltaBefore, deltaAfter) = graft.io.Sinks.compactParquet(
          s, delta, compacted, targetBytes = 8L * 1024 * 1024)
        val merged = s.read.parquet(base)
          .unionByName(s.read.parquet(compacted))
        merged.agg(
          count(lit(1)).as("n_docs"),
          sumLong(col("doc_id")).as("sum_ids"),
          lit(deltaBefore.toLong).as("delta_files_before"),
          lit(deltaBefore > deltaAfter).as("delta_compacted"),
          lit(nFiles(base) == baseBefore).as("base_untouched"))
      },
      Some("""SELECT COUNT(*) AS n_docs,
             |CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
             |CAST(16 AS BIGINT) AS delta_files_before,
             |TRUE AS delta_compacted, TRUE AS base_untouched
             |FROM documents""".stripMargin)),

    // Incremental CORRELATION maintenance (the second-order member of
    // the incremental triad — u2 keeps first-order partials, this one
    // keeps co-moments: cnt + Σx Σy Σx² Σy² Σxy per key, all exact
    // DECIMAL so the fold equals a one-shot build EXACTLY, not
    // approximately). Three batches fold through Merge.mergeCorrState
    // into at-rest parquet; the read-time Pearson r derives from six
    // bit-identical doubles — which is exactly what the oracle computes
    // from scratch. O(batch + touched keys) per fold, never O(history).
    Q("u9_incremental_corr",
      (s, d) => {
        val li = T(s, d, "lineitem")
        // generation dirs, fold streams straight to parquet (see u2)
        def batch(i: Int) = li.where(pmod(col("l_orderkey"), lit(3)) === i)
        def partials(i: Int) = graft.core.Merge.corrPartials(batch(i),
          Seq("l_returnflag"), "l_extendedprice", "l_discount")
        val st = fold(s, "u9_state", partials(0))((1 to 2).map(i => (prev: DataFrame) =>
          graft.core.Merge.mergeCorrState(prev, partials(i), Seq("l_returnflag"))))
        val nD = col("cnt").cast("double")
        def dd(c: String) = col(c).cast("double")
        st.select(col("l_returnflag"), col("cnt").as("n"),
            round(dd("sx") / nD, 6).as("mean_x"),
            round(dd("sy") / nD, 6).as("mean_y"),
            round((nD * dd("sxy") - dd("sx") * dd("sy")) /
              sqrt((nD * dd("sxx") - dd("sx") * dd("sx")) *
                (nD * dd("syy") - dd("sy") * dd("sy"))), 6).as("corr"))
          .orderBy(col("l_returnflag"))
      },
      Some {
        def m(e: String) = s"CAST(SUM(CAST(($e) AS DECIMAL(27,6))) AS DOUBLE)"
        s"""WITH s AS (SELECT l_returnflag, COUNT(*) AS cnt,
           |  ${m("l_extendedprice")} AS sx, ${m("l_discount")} AS sy,
           |  ${m("l_extendedprice*l_extendedprice")} AS sxx,
           |  ${m("l_discount*l_discount")} AS syy,
           |  ${m("l_extendedprice*l_discount")} AS sxy
           |FROM lineitem GROUP BY 1)
           |SELECT l_returnflag, cnt AS n,
           |  ROUND(sx / cnt, 6) AS mean_x,
           |  ROUND(sy / cnt, 6) AS mean_y,
           |  ROUND((cnt * sxy - sx * sy) /
           |    SQRT((cnt * sxx - sx * sx) * (cnt * syy - sy * sy)), 6) AS corr
           |FROM s ORDER BY l_returnflag""".stripMargin
      }),

    // Star-schema join chain (the TPC-H Q5 shape: one fact chain +
    // three dimension hops — lineitem⋈orders shuffles on the fact key,
    // then customer/nation/region CASCADE as broadcasts so the big side
    // never re-shuffles after the first exchange). Revenue =
    // extendedprice·(1−discount), exact-decimal summed. BROADCAST
    // BOUND: customer is a hint for THIS fixture — at a 100 TB customer
    // dimension drop the hint (sort-merge on the key) or bucket both
    // sides (j14's layout) and the exchange disappears; nation/region
    // are bounded by geography and broadcast at any corpus size.
    Q("j16_star_join",
      (s, d) => {
        val li = T(s, d, "lineitem").select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        val o = T(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        val c = T(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
        val n = T(s, d, "nation").select(col("n_nationkey"), col("n_regionkey"))
        val r = T(s, d, "region").select(col("r_regionkey"), col("r_name"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"), sumExact(col("rev")).as("revenue"))
          .orderBy(col("r_name"), col("o_orderpriority"))
      },
      Some(s"""SELECT r_name, o_orderpriority, COUNT(*) AS n_items,
              |${sumExactSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON r_regionkey = n_regionkey
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Freshness-lag audit (the SLA gate every multi-feed ingest runs:
    // which feeds have stopped, measured against the freshest feed —
    // an ABSOLUTE now() would make the query nondeterministic and
    // untestable; the relative-to-global-max lag is the replayable
    // form). One per-feed aggregate + a 1-row broadcast of the global
    // max; lag in whole hours (integer division — no float), stale at
    // ≥ 24h. n_last_24h doubles as the volume check a flatlined feed
    // fails first.
    Q("dq19_freshness_lag",
      (s, d) => {
        val ev = graft.core.Tables.readEvents(s, d)
          .select(col("event_type"), unix_micros(col("ts")).as("tsu"))
        val perFeed = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"), max(col("tsu")).as("last_tsu"))
        // global max via a constant-partition window over the k-feed
        // frame (safe class) — a 1-row crossJoin would plan as the
        // banned BroadcastNestedLoopJoin
        perFeed
          .withColumn("gmax", max(col("last_tsu")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(lit(0))))
          .select(col("event_type"), col("n_rows"),
            date_format(timestamp_micros(col("last_tsu")), "yyyy-MM-dd HH:mm:ss")
              .as("last_seen"),
            expr("CAST((gmax - last_tsu) DIV 3600000000 AS BIGINT)").as("lag_hours"),
            (col("gmax") - col("last_tsu") >= 24L * 3600000000L).as("stale"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS tsu FROM events),
             |p AS (SELECT event_type, COUNT(*) AS n_rows, MAX(tsu) AS last_tsu
             |  FROM e GROUP BY 1),
             |g AS (SELECT MAX(last_tsu) AS gmax FROM p)
             |SELECT event_type, n_rows,
             |  STRFTIME(make_timestamp(last_tsu), '%Y-%m-%d %H:%M:%S') AS last_seen,
             |  CAST((gmax - last_tsu) // 3600000000 AS BIGINT) AS lag_hours,
             |  (gmax - last_tsu) >= 86400000000 AS stale
             |FROM p, g ORDER BY event_type""".stripMargin)),

    // Chi-square categorical drift gate (Validation.chiSquareDrift —
    // completes the drift family: dq2 PSI bins numerics, dq11 KS walks
    // continuous CDFs, this one tests the category MIX). Reference =
    // even-user events; current = odd-user events with 60% of 'view'
    // rows planted-removed (event_id % 5 < 3) — a real, closed-form mix
    // shift both engines replay, so the gate must FIRE (Cramér's V over
    // the 0.1 small-effect bar), not just compute. Shuffles carry k=5
    // category rows; the verdict thresholds on V, not the p-value —
    // at corpus scale chi² rejects on irrelevantly tiny shifts.
    Q("dq13_chi2_drift",
      (s, d) => {
        val ev = graft.core.Tables.readEvents(s, d)
        val ref = ev.where(pmod(col("user_id"), lit(2)) === 0)
        val cur = ev.where(pmod(col("user_id"), lit(2)) === 1 &&
          !(col("event_type") === "view" && pmod(col("event_id"), lit(5)) < 3))
        Validation.chiSquareDrift(ref, cur, "event_type", vThreshold = 0.1)
      },
      Some("""WITH cells AS (
             |  SELECT event_type,
             |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS o_ref,
             |    CAST(SUM(CASE WHEN user_id % 2 = 1
             |      AND NOT (event_type = 'view' AND event_id % 5 < 3)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS o_cur
             |  FROM events GROUP BY 1),
             |tot AS (SELECT CAST(SUM(o_ref) AS BIGINT) AS t_ref,
             |    CAST(SUM(o_cur) AS BIGINT) AS t_cur, COUNT(*) AS k FROM cells),
             |e AS (SELECT t_ref, t_cur, k,
             |    CAST(o_ref AS DOUBLE) AS o_r, CAST(o_cur AS DOUBLE) AS o_c,
             |    CAST(o_ref + o_cur AS DOUBLE) * CAST(t_ref AS DOUBLE)
             |      / CAST(t_ref + t_cur AS DOUBLE) AS e_r,
             |    CAST(o_ref + o_cur AS DOUBLE) * CAST(t_cur AS DOUBLE)
             |      / CAST(t_ref + t_cur AS DOUBLE) AS e_c
             |  FROM cells, tot),
             |terms AS (SELECT t_ref, t_cur, k,
             |    CAST(ROUND((o_r - e_r) * (o_r - e_r) / e_r
             |      + (o_c - e_c) * (o_c - e_c) / e_c, 9) AS DECIMAL(27,9)) AS term
             |  FROM e),
             |agg AS (SELECT t_ref AS n_ref, t_cur AS n_cur, k,
             |    CAST(SUM(term) AS DOUBLE) AS chi2 FROM terms GROUP BY 1, 2, 3)
             |SELECT n_ref, n_cur, k, ROUND(chi2, 6) AS chi2,
             |  CAST(k - 1 AS BIGINT) AS df,
             |  ROUND(SQRT(chi2 / (n_ref + n_cur)), 6) AS cramers_v,
             |  SQRT(chi2 / (n_ref + n_cur)) > 0.1 AS drifted
             |FROM agg""".stripMargin)),

    // Cross-field consistency audit (dq1's derived-column sibling: not
    // "is the value in range" but "do related fields AGREE" — the
    // class of corruption partial backfills introduce). Four checks in
    // ONE map-side-combined pass over documents (the exact-distinct
    // uniqueness check shares the same aggregate), unpivoted via stack
    // to one row per check. Null-safe comparisons throughout (a null
    // n_chars IS a violation, not a skipped row).
    Q("dq12_field_consistency",
      (s, d) => {
        val docs = T(s, d, "documents")
        docs.agg(
          count(lit(1)).as("n_rows"),
          countIf(!(col("n_chars") <=> length(col("text")))).as("v_chars"),
          countIf(!coalesce(col("source").startsWith("src"), lit(false))).as("v_src"),
          countIf(!coalesce(col("lang").rlike("^[a-z]{2}$"), lit(false))).as("v_lang"),
          (count(lit(1)) - countDistinct(col("doc_id"))).as("v_dup"))
          .select(expr(
            """stack(4,
              |  'chars_matches_length', v_chars,
              |  'doc_id_unique', v_dup,
              |  'lang_iso2_format', v_lang,
              |  'source_prefix', v_src) AS (check_name, n_violations)""".stripMargin),
            col("n_rows"))
          .select(col("check_name"), col("n_rows"), col("n_violations"),
            round(col("n_violations").cast("double") / col("n_rows"), 6)
              .as("violation_rate"),
            (col("n_violations") === 0).as("passed"))
          .orderBy(col("check_name"))
      },
      Some("""WITH m AS (SELECT COUNT(*) AS n_rows,
             |    CAST(SUM(CASE WHEN n_chars IS DISTINCT FROM LENGTH(text)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS v_chars,
             |    CAST(SUM(CASE WHEN NOT COALESCE(source LIKE 'src%', FALSE)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS v_src,
             |    CAST(SUM(CASE WHEN NOT COALESCE(regexp_matches(lang, '^[a-z]{2}$'), FALSE)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS v_lang,
             |    COUNT(*) - COUNT(DISTINCT doc_id) AS v_dup
             |  FROM documents)
             |SELECT check_name, n_rows, n_violations,
             |  ROUND(CAST(n_violations AS DOUBLE) / n_rows, 6) AS violation_rate,
             |  n_violations = 0 AS passed
             |FROM (
             |  SELECT 'chars_matches_length' AS check_name, n_rows, v_chars AS n_violations FROM m
             |  UNION ALL SELECT 'doc_id_unique', n_rows, v_dup FROM m
             |  UNION ALL SELECT 'lang_iso2_format', n_rows, v_lang FROM m
             |  UNION ALL SELECT 'source_prefix', n_rows, v_src FROM m)
             |ORDER BY check_name""".stripMargin)),

    // Small-file compaction (Sinks.compactParquet): a 64-way fragmented
    // write — the shape per-batch streaming appends leave behind —
    // rewritten to byte-targeted files; the read-back aggregate proves
    // row-level losslessness against the ORIGINAL source (the p2/p6
    // round-trip pattern), and the file accounting proves the
    // compaction actually happened (64 → a handful).
    Q("p13_compaction",
      (s, d) => {
        val small = scratch(s, "compact_small").toString
        val out = scratch(s, "compact_out").toString
        T(s, d, "documents").repartition(64)
          .write.mode("overwrite").parquet(small)
        val (before, after) = graft.io.Sinks.compactParquet(
          s, small, out, targetBytes = 8L * 1024 * 1024)
        s.read.parquet(out).agg(
          count(lit(1)).as("n_docs"),
          sumLong(col("doc_id")).as("sum_ids"),
          sumLong(length(col("text"))).as("sum_chars"),
          lit(before.toLong).as("files_before"),
          lit(before > after).as("compacted_fewer"))
      },
      Some("""SELECT COUNT(*) AS n_docs,
             |CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
             |CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
             |CAST(64 AS BIGINT) AS files_before, TRUE AS compacted_fewer
             |FROM documents""".stripMargin)),

    // Schema-evolution read (the ingest reality p11/p13 ignore: early
    // batches were written BEFORE columns existed): batch 0 lands with
    // a narrow (doc_id, text) schema, batch 1 with the full one, and a
    // mergeSchema read must union the footers — early rows surface the
    // late columns as NULL, aggregates must treat them as such. The
    // oracle recomputes from the base table with the same even/odd
    // routing, so the null-fill semantics are exactly pinned.
    Q("p14_schema_evolution",
      (s, d) => {
        val docs = T(s, d, "documents")
        val dir = scratch(s, "p14_evolved").toString
        docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), col("text"))
          .write.mode("overwrite").parquet(dir)
        docs.where(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
          .write.mode("append").parquet(dir)
        s.read.option("mergeSchema", "true").parquet(dir)
          .agg(count(lit(1)).as("n_rows"),
            countIf(col("source").isNull).as("n_pre_schema"),
            sumLong(coalesce(col("n_chars"), lit(0L))).as("chars_late"),
            sumLong(length(col("text"))).as("chars_all"))
      },
      Some("""SELECT COUNT(*) AS n_rows,
             |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_pre_schema,
             |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT)
             |    AS chars_late,
             |  CAST(SUM(LENGTH(text)) AS BIGINT) AS chars_all
             |FROM documents""".stripMargin)),

    // Data-layout clustering audit (the "should this table be
    // re-sorted / Z-ordered" decision input — at 100 TB, key-disjoint
    // files are what make min/max file skipping work): the same table
    // written range-sorted vs hash-scattered, then per-file (min, max)
    // key envelopes from the read-back, and the MAX STABBING DEPTH of
    // those intervals (how many files a point lookup must open).
    // Range-sorted ⇒ depth 1 (perfect skipping); hash ⇒ every file
    // spans the key range ⇒ depth = file count. The envelope frame is
    // file-count-sized — depth is computed driver-side on ≤8 rows
    // (metadata, not data). Booleans keep the contract robust to the
    // range partitioner's boundary sampling.
    Q("p15_clustering_audit",
      (s, d) => {
        val docs = T(s, d, "documents")
        def audit(layout: String, write: String => Unit): (String, Long, Boolean, Boolean) = {
          val dir = scratch(s, s"p15_$layout").toString
          write(dir)
          val files = s.read.parquet(dir)
            .groupBy(input_file_name().as("f"))
            .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"),
              count(lit(1)).as("n"))
            .collect()
          val nRows = files.map(_.getAs[Long]("n")).sum
          val iv = files.map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
          val depth = iv.map { case (lo, _) =>
            iv.count { case (l2, h2) => l2 <= lo && lo <= h2 }
          }.max
          (layout, nRows, depth == 1, depth == iv.length && iv.length > 1)
        }
        val rows = Seq(
          audit("range_sorted", dir => docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions(col("doc_id"))
            .write.mode("overwrite").parquet(dir)),
          audit("hash_scattered", dir => docs.repartition(8, pmod(col("doc_id"), lit(8)))
            .write.mode("overwrite").parquet(dir)))
        import s.implicits._
        rows.toDF("layout", "n_rows", "clustered", "depth_is_file_count")
          .orderBy(col("layout"))
      },
      Some("""SELECT 'hash_scattered' AS layout, COUNT(*) AS n_rows,
             |  FALSE AS clustered, TRUE AS depth_is_file_count FROM documents
             |UNION ALL
             |SELECT 'range_sorted', COUNT(*), TRUE, FALSE FROM documents
             |ORDER BY layout""".stripMargin)),

    // Schema-drift audit (Validation.schemaDiff — the CONTRACT gate
    // ahead of the data-level dq gates: a column added, dropped, or
    // retyped between snapshots breaks readers before any value
    // drifts). Current snapshot = documents with three planted changes
    // (lang dropped, quality_score added, n_chars widened to double);
    // pure metadata — two schemas in, one row per column out, no data
    // scanned. The oracle knows the planted truth.
    Q("dq14_schema_drift",
      (s, d) => {
        val ref = T(s, d, "documents")
        val cur = ref.drop("lang")
          .withColumn("n_chars", col("n_chars").cast("double"))
          .withColumn("quality_score", lit(0.5))
        Validation.schemaDiff(ref, cur).orderBy(col("col_name"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('doc_id', 'unchanged', 'bigint', 'bigint'),
             |  ('lang', 'removed', 'string', NULL),
             |  ('n_chars', 'type_changed', 'bigint', 'double'),
             |  ('quality_score', 'added', NULL, 'double'),
             |  ('source', 'unchanged', 'string', 'string'),
             |  ('text', 'unchanged', 'string', 'string'))
             |AS t(col_name, change_type, ref_type, cur_type)
             |ORDER BY col_name""".stripMargin)),

    // ROW-GROUP-level pruning audit (p15's file-envelope audit one
    // level deeper — the granularity parquet min/max skipping actually
    // operates at): write the table key-sorted with a small
    // parquet.block.size so every file carries MULTIPLE row groups,
    // re-open the files with the REAL footer API
    // (org.apache.parquet.hadoop.ParquetFileReader — the same stats a
    // scan's predicate pushdown consults, not Spark-side re-aggregation)
    // and evaluate a point-range probe against the per-row-group
    // min/max: how many row groups must be read, and do the stats
    // actually cover the matching rows? The footer walk is driver-side
    // over the file list — METADATA, bounded by file count (at scale
    // this loop maps over the file manifest; the payload never moves).
    // Booleans keep the contract independent of the writer's exact
    // row-group flush points; the row counts are closed-form.
    Q("p16_rowgroup_pruning",
      (s, d) => {
        import scala.jdk.CollectionConverters._
        val docs = T(s, d, "documents")
        val dir = scratch(s, "p16_rowgroups").toString
        docs.repartitionByRange(4, col("doc_id"))
          .sortWithinPartitions(col("doc_id"))
          .write.mode("overwrite")
          // force sub-file row groups even on the small-SF fixture: tiny
          // block budget + frequent size checks (defaults check only
          // every ~100 rows, which can leave one group per file)
          .option("parquet.block.size", 8 * 1024)
          .option("parquet.page.size", 4 * 1024)
          .option("parquet.page.size.row.check.min", 10)
          .parquet(dir)
        val conf = s.sparkContext.hadoopConfiguration
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(conf)
        val rgs = fs.listStatus(root).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .flatMap { st =>
            val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
            try rdr.getFooter.getBlocks.asScala.toSeq.map { b =>
              val c = b.getColumns.asScala
                .find(_.getPath.toDotString == "doc_id")
                .getOrElse(sys.error("doc_id column chunk missing from footer"))
              val stats = c.getStatistics
              (stats.genericGetMin.asInstanceOf[Long],
                stats.genericGetMax.asInstanceOf[Long], b.getRowCount)
            } finally rdr.close()
          }
        // probe: doc_id in [lo, hi] — narrow enough that a sorted layout
        // must skip most row groups
        val (lo, hi) = (100L, 199L)
        val selected = rgs.filter { case (mn, mx, _) => mn <= hi && mx >= lo }
        val nMatch = docs.where(col("doc_id").between(lo, hi)).count()
        val sorted = rgs.sortBy(_._1)
        val disjoint = sorted.zip(sorted.drop(1)).forall { case ((_, mx1, _), (mn2, _, _)) =>
          mx1 < mn2
        }
        import s.implicits._
        Seq((
          rgs.map(_._3).sum,                    // n_rows (footer row counts)
          nMatch,                               // n_match
          rgs.length > 4,                       // multi_rowgroup_files
          disjoint,                             // rowgroups_key_disjoint
          selected.map(_._3).sum >= nMatch,     // stats_cover_matches
          selected.map(_._3).sum < rgs.map(_._3).sum // pruning_effective
        )).toDF("n_rows", "n_match", "multi_rowgroup_files",
          "rowgroups_key_disjoint", "stats_cover_matches", "pruning_effective")
      },
      Some("""SELECT COUNT(*) AS n_rows,
             |  CAST(SUM(CASE WHEN doc_id BETWEEN 100 AND 199 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_match,
             |  TRUE AS multi_rowgroup_files, TRUE AS rowgroups_key_disjoint,
             |  TRUE AS stats_cover_matches, TRUE AS pruning_effective
             |FROM documents""".stripMargin)),

    // Benford first-significant-digit audit (the fraud/synthetic-data
    // forensic gate: organically-grown magnitudes follow
    // P(d) = log10(1+1/d); uniform or fabricated values don't). Digit
    // extraction is pure arithmetic (no double→string formatting, which
    // differs across engines); one map-side-combined 9-group aggregate;
    // the total rides a 9-row window. The fixture's prices are
    // range-uniform, so the verdict SHOULD be non-Benford — the gate
    // fires on real input, not a planted toy.
    Q("dq10_benford",
      (s, d) => {
        val v = col("o_totalprice").cast("double")
        val digit = floor(v / pow(lit(10.0), floor(log10(v)))).cast("int")
        T(s, d, "orders")
          .where(v > 0)
          .groupBy(digit.as("digit"))
          .agg(count(lit(1)).as("n_obs"))
          .withColumn("total",
            sum(col("n_obs")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(lit(0))))
          .select(col("digit"), col("n_obs"),
            round(col("n_obs").cast("double") / col("total"), 6).as("obs_p"),
            round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 6).as("benford_p"))
          .orderBy(col("digit"))
      },
      Some("""WITH b AS (
             |  SELECT CAST(FLOOR(o_totalprice / POWER(10, FLOOR(LOG10(o_totalprice))))
             |      AS INTEGER) AS digit,
             |    COUNT(*) AS n_obs
             |  FROM orders WHERE o_totalprice > 0 GROUP BY 1),
             |t AS (SELECT SUM(n_obs) AS total FROM b)
             |SELECT digit, n_obs,
             |  ROUND(CAST(n_obs AS DOUBLE) / total, 6) AS obs_p,
             |  ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_p
             |FROM b, t ORDER BY digit""".stripMargin)),

    // Two-sample Kolmogorov–Smirnov drift gate (Validation.ksTwoSample):
    // the distribution-SHAPE test dq2's fixed PSI bins can miss. Fully
    // distributed: global rank + group rank over ONE total order make
    // the running CDF counts an identity (rg, r−rg) — no
    // single-partition running-sum window anywhere. Both engines walk
    // the same (value, event_id) order, so every per-row CDF diff is
    // bit-identical, not just the max. Here: click vs purchase values —
    // genuinely different shapes, so the gate FIRES on real data.
    Q("dq11_ks_drift",
      (s, d) => {
        // null/NaN values are excluded — they are not part of either CDF,
        // and the engines disagree on their sort position (Spark NULLS
        // FIRST / NaN greatest vs DuckDB NULLS LAST): measured 0.0312 vs
        // 0.0301 before the filter.
        val ev = graft.core.Tables.readEvents(s, d)
          .where(col("event_type").isin("click", "purchase")
            && col("value").isNotNull && !isnan(col("value").cast("double")))
        Validation.ksTwoSample(ev, "event_type", "value", col("event_id"))
          .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
            round(col("ks_stat"), 6).as("ks_stat"),
            round(col("crit_05"), 6).as("crit_05"),
            col("drifted"))
      },
      Some("""WITH e AS (
             |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v, event_id AS t
             |  FROM events WHERE event_type IN ('click', 'purchase')
             |    AND value IS NOT NULL AND NOT isnan(value)),
             |r AS (
             |  SELECT g,
             |    ROW_NUMBER() OVER (ORDER BY v, t) AS r,
             |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, t) AS rg
             |  FROM e),
             |c AS (SELECT
             |    CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
             |  FROM e),
             |d AS (SELECT
             |    CAST(CASE WHEN g = 'click' THEN rg ELSE r - rg END AS DOUBLE) / n_a
             |    - CAST(CASE WHEN g = 'purchase' THEN rg ELSE r - rg END AS DOUBLE) / n_b
             |      AS diff,
             |    n_a, n_b FROM r, c)
             |SELECT 'click' AS group_a, 'purchase' AS group_b, n_a, n_b,
             |  ROUND(MAX(ABS(diff)), 6) AS ks_stat,
             |  ROUND(1.358 * SQRT(CAST(n_a + n_b AS DOUBLE)
             |    / CAST(n_a * n_b AS DOUBLE)), 6) AS crit_05,
             |  MAX(ABS(diff)) > 1.358 * SQRT(CAST(n_a + n_b AS DOUBLE)
             |    / CAST(n_a * n_b AS DOUBLE)) AS drifted
             |FROM d GROUP BY 1, 2, 3, 4""".stripMargin)),

    // DYNAMIC partition overwrite (partitionOverwriteMode=dynamic): the
    // production incremental-reload pattern — rewrite ONLY the
    // partitions present in the incoming frame, leave the rest on disk
    // untouched (static mode would truncate the whole table). Here the
    // 'O' partition is replaced with a transformed drop (price doubled —
    // an fp-EXACT transform, no rounding hazard) while F/P survive; the
    // read-back aggregate proves both halves. Oracle computes the same
    // merged state from the source table.
    Q("p12_dynamic_partition_overwrite",
      (s, d) => {
        val out = scratch(s, "dyn_overwrite").toString
        val orders = T(s, d, "orders")
        orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
        val key = "spark.sql.sources.partitionOverwriteMode"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "dynamic")
        try
          orders.where(col("o_orderstatus") === "O")
            .withColumn("o_totalprice", col("o_totalprice") * 2)
            .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
        finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
        s.read.parquet(out)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sumExact(col("o_totalprice")).as("sum_price"),
            countDistinct(col("o_orderkey")).as("n_keys"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
              |${sumExactSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2 ELSE o_totalprice END")} AS sum_price,
              |COUNT(DISTINCT o_orderkey) AS n_keys
              |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Hive-partitioned sink round-trip: write orders partitioned by
    // status, re-read with a partition filter (pruning skips the other
    // status directories — locked by SourcesSpec), aggregate. Oracle is
    // the same filter+agg on the UNPARTITIONED table.
    Q("p1_partitioned_sink",
      (s, d) => {
        // session-scoped path + overwrite mode: repeated Verify/Bench
        // invocations within a session reuse one copy, and concurrent
        // sessions on one machine cannot clobber each other's dirs
        val out = scratch(s, "psink_orders").toString
        graft.io.Sinks.writeParquetPartitioned(
          T(s, d, "orders"), out, partitionCols = Seq("o_orderstatus"))
        s.read.parquet(out)
          .where(col("o_orderstatus") === "F")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sumExact(col("o_totalprice")).as("sum_price"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
              |${sumExactSql("o_totalprice")} AS sum_price
              |FROM orders WHERE o_orderstatus = 'F'
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sink round-trip (S4 CSV + S5 JSON as first-class CORRECTNESS
    // entries): aggregate → writeCsv/writeJson → read both back → the
    // result is the re-read data, so any quoting/format drift in the
    // sinks shows up as an oracle mismatch. Doubles survive exactly:
    // writeCsv emits Double.toString (shortest round-trip form) and
    // writeJson the exact BigDecimal expansion — both parse back to the
    // identical bits.
    Q("p2_csv_roundtrip",
      (s, d) => {
        val base = scratch(s, "sink_roundtrip")
        val csvPath = base.resolve("priority.csv").toString
        val jsonPath = base.resolve("summary.json").toString
        val agg = T(s, d, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sumExact(col("o_totalprice")).as("sum_price"))
          .orderBy(col("o_orderpriority"))
        graft.io.Sinks.writeCsv(agg, csvPath)
        val tot = T(s, d, "orders")
          .agg(count(lit(1)).as("n"), sumExact(col("o_totalprice")).as("s")).head
        graft.io.Sinks.writeJson(
          Seq("n_rows" -> tot.getLong(0), "sum_total" -> tot.getDouble(1)), jsonPath)
        val back = s.read.option("header", "true")
          .schema("o_orderpriority STRING, n BIGINT, sum_price DOUBLE")
          .csv(csvPath)
        val js = s.read.option("multiLine", "true")
          .schema("n_rows BIGINT, sum_total DOUBLE")
          .json(jsonPath)
        back.attachSingleton(js) // 1-row scalar attach (BHJ on const key, not BNLJ)
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
              |${sumExactSql("o_totalprice")} AS sum_price,
              |(SELECT COUNT(*) FROM orders) AS n_rows,
              |(SELECT ${sumExactSql("o_totalprice")} FROM orders) AS sum_total
              |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ORC round-trip: the second columnar format (predicate pushdown +
    // column pruning, like parquet, but a different reader/writer stack).
    // Write orders to ORC, read it back, aggregate — the oracle computes
    // the same aggregate on the SOURCE parquet, so a green hash proves the
    // ORC write+read is value-lossless for long/double/string/date cols.
    Q("p6_orc_roundtrip",
      (s, d) => {
        val orcPath = scratch(s, "orc_roundtrip").toString
        T(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate"), col("o_orderpriority"))
          .write.mode("overwrite").orc(orcPath)
        s.read.orc(orcPath)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sumExact(col("o_totalprice")).as("sum_price"),
            max(col("o_orderdate")).as("max_date"),
            countDistinct(col("o_orderpriority")).as("n_prio"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
              |${sumExactSql("o_totalprice")} AS sum_price,
              |MAX(o_orderdate) AS max_date,
              |COUNT(DISTINCT o_orderpriority) AS n_prio
              |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // binaryFile source: the production multimodal ingest path — raw
    // media FILES on a shared filesystem in, (path-derived id, content)
    // out, decoded distributed. Setup materializes the synthetic PNGs
    // FROM THE EXECUTORS (foreachPartition — payloads never collect)
    // through the Hadoop FileSystem API resolved per-scheme on each
    // executor, so the identical code writes file:// here and HDFS/S3/
    // NFS scratch on a cluster (executors resolve the scheme from their
    // own Hadoop conf, the standard executor-side FS idiom). The
    // OPERATOR under test (binaryFile scan + JDK decode) is
    // placement-agnostic. Oracle: mm4's closed form (pixel = x+y, sizes
    // from the id) restricted to the same ids, so
    // decode-after-real-file-IO is value-checked end to end.
    Q("p11_binaryfile_source",
      (s, d) => {
        val dir = scratch(s, "binaryfile_src")
        val dirStr = dir.toString
        graft.llm.Multimodal.fromDocumentsPng(
            T(s, d, "documents").where(col("doc_id") < 50))
          .select(col("media_id"), col("payload"))
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            val base = new org.apache.hadoop.fs.Path(dirStr)
            val fs = base.getFileSystem(new org.apache.hadoop.conf.Configuration())
            fs.mkdirs(base)
            it.foreach { r =>
              val out = fs.create(
                new org.apache.hadoop.fs.Path(base, s"${r.getLong(0)}.png"), true)
              try out.write(r.getAs[Array[Byte]](1)) finally out.close()
            }
          }
        val bin = s.read.format("binaryFile").load(s"$dirStr/*.png")
          .select(
            regexp_extract(col("path"), "(\\d+)\\.png$", 1).cast("long").as("media_id"),
            col("content").as("payload"))
        graft.llm.Multimodal.decodeImages(bin)
          .select(col("media_id"), col("width"), col("height"),
            round(col("mean_lum"), 6).as("mean_lum"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(doc_id % 32 + 4 AS INT) AS width,
             |  CAST(doc_id % 24 + 4 AS INT) AS height,
             |  ROUND(((doc_id % 32 + 4) + (doc_id % 24 + 4) - 2) / 2.0, 6) AS mean_lum
             |FROM documents WHERE doc_id < 50 ORDER BY 1""".stripMargin)),

    // JSON-Lines round-trip: the dominant raw-corpus interchange format
    // in LLM data pipelines (one JSON object per line). Write the
    // documents table as JSONL, read it back with an explicit schema,
    // aggregate — the oracle computes the same on the source parquet, so
    // a green hash proves JSON escaping round-trips the text exactly
    // (min/max text are full binary-collation string comparisons).
    Q("p7_jsonl_roundtrip",
      (s, d) => {
        val path = scratch(s, "jsonl_roundtrip").toString
        T(s, d, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").json(path)
        s.read
          .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
          .json(path)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sumLong(col("n_chars")).as("sum_chars"),
            sumLong(length(col("text"))).as("sum_text_len"),
            countDistinct(col("lang")).as("n_langs"),
            min(col("text")).as("min_text"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("source"))
      },
      Some(s"""SELECT source, COUNT(*) AS n_docs,
              |${sumLongSql("n_chars")} AS sum_chars,
              |${sumLongSql("length(text)")} AS sum_text_len,
              |COUNT(DISTINCT lang) AS n_langs,
              |MIN(text) AS min_text,
              |MAX(doc_id) AS max_id
              |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // S6 markdown-report round-trip: render a small aggregate through the
    // report sink (Sinks.pretty fixed-width block + writeText, the same
    // path EdaPipeline block 16 uses — reference `public_eda_pipeline
    // .py:717-905`), re-read the FILE, parse the table's numbers back,
    // and emit the parsed rows. The oracle computes the aggregate
    // directly, so a green hash proves the report renders every value
    // faithfully (no truncation, no column drift). Floats ride as
    // DECIMAL(27,6) — the report's exact-display convention (pretty's
    // %.6g double path is display-only) — so the parse-back is
    // bit-exact across engines.
    Q("p8_report_roundtrip",
      (s, d) => {
        import s.implicits._
        val mdPath = scratch(s, "report_roundtrip").resolve("report.md")
        val agg = T(s, d, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(27,6)")).as("sum_price"))
          .orderBy(col("o_orderpriority"))
        val report =
          s"""# Orders report
             |
             |## Totals by priority
             |
             |${graft.io.Sinks.pretty(agg, 10)}
             |""".stripMargin
        graft.io.Sinks.writeText(report, mdPath.toString)
        // parse the rendered table back: the block after the "## Totals"
        // header; first line is the header row, data rows are
        // whitespace-separated right-aligned cells
        val lines = java.nio.file.Files.readAllLines(mdPath).toArray.map(_.toString)
        val tableStart = lines.indexWhere(_.startsWith("## Totals")) + 2
        val header = lines(tableStart).trim.split("\\s+")
        require(header.sameElements(Array("o_orderpriority", "n", "sum_price")),
          s"report header drifted: ${header.mkString(",")}")
        // string keys may contain spaces ("4-NOT SPECIFIED"), so take the
        // two numeric cells from the END and rejoin the rest as the key
        val parsed = lines.drop(tableStart + 1).takeWhile(_.trim.nonEmpty).map { ln =>
          val cells = ln.trim.split("\\s+")
          (cells.dropRight(2).mkString(" "),
            cells(cells.length - 2).toLong,
            BigDecimal(cells.last).toDouble)
        }
        parsed.toSeq.toDF("o_orderpriority", "n", "sum_price")
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
              |${sumExactSql("o_totalprice")} AS sum_price
              |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Latest-wins snapshot merge (MERGE INTO / upsert): base = all
    // orders at version 1; the update batch bumps prices on keys %10=0,
    // tombstones keys %100=51, and inserts fresh keys (+10M offset) for
    // %100=7. The oracle replays the same union + keep-latest +
    // tombstone-drop in SQL, row-level over the full merged table —
    // every update applied, every delete suppressed, every untouched
    // row intact. Mechanics + 100-TB notes in [[graft.core.Merge]].
    Q("p9_merge_upsert",
      (s, d) => {
        val o = T(s, d, "orders")
        val base = o.select(col("o_orderkey"), col("o_totalprice"),
          lit(1).as("version"), lit(false).as("deleted"))
        val updates =
          o.where(pmod(col("o_orderkey"), lit(10)) === 0)
            .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("o_totalprice"),
              lit(2).as("version"), lit(false).as("deleted"))
          .unionByName(o.where(pmod(col("o_orderkey"), lit(100)) === 51)
            .select(col("o_orderkey"), col("o_totalprice"),
              lit(2).as("version"), lit(true).as("deleted")))
          .unionByName(o.where(pmod(col("o_orderkey"), lit(100)) === 7)
            .select((col("o_orderkey") + 10000000L).as("o_orderkey"), col("o_totalprice"),
              lit(2).as("version"), lit(false).as("deleted")))
        Merge.latestWins(base, updates, "o_orderkey", "version", Some("deleted"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_totalprice, 1 AS version, FALSE AS deleted, 0 AS side
             |  FROM orders),
             |upd AS (
             |  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
             |    2 AS version, FALSE AS deleted, 1 AS side
             |  FROM orders WHERE o_orderkey % 10 = 0
             |  UNION ALL
             |  SELECT o_orderkey, o_totalprice, 2, TRUE, 1
             |  FROM orders WHERE o_orderkey % 100 = 51
             |  UNION ALL
             |  SELECT o_orderkey + 10000000, o_totalprice, 2, FALSE, 1
             |  FROM orders WHERE o_orderkey % 100 = 7),
             |latest AS (
             |  SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM upd)
             |  QUALIFY row_number() OVER (PARTITION BY o_orderkey
             |    ORDER BY version DESC, side DESC) = 1)
             |SELECT o_orderkey, o_totalprice, version
             |FROM latest WHERE NOT deleted
             |ORDER BY o_orderkey""".stripMargin)),

    // SCD-2 history reconstruction: a three-version synthetic changelog
    // over orders (v1 = every key; v2 = keys %10=0 re-priced; v3 = keys
    // %100=0 re-priced again) rebuilt into validity intervals. The
    // oracle replays the LEAD window row-for-row over the full history:
    // every interval's open/close version and the is_current flag are
    // hash-compared. Mechanics + 100-TB notes in
    // [[graft.core.Merge.scd2FromChangelog]].
    Q("p10_scd2_history",
      (s, d) => {
        val o = T(s, d, "orders")
        val log = o.select(col("o_orderkey"), col("o_totalprice"), lit(1).as("version"))
          .unionByName(o.where(pmod(col("o_orderkey"), lit(10)) === 0)
            .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("o_totalprice"),
              lit(2).as("version")))
          .unionByName(o.where(pmod(col("o_orderkey"), lit(100)) === 0)
            .select(col("o_orderkey"), (col("o_totalprice") * 1.21).as("o_totalprice"),
              lit(3).as("version")))
        Merge.scd2FromChangelog(log, "o_orderkey", "version")
          .select(col("o_orderkey"), col("o_totalprice"), col("valid_from"),
            col("valid_to"), col("is_current"))
          .orderBy(col("o_orderkey"), col("valid_from"))
      },
      Some("""WITH log AS (
             |  SELECT o_orderkey, o_totalprice, 1 AS version FROM orders
             |  UNION ALL
             |  SELECT o_orderkey, o_totalprice * 1.1, 2 FROM orders WHERE o_orderkey % 10 = 0
             |  UNION ALL
             |  SELECT o_orderkey, o_totalprice * 1.21, 3 FROM orders WHERE o_orderkey % 100 = 0)
             |SELECT o_orderkey, o_totalprice, version AS valid_from,
             |  LEAD(version) OVER (PARTITION BY o_orderkey ORDER BY version) AS valid_to,
             |  LEAD(version) OVER (PARTITION BY o_orderkey ORDER BY version) IS NULL AS is_current
             |FROM log
             |ORDER BY o_orderkey, valid_from""".stripMargin)),

    // Bucketed co-located join as a CORRECTNESS entry: both sides written
    // bucketed+sorted on the key (one write-side shuffle each), then
    // joined exchange-free (the zero-Exchange plan itself is locked by
    // JoinsSpec). Contract: result equals the plain inner join — j1's
    // oracle verbatim.
    Q("j14_bucketed_join",
      (s, d) => {
        // session-unique table names: the warehouse dir is shared per
        // cwd, so a fixed name would collide across concurrent sessions
        val sid = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
        Joins.writeBucketed(
          T(s, d, "orders").select(col("o_custkey"), col("o_totalprice")),
          s"graft_q_b_orders_$sid", "o_custkey", buckets = 8)
        Joins.writeBucketed(
          T(s, d, "customer").select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
          s"graft_q_b_customer_$sid", "o_custkey", buckets = 8)
        Joins.bucketedJoin(s, s"graft_q_b_orders_$sid", s"graft_q_b_customer_$sid", "o_custkey")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"), sumExact(col("o_totalprice")).as("sum_price"))
          .orderBy(col("c_mktsegment"))
      },
      Some(plainJoinOracleSql)),

    // Partitioned-input heavy join — the 100-TB read path end-to-end: a
    // directory-partitioned copy is scanned WITH a partition-column
    // predicate (pruning skips the other status directories; the
    // PartitionFilters clause is locked by SourcesSpec) and joined to the
    // broadcast dimension. Oracle = same filter+join on the unpartitioned
    // table.
    Q("p3_partitioned_join",
      (s, d) => {
        val out = scratch(s, "psink_orders_join").toString
        graft.io.Sinks.writeParquetPartitioned(
          T(s, d, "orders"), out, partitionCols = Seq("o_orderstatus"))
        s.read.parquet(out)
          .where(col("o_orderstatus") === "O")
          .join(broadcast(T(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"), "inner")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"), sumExact(col("o_totalprice")).as("sum_price"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
              |${sumExactSql("o_totalprice")} AS sum_price
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |WHERE o_orderstatus = 'O'
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Key-based upsert (MERGE-INTO shape): the update batch (keys %10 in
    // 5..9, prices doubled) replaces matching base rows (%10 < 8) and
    // inserts the new keys (8,9); untouched rows (%10 < 5) pass through.
    // The oracle replays the anti-join + union literally.
    Q("u1_upsert",
      (s, d) => {
        val orders = T(s, d, "orders")
        val base = orders.where(pmod(col("o_orderkey"), lit(10)) < 8)
        val updates = orders.where(pmod(col("o_orderkey"), lit(10)) >= 5)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        Relational.upsert(base, updates, Seq("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sumExact(col("o_totalprice")).as("sum_price"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""WITH up AS (
              |  SELECT * REPLACE (o_totalprice * 2 AS o_totalprice)
              |  FROM orders WHERE o_orderkey % 10 >= 5),
              |base AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
              |merged AS (
              |  SELECT * FROM base WHERE NOT EXISTS (
              |    SELECT 1 FROM up WHERE up.o_orderkey = base.o_orderkey)
              |  UNION ALL SELECT * FROM up)
              |SELECT o_orderstatus, COUNT(*) AS n,
              |${sumExactSql("o_totalprice")} AS sum_price
              |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Schema-evolution read — the long-lived-corpus problem: batch v1 was
    // written before o_orderstatus existed, batch v2 after; a mergeSchema
    // scan reads both with NULLs filling the missing column. The oracle
    // replays the union with a typed NULL.
    Q("p4_schema_evolution",
      (s, d) => {
        val out = scratch(s, "schema_evo").toString
        val orders = T(s, d, "orders")
        orders.where(pmod(col("o_orderkey"), lit(2)) === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$out/v1")
        orders.where(pmod(col("o_orderkey"), lit(2)) === 1)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .write.mode("overwrite").parquet(s"$out/v2")
        s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
          .groupBy(coalesce(col("o_orderstatus"), lit("PRE_SCHEMA")).as("status"))
          .agg(count(lit(1)).as("n"), sumExact(col("o_totalprice")).as("sum_price"))
          .orderBy(col("status"))
      },
      Some(s"""WITH m AS (
              |  SELECT o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
              |  FROM orders WHERE o_orderkey % 2 = 0
              |  UNION ALL
              |  SELECT o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 2 = 1)
              |SELECT COALESCE(o_orderstatus, 'PRE_SCHEMA') AS status, COUNT(*) AS n,
              |${sumExactSql("o_totalprice")} AS sum_price
              |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Z-order (Morton) layout: the write-side clustering for 2-D file
    // skipping (core/Layout.scala). The z-value arithmetic is the whole
    // contract — the oracle recomputes the identical shift/mask/or fold
    // in SQL (zValueSql is generated from the same bit positions, so the
    // two sides cannot drift) and hash-checks per-z-bucket aggregates.
    // The clustering itself (repartitionByRange + sort) is asserted by
    // LayoutSpec: disjoint per-partition z-ranges, tighter (x, y)
    // bounding boxes than a 1-D sort, fewer partitions touched by box
    // queries. Partition-dependent numbers stay OUT of this query:
    // RangePartitioner samples with an rdd-id-derived seed, so exact
    // partition contents are not run-stable — only layout PROPERTIES are.
    Q("p5_zorder",
      (s, d) => {
        val o = T(s, d, "orders")
          .withColumn("x", pmod(col("o_custkey"), lit(256L)))
          .withColumn("y", pmod(datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast("date")).cast("long"), lit(256L)))
        o.withColumn("z", Layout.zValue(col("x"), col("y"), bits = 8))
          .groupBy(shiftright(col("z"), 8).as("z_bucket"))
          .agg(
            count(lit(1)).as("n"),
            min(col("z")).as("z_min"),
            max(col("z")).as("z_max"),
            sumLong(col("o_orderkey")).as("key_sum"))
          .orderBy(col("z_bucket"))
      },
      Some(s"""WITH b AS (
              |  SELECT o_orderkey,
              |    o_custkey % 256 AS x,
              |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 256 AS y
              |  FROM orders),
              |z AS (SELECT o_orderkey, ${Layout.zValueSql("x", "y", 8)} AS z FROM b)
              |SELECT z >> 8 AS z_bucket, COUNT(*) AS n,
              |  MIN(z) AS z_min, MAX(z) AS z_max,
              |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
              |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("j2_join_two",
      (s, d) => Sampling.modSample(T(s, d, "orders"), "o_orderkey", 20)
        .join(T(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"), "inner")
        .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_lines"),
          sumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("c_mktsegment")),
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_lines,
              |${sumExactSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
              |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |WHERE o_orderkey % 100 < 20
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("j3_join_auc_set",
      (s, d) => {
        val joined = Sampling.modSample(T(s, d, "lineitem"), "l_orderkey", 30)
          .join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"), "inner")
        Auc.aucDf(joined, col("o_orderstatus") === "F", floor(col("l_extendedprice") / 1000))
          .select(
            col("n_pos").cast("long").as("n_pos"),
            col("n_neg").cast("long").as("n_neg"),
            round(col("auc"), 6).as("auc"))
      },
      Some(aucSql(
        "lineitem JOIN orders ON l_orderkey = o_orderkey WHERE l_orderkey % 100 < 30",
        "FLOOR(l_extendedprice / 1000)", "o_orderstatus = 'F'"))),

    Q("j4_whale_set",
      (s, d) => Sampling.modSample(T(s, d, "lineitem"), "l_orderkey", 12)
        .join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"), "inner")
        .where(col("l_returnflag") === "R")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sumExact(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderstatus")),
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n, ${sumExactSql("l_quantity")} AS sum_qty
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |WHERE l_orderkey % 100 < 12 AND l_returnflag = 'R'
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("j5_left_broadcast",
      (s, d) => T(s, d, "customer")
        .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"), "left")
        .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"), "left")
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(col("r_name"), col("n_name")),
      Some("""SELECT r_name, n_name, COUNT(*) AS n_cust FROM customer
             |LEFT JOIN nation ON c_nationkey = n_nationkey
             |LEFT JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("j6_union_labeled",
      (s, d) => Relational.unionLabeled(
        T(s, d, "orders").where(col("o_orderstatus") === "F"),
        T(s, d, "orders").where(col("o_orderstatus") === "O"),
        "src")
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n"), sumExact(col("o_totalprice")).as("sum_price"))
        .orderBy(col("src")),
      Some(s"""SELECT src, COUNT(*) AS n, ${sumExactSql("o_totalprice")} AS sum_price FROM (
              |  SELECT CAST(0 AS INTEGER) AS src, o_totalprice FROM orders WHERE o_orderstatus = 'F'
              |  UNION ALL
              |  SELECT CAST(1 AS INTEGER) AS src, o_totalprice FROM orders WHERE o_orderstatus = 'O'
              |) GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("j7_anti_join",
      (s, d) => T(s, d, "customer")
        .join(
          T(s, d, "orders").where(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment, COUNT(*) AS n FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Point-in-time SCD2 enrichment (the lakehouse temporal join t2's
    // plain as-of does NOT express): facts join the dimension version
    // VALID at the fact's timestamp, where validity can EXPIRE — each
    // version lives until min(next version, 2 days), so facts in a
    // coverage gap match a version but land outside its validity
    // (n_expired), unlike an unbounded as-of which would silently
    // enrich them. Dimension versions are signup/error events collapsed
    // to unique (user, tsu); facts are purchases. The Spark side is ONE
    // Joins.asofJoin key-keyed window shuffle (linear, no interval
    // nested loop at any scale) + a validity predicate; the oracle
    // replays it as join + QUALIFY, affordable at fixture scale.
    Q("j17_scd2_point_in_time",
      (s, d) => {
        val ev = graft.core.Tables.readEvents(s, d)
        val byUser = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("tsu"))
        val dim = ev.where(col("event_type").isin("signup", "error"))
          .groupBy(col("user_id"), unix_micros(col("ts")).as("tsu"))
          .agg(max(col("event_id")).as("attr"))
          .withColumn("valid_to",
            least(coalesce(lead(col("tsu"), 1).over(byUser),
              lit(Long.MaxValue)), col("tsu") + lit(172800000000L)))
          .select(col("user_id"), col("tsu"), col("tsu").as("vtsu"),
            col("valid_to"), col("attr"))
        val facts = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
            col("event_id"))
        graft.core.Joins.asofJoin(facts, dim, Seq("user_id"), "tsu",
            Seq("vtsu", "valid_to", "attr"))
          .agg(count(lit(1)).as("n_purchases"),
            countIf(col("vtsu").isNotNull && col("tsu") < col("valid_to"))
              .as("n_valid"),
            countIf(col("vtsu").isNotNull && col("tsu") >= col("valid_to"))
              .as("n_expired"),
            countIf(col("vtsu").isNull).as("n_unversioned"),
            sumLong(when(col("vtsu").isNotNull && col("tsu") < col("valid_to"),
              col("attr"))).as("attr_sum"))
      },
      Some(s"""WITH v0 AS (SELECT user_id, epoch_us(ts) AS vtsu,
              |    MAX(event_id) AS attr
              |  FROM events WHERE event_type IN ('signup','error')
              |  GROUP BY 1, 2),
              |v AS (SELECT user_id, vtsu, attr,
              |    LEAST(COALESCE(LEAD(vtsu) OVER (PARTITION BY user_id
              |        ORDER BY vtsu), 9223372036854775807),
              |      vtsu + 172800000000) AS valid_to
              |  FROM v0),
              |f AS (SELECT user_id, epoch_us(ts) AS ftsu, event_id
              |  FROM events WHERE event_type = 'purchase'),
              |m AS (SELECT f.ftsu, v.vtsu, v.valid_to, v.attr
              |  FROM f LEFT JOIN v
              |    ON f.user_id = v.user_id AND v.vtsu <= f.ftsu
              |  QUALIFY ROW_NUMBER() OVER (PARTITION BY f.user_id, f.ftsu,
              |    f.event_id ORDER BY v.vtsu DESC) = 1)
              |SELECT COUNT(*) AS n_purchases,
              |  ${countIfSql("vtsu IS NOT NULL AND ftsu < valid_to")} AS n_valid,
              |  ${countIfSql("vtsu IS NOT NULL AND ftsu >= valid_to")} AS n_expired,
              |  ${countIfSql("vtsu IS NULL")} AS n_unversioned,
              |  CAST(SUM(CASE WHEN vtsu IS NOT NULL AND ftsu < valid_to
              |    THEN attr END) AS BIGINT) AS attr_sum
              |FROM m""".stripMargin)),

    // l-diversity audit (k-anonymity's sibling — dq4 counts group SIZES,
    // this one counts distinct SENSITIVE values per quasi-identifier
    // group: a k-anonymous group where everyone shares one sensitive
    // value still leaks it). Quasi-id = (nation, segment); sensitive =
    // the account-balance band. Two map-side-combined aggregates; the
    // report is the l-histogram (groups at l = 1 are the disclosure
    // risk).
    Q("dq20_l_diversity",
      (s, d) => T(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(countDistinct(floor(col("c_acctbal") / 500).cast("long")).as("l"))
        .groupBy(col("l")).agg(count(lit(1)).as("n_groups"))
        .orderBy(col("l")),
      Some("""WITH g AS (SELECT c_nationkey, c_mktsegment,
             |    COUNT(DISTINCT CAST(FLOOR(c_acctbal / 500) AS BIGINT)) AS l
             |  FROM customer GROUP BY 1, 2)
             |SELECT l, COUNT(*) AS n_groups FROM g
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Category-DOMAIN drift (dq14 tracks schema drift, dq13 tracks
    // count-distribution drift — this one tracks the VALUE SET itself:
    // which (event_type, props.k) domain values appear each week, and
    // the week-over-week Jaccard of those sets — new/retired domain
    // values move it below 1 even when counts stay stable). Everything
    // after the scan rides the distinct (week, domain) frame (bounded
    // by weeks × domain vocabulary, never rows); the WoW intersection
    // is a dom-keyed equi join on that frame.
    Q("dq21_valueset_drift",
      (s, d) => {
        val kCol = from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))).getField("k")
        // Null-k rows are EXCLUDED on both engines: concat_ws SKIPS null
        // inputs (dom would silently degrade to bare event_type) while
        // the oracle's `||` null-propagates (dom would be NULL) — the
        // only convergent domain semantics is "a domain value requires
        // both parts", enforced by an explicit filter on each side.
        val wkd = graft.core.Tables.readEvents(s, d)
          .where(kCol.isNotNull)
          .select(to_date(date_trunc("week", col("ts"))).as("week"),
            concat_ws(":", col("event_type"), kCol).as("dom"))
          .distinct()
        val sizes = wkd.groupBy(col("week")).agg(count(lit(1)).as("n"))
        val inter = wkd.join(
            wkd.select(col("week").as("bweek"), col("dom")), Seq("dom"))
          .where(col("bweek") === date_add(col("week"), 7))
          .groupBy(col("week")).agg(count(lit(1)).as("n_inter"))
        sizes.select(col("week"), col("n").as("n_cur"))
          .join(sizes.select(col("week").as("nweek"), col("n").as("n_next")),
            date_add(col("week"), 7) === col("nweek"))
          .join(inter, Seq("week"), "left")
          .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
          .select(date_format(col("week"), "yyyy-MM-dd").as("week"),
            col("n_cur"), col("n_next"), col("n_inter"),
            round(col("n_inter").cast("double") /
              (col("n_cur") + col("n_next") - col("n_inter")), 6).as("jaccard"))
          .orderBy(col("week"))
      },
      Some("""WITH wkd AS (SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE)
             |    AS week, event_type || ':' || (props->>'k') AS dom
             |  FROM events WHERE props->>'k' IS NOT NULL),
             |s AS (SELECT week, COUNT(*) AS n FROM wkd GROUP BY 1),
             |i AS (SELECT a.week AS week, COUNT(*) AS n_inter
             |  FROM wkd a JOIN wkd b ON a.dom = b.dom AND b.week = a.week + 7
             |  GROUP BY 1),
             |p AS (SELECT sa.week AS week, sa.n AS n_cur, sb.n AS n_next,
             |    COALESCE(i.n_inter, 0) AS n_inter
             |  FROM s sa JOIN s sb ON sb.week = sa.week + 7
             |  LEFT JOIN i ON i.week = sa.week)
             |SELECT STRFTIME(week, '%Y-%m-%d') AS week, n_cur, n_next, n_inter,
             |  ROUND(CAST(n_inter AS DOUBLE) / (n_cur + n_next - n_inter), 6)
             |    AS jaccard
             |FROM p ORDER BY 1""".stripMargin)),

    // Incremental PSI maintenance (dq2's drift monitor as a maintained
    // MV — the u-family shape applied to the drift gate): bin edges are
    // FROZEN from the reference snapshot (n24's frozen-quantizer rule —
    // re-deriving edges per batch would make folded counts meaningless),
    // each current batch contributes one tiny per-bin count frame, and
    // the at-rest state folds by keyed sum. The PSI read serves from
    // 10 state rows without rescanning history; the oracle recomputes
    // the whole current population in one shot — fold ≡ recompute is
    // the query's contract. The 2-value edge stats are a bounded driver
    // collect (the audited S7 class), NOT a 1-row crossJoin(broadcast)
    // — that shape plans as the banned BroadcastNestedLoopJoin.
    Q("u10_incremental_psi",
      (s, d) => {
        val orders = T(s, d, "orders")
        def pop(c: org.apache.spark.sql.Column) = orders.where(c)
          .select(col("o_totalprice").cast("double").as("v"))
          .where(col("v").isNotNull && !isnan(col("v")))
        val ref = pop(pmod(col("o_orderkey"), lit(2)) === 0)
        val st = ref.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax")).head
        val (vmin, vmax) = (st.getDouble(0), st.getDouble(1))
        def binned(df: DataFrame, cnt: String) = df
          .select((if (vmax == vmin) lit(0)
            else least(greatest(
              floor((col("v") - vmin) / (vmax - vmin) * 10), lit(0)),
              lit(9))).cast("int").as("bin"))
          .groupBy(col("bin")).agg(count(lit(1)).as(cnt))
        // generation dirs, fold streams straight to parquet (see u2);
        // cur population = odd orderkeys, streamed in 3 residue batches
        def cur(r: Int) = binned(pop(pmod(col("o_orderkey"), lit(6)) === r), "n_cur")
        val curState = fold(s, "u10_state", cur(1))(Seq(3, 5).map(r => (st: DataFrame) =>
          st.unionByName(cur(r)).groupBy(col("bin")).agg(sum(col("n_cur")).as("n_cur"))))
        val spine = s.range(0, 10).select(col("id").cast("int").as("bin"))
        val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
        val j = spine
          .join(binned(ref, "n_ref"), Seq("bin"), "left")
          .join(curState, Seq("bin"), "left")
          .na.fill(0L, Seq("n_ref", "n_cur"))
        val p = (col("n_ref") + 0.5) / (sum(col("n_ref")).over(wAll) + 5.0)
        val q = (col("n_cur") + 0.5) / (sum(col("n_cur")).over(wAll) + 5.0)
        j.withColumn("p_ref", p).withColumn("q", q)
          .select(col("bin"), col("n_ref"), col("n_cur"),
            round(col("p_ref"), 6).as("p_ref"),
            round(col("q"), 6).as("p_cur"),
            round((col("p_ref") - col("q")) * log(col("p_ref") / col("q")), 6)
              .as("psi_contrib"),
            round(sum((col("p_ref") - col("q")) *
              log(col("p_ref") / col("q"))).over(wAll), 6).as("psi_total"))
          .orderBy(col("bin"))
      },
      Some("""WITH ref AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
             |  WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL
             |  AND NOT isnan(CAST(o_totalprice AS DOUBLE))),
             |cur AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
             |  WHERE o_orderkey % 2 = 1 AND o_totalprice IS NOT NULL
             |  AND NOT isnan(CAST(o_totalprice AS DOUBLE))),
             |s AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM ref),
             |rb AS (SELECT LEAST(GREATEST(CAST(FLOOR((v - vmin) / (vmax - vmin) * 10)
             |    AS INT), 0), 9) AS bin, COUNT(*) AS n_ref
             |  FROM ref, s GROUP BY 1),
             |cb AS (SELECT LEAST(GREATEST(CAST(FLOOR((v - vmin) / (vmax - vmin) * 10)
             |    AS INT), 0), 9) AS bin, COUNT(*) AS n_cur
             |  FROM cur, s GROUP BY 1),
             |spine AS (SELECT CAST(r.range AS INT) AS bin FROM range(0, 10) r),
             |j AS (SELECT bin, COALESCE(n_ref, 0) AS n_ref,
             |    COALESCE(n_cur, 0) AS n_cur
             |  FROM spine LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)),
             |t AS (SELECT *, SUM(n_ref) OVER () AS nr, SUM(n_cur) OVER () AS nc
             |  FROM j),
             |p AS (SELECT bin, n_ref, n_cur,
             |    (n_ref + 0.5) / (nr + 5.0) AS p_ref,
             |    (n_cur + 0.5) / (nc + 5.0) AS q FROM t)
             |SELECT bin, n_ref, n_cur,
             |  ROUND(p_ref, 6) AS p_ref, ROUND(q, 6) AS p_cur,
             |  ROUND((p_ref - q) * LN(p_ref / q), 6) AS psi_contrib,
             |  ROUND(SUM((p_ref - q) * LN(p_ref / q)) OVER (), 6) AS psi_total
             |FROM p ORDER BY bin""".stripMargin)),

    // Incremental Bloom membership index (Frequency.Bloom — the
    // at-rest dedup/decontam pre-filter maintained WITHOUT rescans):
    // signup users stream in 3 batches, each folding a ≤1024-row word
    // bitset into the state by keyed BIT_OR (idempotent + commutative,
    // so any decomposition — including at-least-once redelivery — folds
    // to the identical bitset; the in-query full-outer compare against
    // the one-shot build enforces it with a require). Purchase users
    // then probe the state through one broadcast join. The hash family
    // is explicit universal hashing, so the oracle replays the WHOLE
    // filter — the false-positive count is exact-checked, not just the
    // no-false-negative floor.
    Q("u11_incremental_bloom",
      (s, d) => {
        val B = graft.llm.Frequency.Bloom
        val ev = graft.core.Tables.readEvents(s, d)
        val keys = ev.where(col("event_type") === "signup")
          .select(col("user_id").as("u")).distinct()
        // generation dirs, fold streams straight to parquet (see u2)
        def part(r: Int) = B.build(keys.where(pmod(col("u"), lit(3)) === r), "u")
        val state = fold(s, "u11_state", part(0))(
          Seq(1, 2).map(r => (st: DataFrame) => B.merge(st, part(r))))
        val mismatches = state
          .join(B.build(keys, "u").withColumnRenamed("w", "w2"),
            Seq("idx"), "full")
          .where(col("w").isNull || col("w2").isNull || col("w") =!= col("w2"))
          .count()
        require(mismatches == 0,
          s"bloom fold != one-shot build: $mismatches words differ")
        val probes = ev.where(col("event_type") === "purchase")
          .select(col("user_id").as("u")).distinct()
        B.memberHits(probes, state, "u")
          .join(keys.select(col("u"), lit(1).as("in_set")), Seq("u"), "left")
          .agg(count(lit(1)).as("n_probes"),
            countIf(col("bloom_hit")).as("n_bloom_hits"),
            countIf(col("in_set").isNotNull).as("n_present"),
            countIf(col("bloom_hit") && col("in_set").isNull).as("n_false_pos"),
            countIf(!col("bloom_hit") && col("in_set").isNotNull)
              .as("n_false_neg"))
      },
      Some(s"""WITH keys AS (SELECT DISTINCT user_id AS u FROM events
              |  WHERE event_type = 'signup'),
              |probes AS (SELECT DISTINCT user_id AS u FROM events
              |  WHERE event_type = 'purchase'),
              |kb AS (SELECT DISTINCT b FROM (
              |  SELECT ((1103515245*(u % 2147483647) + 12345) % 2147483647) % 65536 AS b FROM keys
              |  UNION ALL
              |  SELECT ((1234567891*(u % 2147483647) + 54321) % 2147483647) % 65536 FROM keys
              |  UNION ALL
              |  SELECT ((987654321*(u % 2147483647) + 192837465) % 2147483647) % 65536 FROM keys)),
              |pb AS (
              |  SELECT u, ((1103515245*(u % 2147483647) + 12345) % 2147483647) % 65536 AS b FROM probes
              |  UNION ALL
              |  SELECT u, ((1234567891*(u % 2147483647) + 54321) % 2147483647) % 65536 FROM probes
              |  UNION ALL
              |  SELECT u, ((987654321*(u % 2147483647) + 192837465) % 2147483647) % 65536 FROM probes),
              |hit AS (SELECT pb.u,
              |    CASE WHEN COUNT(*) =
              |      SUM(CASE WHEN kb.b IS NOT NULL THEN 1 ELSE 0 END)
              |      THEN 1 ELSE 0 END AS bloom_hit
              |  FROM pb LEFT JOIN kb ON pb.b = kb.b GROUP BY 1),
              |j AS (SELECT h.u, h.bloom_hit,
              |    CASE WHEN k.u IS NOT NULL THEN 1 ELSE 0 END AS present
              |  FROM hit h LEFT JOIN keys k ON h.u = k.u)
              |SELECT COUNT(*) AS n_probes,
              |  ${countIfSql("bloom_hit = 1")} AS n_bloom_hits,
              |  ${countIfSql("present = 1")} AS n_present,
              |  ${countIfSql("bloom_hit = 1 AND present = 0")} AS n_false_pos,
              |  ${countIfSql("bloom_hit = 0 AND present = 1")} AS n_false_neg
              |FROM j""".stripMargin)),

    // Gaps-and-islands audit over a sequence key (did the extractor
    // drop id ranges? — the classic contiguity check, distributed):
    // gaps are PLANTED (event_id ≡ 13 mod 97 filtered out) so the audit
    // fires with closed-form counts. Adjacent diffs come from
    // withGlobalRank + a rank-successor EQUI join (rk = rk−1) — the
    // distributed form of LEAD over a global order, no single-partition
    // window anywhere. span_missing (max−min+1−rows) cross-checks
    // n_missing (Σ(diff−1)) through an independent arithmetic path.
    Q("dq22_id_gap_islands",
      (s, d) => {
        val ids = graft.core.Tables.readEvents(s, d)
          .where(pmod(col("event_id"), lit(97)) =!= 13)
          .select(col("event_id").as("id"))
        val ranked = graft.core.Relational
          .withGlobalRank(ids, Seq(col("id")), "rk", "nt")
        val diffs = ranked.select(col("rk"), col("id"))
          .join(ranked.select((col("rk") - 1).as("rk"), col("id").as("next_id")),
            Seq("rk"))
          .select((col("next_id") - col("id")).as("diff"))
        val a1 = diffs.agg(countIf(col("diff") > 1).as("n_breaks"),
          sumLong(col("diff") - 1).as("n_missing"),
          max(col("diff") - 1).as("max_gap"))
        val a2 = ids.agg(count(lit(1)).as("n_rows"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        graft.core.Relational.attachSingleton(a1, a2)
          .select(col("n_rows"), (col("n_breaks") + 1).as("n_islands"),
            coalesce(col("n_missing"), lit(0L)).as("n_missing"),
            coalesce(col("max_gap"), lit(0L)).as("max_gap"),
            (col("max_id") - col("min_id") + 1 - col("n_rows"))
              .as("span_missing"))
      },
      Some("""WITH ids AS (SELECT event_id AS id FROM events
             |  WHERE event_id % 97 <> 13),
             |d AS (SELECT LEAD(id) OVER (ORDER BY id) - id AS diff FROM ids),
             |a AS (SELECT
             |    CAST(SUM(CASE WHEN diff > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_breaks,
             |    CAST(SUM(diff - 1) AS BIGINT) AS n_missing,
             |    CAST(MAX(diff - 1) AS BIGINT) AS max_gap
             |  FROM d WHERE diff IS NOT NULL),
             |b AS (SELECT COUNT(*) AS n_rows, MIN(id) AS min_id,
             |    MAX(id) AS max_id FROM ids)
             |SELECT n_rows, n_breaks + 1 AS n_islands,
             |  COALESCE(n_missing, 0) AS n_missing,
             |  COALESCE(max_gap, 0) AS max_gap,
             |  max_id - min_id + 1 - n_rows AS span_missing
             |FROM a, b""".stripMargin)),

    // Incremental ZONE-MAP maintenance (the table-format manifest
    // min/max index as a maintained MV — what lets a 100 TB scan skip
    // files without opening them): per-bucket (min, max) of the scan
    // column, folded across ingest batches by keyed MIN/MAX (idempotent
    // + commutative — redelivery-proof like u11's BIT_OR; fold ≡
    // one-shot enforced in-query with a require). The serve side plans
    // a BETWEEN predicate against the 600-row map: candidate buckets
    // (range overlap) vs buckets with actual matches — candidates ⊇
    // actual is the zone-map contract (overlap without membership is
    // the irreducible false-positive class), and the pruning ratio is
    // what the planner buys. Everything exact-checkable in SQL.
    Q("u12_incremental_zonemap",
      (s, d) => {
        val orders = T(s, d, "orders")
        def zm(df: DataFrame) = df
          .groupBy(expr("o_orderkey div 1000").as("bucket"))
          .agg(min(col("o_totalprice")).as("mn"),
            max(col("o_totalprice")).as("mx"))
        // generation dirs, fold streams straight to parquet (see u2)
        def part(r: Int) = zm(orders.where(pmod(col("o_custkey"), lit(3)) === r))
        val state = fold(s, "u12_state", part(0))(Seq(1, 2).map(r => (st: DataFrame) =>
          st.unionByName(part(r)).groupBy(col("bucket"))
            .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"))))
        val mismatches = state
          .join(zm(orders).withColumnRenamed("mn", "mn2")
            .withColumnRenamed("mx", "mx2"), Seq("bucket"), "full")
          .where(col("mn").isNull || col("mn2").isNull ||
            col("mn") =!= col("mn2") || col("mx") =!= col("mx2"))
          .count()
        require(mismatches == 0,
          s"zone-map fold != one-shot: $mismatches buckets differ")
        val (lo, hi) = (150000.0, 160000.0)
        val cand = state
          .agg(count(lit(1)).as("n_buckets"),
            countIf(col("mx") >= lo && col("mn") <= hi).as("n_candidates"))
        val actual = orders
          .groupBy(expr("o_orderkey div 1000").as("bucket"))
          .agg(countIf(col("o_totalprice") >= lo && col("o_totalprice") <= hi)
            .as("n_in"))
          .agg(countIf(col("n_in") > 0).as("n_actual"),
            sumLong(col("n_in")).as("n_match_rows"))
        graft.core.Relational.attachSingleton(cand, actual)
          .select(col("n_buckets"), col("n_candidates"), col("n_actual"),
            col("n_match_rows"),
            round(lit(1.0) - col("n_candidates").cast("double") /
              col("n_buckets"), 6).as("prune_ratio"))
      },
      Some(s"""WITH zm AS (SELECT o_orderkey // 1000 AS bucket,
              |    MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
              |  FROM orders GROUP BY 1),
              |c AS (SELECT COUNT(*) AS n_buckets,
              |    ${countIfSql("mx >= 150000.0 AND mn <= 160000.0")} AS n_candidates
              |  FROM zm),
              |a0 AS (SELECT o_orderkey // 1000 AS bucket,
              |    ${countIfSql("o_totalprice >= 150000.0 AND o_totalprice <= 160000.0")} AS n_in
              |  FROM orders GROUP BY 1),
              |a AS (SELECT ${countIfSql("n_in > 0")} AS n_actual,
              |    ${sumLongSql("n_in")} AS n_match_rows FROM a0)
              |SELECT n_buckets, n_candidates, n_actual, n_match_rows,
              |  ROUND(1.0 - CAST(n_candidates AS DOUBLE) / n_buckets, 6)
              |    AS prune_ratio
              |FROM c, a""".stripMargin)),

    // CDC key-latest MV with DELETE records (the tombstone-retention
    // lesson every log-compacted consumer relearns: u1/u5 maintain
    // upsert state, this one adds the 'd' op — and the fold must KEEP
    // tombstone rows in intermediate state, because dropping a delete
    // eagerly lets an OLDER insert arriving in a later batch resurrect
    // the key with stale data). Feed: events as a change log — key =
    // user_id, LSN = event_id (the log's total order), op = delete on
    // event_id % 7 = 0; batches interleaved by lsn % 3, so late-
    // arriving older records are guaranteed. Fold = Merge.latestWins
    // per batch with the deleted flag RETAINED; tombstones filter only
    // at the read. The in-query require pins fold ≡ one-shot row-for-
    // row, and n_eager_resurrected COUNTS the keys the naive eager-drop
    // fold would wrongly revive (replayed independently by the oracle:
    // global-latest is a delete ∧ an older record lives in a later-
    // processed batch) — nonzero at the fixture, so the lesson bites.
    Q("u13_cdc_tombstones",
      (s, d) => {
        val feed = graft.core.Tables.readEvents(s, d)
          .select(col("user_id").as("k"), col("event_id").as("lsn"),
            (pmod(col("event_id"), lit(7)) === 0).as("del"))
        val batches = Seq(0, 1, 2).map(b =>
          feed.where(pmod(col("lsn"), lit(3)) === b))
        def latestOf(df: DataFrame) = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("k")).orderBy(col("lsn").desc)
          df.withColumn("__rk", row_number().over(w))
            .where(col("__rk") === 1).drop("__rk")
        }
        // tombstone-retaining fold: deletedCol = None keeps 'd' rows
        val folded = batches.tail.foldLeft(latestOf(batches.head))(
          (st, b) => graft.core.Merge.latestWins(st, latestOf(b), "k", "lsn"))
          .localCheckpoint(true)
        val oneShot = latestOf(feed)
        // two-sided row-for-row check: the full_outer-minus-one-side
        // arithmetic alone counts only |folded ∖ oneShot| — a fold that
        // silently DROPS rows (e.g. eagerly filtering tombstones) would
        // pass it with mismatches == 0. Asserting equal cardinality as
        // well makes union == |oneShot| == |folded| ⇒ set equality.
        val nFolded = folded.count()
        val nOneShot = oneShot.count()
        val nUnion = folded.select("k", "lsn", "del")
          .join(oneShot.select("k", "lsn", "del"), Seq("k", "lsn", "del"), "full_outer")
          .count()
        require(nFolded == nOneShot && nUnion == nOneShot,
          s"tombstone-retaining fold diverged from one-shot: " +
            s"folded=$nFolded oneShot=$nOneShot union=$nUnion")
        // keys the EAGER-drop fold would resurrect: global latest is a
        // delete, and some older record sits in a later-processed batch
        val res = oneShot.where(col("del")).select(col("k"), col("lsn").as("dlsn"))
          .join(feed.select(col("k"), col("lsn")), Seq("k"))
          .where(pmod(col("lsn"), lit(3)) > pmod(col("dlsn"), lit(3))
            && col("lsn") < col("dlsn"))
          .select("k").distinct().count()
        folded.agg(count(lit(1)).as("n_keys"),
            Det.countIf(!col("del")).as("n_live"),
            Det.countIf(col("del")).as("n_tombstoned"))
          .select(col("n_keys"), col("n_live"), col("n_tombstoned"),
            lit(res).as("n_eager_resurrected"), lit(true).as("fold_equals_one_shot"))
      },
      Some("""WITH feed AS (
             |  SELECT user_id AS k, event_id AS lsn,
             |    (event_id % 7 = 0) AS del
             |  FROM events),
             |latest AS (
             |  SELECT k, lsn, del FROM feed
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY lsn DESC) = 1),
             |res AS (
             |  SELECT DISTINCT l.k
             |  FROM latest l JOIN feed f ON f.k = l.k
             |  WHERE l.del AND f.lsn % 3 > l.lsn % 3 AND f.lsn < l.lsn)
             |SELECT COUNT(*) AS n_keys,
             |  CAST(SUM(CASE WHEN NOT del THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
             |  CAST(SUM(CASE WHEN del THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstoned,
             |  (SELECT COUNT(*) FROM res) AS n_eager_resurrected,
             |  TRUE AS fold_equals_one_shot
             |FROM latest""".stripMargin)),

    // Sequence/timestamp consistency audit (is the event_id ingest
    // order actually time order per user? — the out-of-order-delivery
    // gate every watermark choice depends on): adjacent pairs under the
    // per-user event_id order, violation = timestamp strictly
    // decreasing. ONE user-keyed window over slim (id, tsu) columns;
    // per-key rows = the user's event cadence.
    Q("dq23_monotonic_audit",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("event_id"))
        graft.core.Tables.readEvents(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("tsu"))
          .withColumn("prev", lag(col("tsu"), 1).over(w))
          .where(col("prev").isNotNull)
          .withColumn("viol", (col("tsu") < col("prev")).cast("long"))
          .agg(count(lit(1)).as("n_pairs"),
            sumLong(col("viol")).as("n_violations"),
            countDistinct(when(col("viol") === 1L, col("user_id")))
              .as("n_users_affected"))
          .select(col("n_pairs"), col("n_violations"), col("n_users_affected"),
            round(col("n_violations").cast("double") / col("n_pairs"), 6)
              .as("violation_rate"))
      },
      Some(s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu
              |  FROM events),
              |p AS (SELECT user_id, tsu,
              |    LAG(tsu) OVER (PARTITION BY user_id ORDER BY event_id)
              |      AS prev
              |  FROM e),
              |v AS (SELECT user_id,
              |    CASE WHEN tsu < prev THEN 1 ELSE 0 END AS viol
              |  FROM p WHERE prev IS NOT NULL)
              |SELECT COUNT(*) AS n_pairs,
              |  ${sumLongSql("viol")} AS n_violations,
              |  COUNT(DISTINCT CASE WHEN viol = 1 THEN user_id END)
              |    AS n_users_affected,
              |  ROUND(CAST(${sumLongSql("viol")} AS DOUBLE) / COUNT(*), 6)
              |    AS violation_rate
              |FROM v""".stripMargin)),

    // Terminal-digit uniformity audit (dq10's Benford COMPLEMENT:
    // first digits follow log10(1+1/d) in organic data, LAST digits of
    // sufficiently-precise measurements are near-UNIFORM — fabricated
    // or truncated values typically fail one of the two, and the pair
    // is the standard two-sided forensic): the cents digit of
    // o_totalprice, extracted by round(x·100) mod 10 — pure arithmetic
    // (both engines round the same double half-away-from-zero on
    // positives; 2-decimal prices sit ~2⁻³⁰ off an integer, never on a
    // tie). One 10-group map-side aggregate; expected share is the
    // LITERAL 0.1; per-digit chi² terms, no engine-ordered sum (a34's
    // rule); digits densified from a 10-row range so an absent digit
    // reads as an explicit zero row.
    Q("dq24_last_digit",
      (s, d) => {
        val x = T(s, d, "orders")
          .select(col("o_totalprice").cast("double").as("x"))
          .where(col("x") > 0)
        val h = x.select(
            pmod(round(col("x") * 100, 0).cast("long"), lit(10L)).as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
        val dense = s.range(0, 10)
          .select(col("id").as("digit"))
          .join(h, Seq("digit"), "left")
          .na.fill(0L, Seq("n_obs"))
        val withN = graft.core.Relational.attachSingleton(
          dense, x.agg(count(lit(1)).as("n_total")))
        val e = col("n_total") * lit(0.1)
        withN.select(col("digit"), col("n_obs"),
            round(col("n_obs").cast("double") / col("n_total"), 6)
              .as("obs_share"),
            round((col("n_obs") - e) * (col("n_obs") - e) / e, 6)
              .as("chi2_term"))
          .orderBy(col("digit"))
      },
      Some("""WITH x AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
             |  WHERE o_totalprice > 0),
             |h AS (SELECT CAST(ROUND(x * 100, 0) AS BIGINT) % 10 AS digit,
             |    COUNT(*) AS n_obs
             |  FROM x GROUP BY 1),
             |dense AS (SELECT r.range AS digit, COALESCE(h.n_obs, 0) AS n_obs
             |  FROM range(0, 10) r LEFT JOIN h ON h.digit = r.range),
             |nt AS (SELECT COUNT(*) AS n_total FROM x)
             |SELECT digit, n_obs,
             |  ROUND(CAST(n_obs AS DOUBLE) / n_total, 6) AS obs_share,
             |  ROUND((n_obs - n_total * 0.1) * (n_obs - n_total * 0.1) /
             |    (n_total * 0.1), 6) AS chi2_term
             |FROM dense CROSS JOIN nt
             |ORDER BY 1""".stripMargin))
  )
}
