package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Relational.SingletonAttachOps

/** One-pass data-quality validation (the pre-training gate a 100-TB
  * pipeline runs before touching a new drop): every constraint is an
  * aggregate metric plus a pass predicate over it, and ALL metrics
  * evaluate in a SINGLE scan/aggregate of the frame — adding a check
  * costs one expression, not one job. The wide one-row result is melted
  * to the long (check, metric, passed) report shape.
  *
  * Referential checks need a second frame by nature (an anti-join), so
  * they are separate helpers unioned into the same report.
  */
object Validation {

  /** One constraint: an aggregate `metric` (any single-value aggregate
    * expression) and a `pass` predicate applied to the computed value. */
  final case class Check(name: String, metric: Column, pass: Column => Column)

  /** Ready-made checks mirroring the common Deequ-style suite. */
  def completeness(c: String, atLeast: Double = 1.0): Check =
    Check(s"completeness_$c",
      avg(when(col(c).isNotNull, 1.0).otherwise(0.0)), _ >= atLeast)

  def uniqueness(c: String): Check =
    Check(s"uniqueness_$c",
      countDistinct(col(c)).cast("double") / count(col(c)), _ === 1.0)

  def minBound(c: String, bound: Double): Check =
    Check(s"min_$c", min(col(c)).cast("double"), _ >= bound)

  def inDomain(c: String, domain: Seq[String]): Check =
    Check(s"domain_$c",
      sum(when(col(c).isInCollection(domain) || col(c).isNull, 0L).otherwise(1L))
        .cast("double"),
      _ === 0.0)

  /** Evaluate all checks in ONE aggregate pass and melt to
    * (check, metric, passed) — one row per constraint. */
  def constraintReport(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "constraintReport: no checks given")
    val aggs = checks.map(c => c.metric.cast("double").as(c.name))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val melted = checks.map(c => struct(
      lit(c.name).as("check"),
      col(c.name).as("metric"),
      c.pass(col(c.name)).as("passed")))
    one.select(explode(array(melted: _*)).as("r")).select("r.*")
  }

  /** Referential-integrity row: count of child keys with no parent
    * (anti-join — the one check that inherently needs a second frame);
    * unioned into the [[constraintReport]] output. */
  def referentialCheck(child: DataFrame, parent: DataFrame,
      childKey: String, parentKey: String, name: String): DataFrame =
    child.join(parent, col(childKey) === col(parentKey), "left_anti")
      .agg(count(lit(1)).cast("double").as("metric"))
      .select(lit(name).as("check"), col("metric"), (col("metric") === 0.0).as("passed"))

  /** Population Stability Index drift report between a reference snapshot
    * and a current snapshot of one numeric column — the standard feature-
    * drift gate a training pipeline runs on every new data drop (PSI < 0.1
    * stable, 0.1–0.25 moderate, > 0.25 action).
    *
    * Bin edges are `nBins` equal-width cuts of the REFERENCE min/max (the
    * convention: the baseline owns the binning); current values outside
    * the reference range clamp into the edge bins. Proportions are
    * Laplace-smoothed ((n + 0.5) / (N + nBins/2)) so empty bins never
    * produce ±∞ contributions and the result is deterministic.
    *
    * Scale stance: one tiny stats aggregate over the reference (broadcast
    * back as a literal-free cross join of a 1-row frame), then ONE
    * groupBy(bin) per side — the shuffles carry nBins rows. The bin spine
    * (`sequence`) guarantees every bin appears even when empty.
    *
    * Output: (bin, lo, hi, n_ref, n_cur, p_ref, p_cur, psi_contrib,
    * psi_total) — one row per bin, psi_total replicated for one-stop
    * reading. */
  def driftPsi(ref: DataFrame, cur: DataFrame, valueCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"driftPsi needs nBins >= 2, got $nBins")
    val v = col(valueCol)
    // undefined values are excluded like nulls on BOTH sides (Spark orders
    // NaN above every double, so an unfiltered NaN would clamp into the
    // top bin and silently skew p_cur — and poison the reference vmax)
    val defined = v.isNotNull && !isnan(v.cast("double"))
    // 1-row stats frame feeds three branches (spine + both binned sides):
    // materialize once so the reference is scanned once for min/max
    val stats = ref.where(defined)
      .agg(min(v).cast("double").as("vmin"), max(v).cast("double").as("vmax"))
      .localCheckpoint()
    def binned(df: DataFrame, cnt: String): DataFrame =
      df.where(defined).attachSingleton(stats)
        .select(
          when(col("vmax") === col("vmin"), lit(0))
            .otherwise(least(greatest(
              floor((v.cast("double") - col("vmin")) / (col("vmax") - col("vmin")) * nBins), lit(0)),
              lit(nBins - 1))).cast("int").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(cnt))
    val spine = stats.select(
      explode(sequence(lit(0), lit(nBins - 1))).as("bin"),
      col("vmin"), col("vmax"))
    val joined = spine
      .join(binned(ref, "n_ref"), Seq("bin"), "left")
      .join(binned(cur, "n_cur"), Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    val (nr, nc) = (sum(col("n_ref")).over(), sum(col("n_cur")).over())
    val p = (col("n_ref") + 0.5) / (nr + nBins * 0.5)
    val q = (col("n_cur") + 0.5) / (nc + nBins * 0.5)
    joined
      .withColumn("lo", col("vmin") + (col("vmax") - col("vmin")) / nBins * col("bin"))
      .withColumn("hi", col("vmin") + (col("vmax") - col("vmin")) / nBins * (col("bin") + 1))
      .withColumn("p_ref", p)
      .withColumn("p_cur", q)
      .withColumn("psi_contrib", (p - q) * log(p / q))
      .withColumn("psi_total", sum((p - q) * log(p / q)).over())
      .select("bin", "lo", "hi", "n_ref", "n_cur", "p_ref", "p_cur",
        "psi_contrib", "psi_total")
      .orderBy("bin")
  }

  /** Robust per-group outlier report: median/MAD z-scores (the label-noise
    * and sensor-glitch gate — mean/std break down under the very outliers
    * being hunted; median/MAD have a 50% breakdown point). A value is an
    * outlier when |x − median| > k · 1.4826 · MAD (1.4826 scales MAD to
    * σ-equivalents under normality; k=3 is the usual "3-sigma" cut).
    *
    * ONE pass over the input: the base table histogram-compresses to
    * (group, DISTINCT value, count) — a fully-parallel map-side-combined
    * aggregate — and everything downstream (both exact medians, the
    * outlier count, n) reads that materialized histogram. The MAD
    * histogram is the median histogram with values mapped through
    * |v − med| (weights carried; weightedQuantiles re-merges colliding
    * values by construction), and the outlier count is Σ count over
    * histogram rows whose value satisfies the cut — all identical, row
    * for row, to the raw-row formulation, because every term depends
    * only on the value. The previous shape re-scanned the base table
    * for MAD and again for the report; at 100 TB this is one pass vs
    * three.
    *
    * Output: (group, n, med, mad, n_outliers, outlier_frac). Groups with
    * MAD = 0 (over half the values identical) report outliers as values
    * strictly different from the median guarded by `minMad` — ZERO spread
    * means any deviation is anomalous. */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Double = 3.0, minMad: Double = 1e-9): DataFrame = {
    val g = col(groupCol)
    val v = col(valueCol).cast("double")
    // Both exact medians ride Relational.weightedQuantiles' histogram-
    // compressed pass (p=0.5 over counts ≡ built-in `median`'s
    // quantile_cont, nulls skipped identically) — built-in exact median
    // with few groups buffers the whole column per group, the
    // a21/h7/a26 OOM class. Collision-safe internal aliases: the joined
    // frames add __med/__mad, never med/mad, so an input table that
    // already has those columns stays unambiguous.
    // Lazy persist, not an eager checkpoint: the first consumer (the
    // median chain) computes and caches the histogram in passing, the
    // other two read the cache — no extra materialization job.
    val hist = df.select(g, v.as("__rv"))
      .where(col("__rv").isNotNull)
      .groupBy(g, col("__rv")).agg(count(lit(1L)).as("__rw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // meds feeds two consumers (the MAD branch and the final report);
    // materialize the group-count-sized frame once so its median
    // chain is not re-executed per consumer.
    val meds = Relational.quantilesFromHist(hist, groupCol, "__rv", "__rw", Seq(0.5))
      .select(col(groupCol), col("q_0_5").as("__med"))
      .localCheckpoint()
    val histMed = hist.join(broadcast(meds), Seq(groupCol))
    // |v − med| can collide two distinct histogram values (symmetric
    // around the median). That is safe without re-aggregating: colliding
    // rows carry EQUAL values, so however the window orders the tie, the
    // row covering a target index holds the sorted-multiset value at
    // that index, and the interpolation inputs are unchanged (the
    // distinct-values contract on quantilesFromHist exists to make the
    // covering row unique, not to make it correct).
    val mads = Relational.quantilesFromHist(
        histMed.select(g, abs(col("__rv") - col("__med")).as("__av"),
          col("__rw").as("__aw")),
        groupCol, "__av", "__aw", Seq(0.5))
      .select(col(groupCol), col("q_0_5").as("__mad"))
    histMed.join(broadcast(mads), Seq(groupCol))
      .groupBy(g)
      .agg(
        sum(col("__rw")).as("n"),
        first(col("__med")).as("med"),
        first(col("__mad")).as("mad"),
        sum(when(abs(col("__rv") - col("__med")) >
            greatest(col("__mad"), lit(minMad)) * (k * 1.4826), col("__rw"))
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_frac", col("n_outliers").cast("double") / col("n"))
      .orderBy(g)
  }

  /** Rolling z-score anomaly flags over an event stream: each row is
    * scored against the TRAILING `windowMicros` of its own key's history
    * (exclusive of the current instant — peers at the same timestamp are
    * excluded on both engines by the value-based RANGE frame, so ties
    * are safe), flagged when |x − μ| > k·σ of that trailing window and at
    * least `minPoints` prior points exist. The time-local twin of
    * [[robustOutliers]]: a level shift that is "normal" globally is
    * anomalous against the trailing hour, and vice versa.
    *
    * Determinism stance: the windowed COUNT/SUM/SUM-of-squares
    * accumulate in DECIMAL (order-independent, exact in both engines);
    * μ, σ², z then evaluate as ONE fixed double expression tree over
    * those exact inputs, so both engines produce bit-identical doubles.
    *
    * One key-partitioned shuffle, ordered RANGE frames — the w9 plan
    * shape. A key hot enough to overwhelm one task needs the same
    * coarse-epoch split noted on [[Joins.asofJoin]].
    *
    * Input: (`keyCol`, `tsMicrosCol` long, `valueCol`). Output: input
    * rows + (n_prior, z (null when unscored), is_anomaly). */
  def rollingAnomalies(df: DataFrame, keyCol: String, tsMicrosCol: String,
      valueCol: String, windowMicros: Long, minPoints: Int = 5,
      k: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val v = col(valueCol).cast(DoubleType)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsMicrosCol))
      .rangeBetween(-windowMicros, -1L)
    val dv = v.cast(DecimalType(18, 6))
    val scored = df
      .withColumn("__c", count(v).over(w))
      .withColumn("__sv", sum(dv).over(w))
      .withColumn("__svv", sum((dv * dv).cast(DecimalType(38, 12))).over(w))
    val c = col("__c").cast(DoubleType)
    val sv = col("__sv").cast(DoubleType)
    val svv = col("__svv").cast(DoubleType)
    val mean = sv / c
    // sample variance, clamped at 0 (fp cancellation can dip epsilon-negative)
    val variance = greatest((svv - sv * sv / c) / (c - 1d), lit(0d))
    val z = (v - mean) / sqrt(variance + lit(1e-9))
    scored
      .withColumn("n_prior", col("__c"))
      .withColumn("z", when(col("__c") >= minPoints, round(z, 6)))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > k, lit(false)))
      .drop("__c", "__sv", "__svv")
  }

  /** Column-profile snapshot: per column a one-row-per-column report of
    * (n non-null, null_frac, n_distinct exact, mean — numeric columns
    * only, decimal-exact). ONE aggregate pass over the frame (the
    * multi-countDistinct Expand); the melted long shape joins cleanly
    * against another snapshot's. */
  def profileSnapshot(df: DataFrame, numCols: Seq[String],
      strCols: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    require(numCols.nonEmpty || strCols.nonEmpty, "profileSnapshot: no columns")
    val cols = numCols ++ strCols
    val aggs =
      cols.flatMap(c => Seq(
        count(col(c)).as(s"__n_$c"),
        countDistinct(col(c)).as(s"__d_$c"))) ++
      numCols.map(c =>
        graft.functions.SumQ6.sum_q6(col(c)).as(s"__s_$c")) :+
      count(lit(1)).as("__rows")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val melted = cols.map { c =>
      val mean =
        if (numCols.contains(c)) col(s"__s_$c") / col(s"__n_$c")
        else lit(null).cast(DoubleType)
      struct(
        lit(c).as("column"),
        col(s"__n_$c").as("n"),
        ((col("__rows") - col(s"__n_$c")).cast(DoubleType) / col("__rows")).as("null_frac"),
        col(s"__d_$c").as("n_distinct"),
        mean.as("mean"))
    }
    one.select(explode(array(melted: _*)).as("r")).select("r.*")
  }

  /** Schema/profile drift between two snapshots of the same table (the
    * structural sibling of [[driftPsi]]'s distributional gate): joins the
    * per-column [[profileSnapshot]]s and reports side-by-side metrics
    * plus deltas. Two single-pass aggregates + a column-count-sized
    * join. */
  def profileDiff(ref: DataFrame, cur: DataFrame, numCols: Seq[String],
      strCols: Seq[String] = Seq.empty): DataFrame = {
    val r = profileSnapshot(ref, numCols, strCols)
      .select(col("column"), col("n").as("n_ref"), col("null_frac").as("null_frac_ref"),
        col("n_distinct").as("distinct_ref"), col("mean").as("mean_ref"))
    val c = profileSnapshot(cur, numCols, strCols)
      .select(col("column"), col("n").as("n_cur"), col("null_frac").as("null_frac_cur"),
        col("n_distinct").as("distinct_cur"), col("mean").as("mean_cur"))
    r.join(c, Seq("column"), "full_outer")
      .withColumn("null_frac_shift", col("null_frac_cur") - col("null_frac_ref"))
      .withColumn("mean_shift", col("mean_cur") - col("mean_ref"))
      .orderBy("column")
  }

  /** k-anonymity enforcement over quasi-identifier columns (the privacy
    * gate next to PII scrubbing): every released group must contain ≥ k
    * rows. Groups already ≥ k release at `level` 0; smaller groups
    * GENERALIZE — the last quasi-identifier collapses to '*' — and release
    * at level 1 if the collapsed group reaches k; anything still < k is
    * fully SUPPRESSED and reported as one level-2 ('*','*') row so the
    * release accounts for every input row.
    *
    * One groupBy over the quasi-identifiers, then a re-aggregate of the
    * small failing remainder — group-count-sized work after the first
    * shuffle. The grouped frame feeds three union branches, so it is
    * materialized ONCE (eager localCheckpoint — group-count-sized, tiny
    * relative to the input) instead of re-running the base scan per
    * branch; the blocks free when the frame is garbage collected. */
  def kAnonymize(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.size >= 2, "kAnonymize needs >= 2 quasi-identifier columns")
    val groups = df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val pass = groups.where(col("n") >= k)
      .select(quasiCols.map(c => col(c).cast("string").as(c)) :+ col("n") :+ lit(0).as("level"): _*)
    val keep = quasiCols.dropRight(1)
    val gen = groups.where(col("n") < k)
      .groupBy(keep.map(col): _*).agg(sum(col("n")).as("n"))
      .select(keep.map(c => col(c).cast("string").as(c))
        :+ lit("*").as(quasiCols.last) :+ col("n") :+ lit(1).as("level"): _*)
      .select(quasiCols.map(col) :+ col("n") :+ col("level"): _*)
    val genPass = gen.where(col("n") >= k)
    val suppressed = gen.where(col("n") < k)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"))
      .select(quasiCols.map(_ => lit("*")).zip(quasiCols).map { case (c, n) => c.as(n) }
        :+ col("n") :+ lit(2).as("level"): _*)
      .where(col("n") > 0)
    pass.unionByName(genPass).unionByName(suppressed)
      .orderBy(col("level") +: quasiCols.map(col): _*)
  }

  /** Join-key skew profile: the diagnosis you run BEFORE choosing a
    * skew mitigation (salting, AQE skew-join, broadcast) — per-key row
    * counts summarized to the numbers that drive the decision: how many
    * keys, how big the biggest key is absolutely and as a share of the
    * table, and the p50/p90/p99 key sizes (exact quantile_cont over the
    * key-count distribution). `skew_ratio` = max key size / mean key
    * size — ≈1 means uniform, ≫1 means one reducer will eat the key.
    *
    * The quantiles use weightedQuantiles' histogram-compress idea
    * INLINED for the degenerate single-group case (value = a key's row
    * count, w = 1 → compressed to (distinct count value, #keys) — tiny
    * even at billions of keys, since counts repeat), NOT built-in exact
    * `percentile`, whose single global buffer over the per-key count
    * frame is the a21/h7/a26 OOM class at billion-key scale. It canNOT
    * delegate to [[Relational.weightedQuantiles]] with a `lit(0)`
    * group: FoldablePropagation folds the constant key and its
    * cum⋈targets equi join degenerates to the banned
    * BroadcastNestedLoopJoin (attachSingleton's inline guard caught
    * exactly this). Instead the total weight is attached as a literal
    * and each target's covering rows are selected by WHERE + one
    * aggregate — no join at all, same QUANTILE_CONT arithmetic. One
    * key-keyed shuffle for the counts, a window over the DISTINCT
    * count values, then 1-row literal attaches. */
  def skewProfile(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "skewProfile: at least one key column")
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
    val hist = counts.groupBy(col("__n").cast("double").as("__v"))
      .agg(count(lit(1)).as("__w"))
    val cum = hist
      .withColumn("__cum", sum(col("__w")).over(
        Window.orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .attachSingleton(hist.agg(sum(col("__w")).as("__tw")))
    // per-target covering values: pos/lo/hi fold to literals (they
    // derive from the attached __tw), so each min() scans once.
    val ps = Seq(0.5 -> "p50_key_rows", 0.9 -> "p90_key_rows",
      0.99 -> "p99_key_rows")
    def pos(p: Double) = lit(p) * (col("__tw") - 1).cast("double")
    def covers(b: Column) =
      col("__cum") - col("__w") <= b && col("__cum") - 1 >= b
    val picked = cum.agg(
      max(col("__tw")).as("__tw2"),
      ps.flatMap { case (p, nm) => Seq(
        min(when(covers(floor(pos(p)).cast("long")), col("__v"))).as(s"__lo_$nm"),
        min(when(covers(ceil(pos(p)).cast("long")), col("__v"))).as(s"__hi_$nm"))
      }: _*)
    val q = picked.select(ps.map { case (p, nm) =>
      val po = lit(p) * (col("__tw2") - 1).cast("double")
      round(col(s"__lo_$nm") +
        (po - floor(po)) * (col(s"__hi_$nm") - col(s"__lo_$nm")), 6).as(nm)
    }: _*)
    counts
      .agg(
        sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("__n")).as("max_key_rows"))
      .attachSingleton(q)
      .select(
        lit(keyCols.mkString(",")).as("key"),
        col("n_rows"), col("n_keys"), col("max_key_rows"),
        round(col("max_key_rows").cast("double") / col("n_rows"), 6)
          .as("max_key_share"),
        round(col("max_key_rows").cast("double") *
          col("n_keys") / col("n_rows"), 6).as("skew_ratio"),
        col("p50_key_rows"), col("p90_key_rows"), col("p99_key_rows"))
  }

  /** Referential-integrity / inclusion-dependency audit: for each
    * declared `child.fk ⊆ parent.pk` relationship, count child rows
    * whose non-null foreign key has no parent — the orphan check a
    * warehouse gate runs before trusting joins (and, run in the
    * parent→child direction, the "every order has lines" coverage
    * check). Null FKs are exempt, matching SQL FK semantics.
    *
    * One left join per relationship, keyed on the FK (parent side
    * deduplicated first so multiplicity can't double-count) — each
    * check shuffles on its own key, no global stage. */
  def referentialIntegrity(
      checks: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(checks.nonEmpty, "referentialIntegrity: at least one relationship")
    checks.map { case (name, child, fkCol, parent, pkCol) =>
      val p = parent.select(col(pkCol).cast("long").as("__pk")).distinct()
      child.where(col(fkCol).isNotNull)
        .select(col(fkCol).cast("long").as("__fk"))
        .join(p, col("__fk") === col("__pk"), "left")
        .agg(
          count(lit(1)).as("n_child"),
          sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(
          lit(name).as("relationship"),
          col("n_child"), col("n_orphans"),
          when(col("n_child") > 0,
            round(col("n_orphans").cast("double") / col("n_child"), 6))
            .as("orphan_frac"),
          (col("n_orphans") === 0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Functional-dependency audit: for each declared FD
    * `determinant → dependent`, report whether any determinant value
    * maps to more than one distinct dependent value — the key-integrity
    * / denormalization-consistency check a warehouse gate runs before
    * trusting a join key or a supposedly-derived column.
    *
    * One exact groupBy per FD, keyed on ITS determinant (no global
    * stage; each FD's shuffle parallelizes over determinant values), then
    * a one-row summary per FD unioned together. Nulls: determinant
    * groups include the null group (Spark and SQL GROUP BY agree);
    * `countDistinct` ignores null dependents, so an all-null dependent
    * group has n_dep = 0 and never counts as a violation. */
  def functionalDeps(df: DataFrame, deps: Seq[(Seq[String], String)]): DataFrame = {
    require(deps.nonEmpty, "functionalDeps: at least one dependency to check")
    deps.map { case (det, dep) =>
      require(det.nonEmpty && !det.contains(dep),
        s"functionalDeps: malformed dependency $det -> $dep")
      df.groupBy(det.map(col): _*)
        .agg(countDistinct(col(dep)).as("__n_dep"), count(lit(1)).as("__n_rows"))
        .agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("__n_dep") > 1, 1L).otherwise(0L)).as("n_violating_groups"),
          sum(when(col("__n_dep") > 1, col("__n_rows")).otherwise(0L)).as("n_violating_rows"),
          max(col("__n_dep")).as("max_dependents"))
        .select(
          lit(det.mkString(",")).as("determinant"),
          lit(dep).as("dependent"),
          col("n_groups"), col("n_violating_groups"), col("n_violating_rows"),
          col("max_dependents"),
          (col("n_violating_groups") === 0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Distributed two-sample Kolmogorov–Smirnov statistic: the
    * distribution-SHAPE drift gate [[driftPsi]]'s fixed bins can miss
    * (PSI sees mass per bin; KS sees the whole CDF). D = max over
    * sample points of |F_a − F_b|, computed WITHOUT any single-partition
    * pass: one [[Relational.withGlobalRank]] over (value, tieBreak)
    * gives each row its global position r, one [[Relational.withGroupRank]]
    * over the same order gives its within-group position rg — then the
    * running per-group counts at that row are (rg, r − rg) by identity,
    * no running-sum window needed. Both engines walk the same total
    * order (unique tieBreak), so per-row CDF diffs — not just D — are
    * bit-identical. Under heavy cross-group ties the tie-run interior
    * positions make D conservative (≥ the distinct-value evaluation
    * scipy uses); with a continuous value column they agree.
    * Returns one row: (group_a, group_b, n_a, n_b, ks_stat, critical
    * value at α=0.05, drifted). Requires exactly two groups. */
  def ksTwoSample(df: DataFrame, groupCol: String, valueCol: String,
      tieBreak: Column): DataFrame = {
    // group labels are compared as strings (cast in the slim projection,
    // not getString on collect — a non-string group column must not CCE)
    // and nulls are rejected loudly: a null group would silently claim
    // half the CDF mass of whichever side it hashed into
    val slim = df.select(col(groupCol).cast("string").as("__g"),
      col(valueCol).cast("double").as("__v"), tieBreak.as("__t"))
    val rawGroups = slim.select(col("__g")).distinct().limit(4).collect()
      .map(r => Option(r.getString(0)))
    require(rawGroups.forall(_.isDefined),
      s"ksTwoSample: null values in group column '$groupCol' — filter or impute them first")
    val groups = rawGroups.flatten.sorted
    require(groups.length == 2,
      s"ksTwoSample needs exactly two groups, got ${groups.mkString(", ")}")
    val Array(ga, gb) = groups
    // This query is what EXPOSED the rank-helper branch-divergence bug
    // (ks_stat nondeterministically 0.045–0.086 vs the true 0.0301):
    // the fix lives inside the rank helpers (the prefix-scan kernel's
    // eager localCheckpoint — see Relational.prefixScan's consistency
    // note). The
    // persist here is purely a cost optimization: withGroupRank's two
    // branches both consume the global-rank output, and caching it
    // avoids running the rank join twice.
    val globalRanked = Relational
      .withGlobalRank(slim, Seq(col("__v"), col("__t")), "__r", "__n")
      .persist()
    try {
      val ranked = Relational.withGroupRank(globalRanked,
        Seq("__g"), Seq(col("__v"), col("__t")), "__rg", "__ng")
      val counts = slim.groupBy().agg(
        sum(when(col("__g") === ga, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__g") === gb, 1L).otherwise(0L)).as("n_b"))
      val ca = when(col("__g") === ga, col("__rg")).otherwise(col("__r") - col("__rg"))
      val cb = when(col("__g") === gb, col("__rg")).otherwise(col("__r") - col("__rg"))
      ranked.attachSingleton(counts) // 1-row scalar attach
        .select((ca.cast("double") / col("n_a")
          - cb.cast("double") / col("n_b")).as("__diff"),
          col("n_a"), col("n_b"))
        .groupBy(col("n_a"), col("n_b"))
        .agg(max(abs(col("__diff"))).as("ks_stat"))
        .select(lit(ga).as("group_a"), lit(gb).as("group_b"),
          col("n_a"), col("n_b"),
          col("ks_stat"),
          (lit(1.358) * sqrt((col("n_a") + col("n_b")).cast("double")
            / (col("n_a") * col("n_b")).cast("double"))).as("crit_05"),
          (col("ks_stat") > lit(1.358) * sqrt((col("n_a") + col("n_b")).cast("double")
            / (col("n_a") * col("n_b")).cast("double"))).as("drifted"))
        .localCheckpoint(true)
    } finally globalRanked.unpersist()
  }

  /** Schema-drift audit between two snapshots of a table (the contract
    * gate an ingest pipeline runs BEFORE data-level checks: a silently
    * added/removed/retyped column breaks downstream readers long before
    * any value-level drift fires). Pure METADATA — the diff reads two
    * schemas (parquet footers at rest), never a row; driver-side by
    * nature and O(columns). Output: one row per column in either
    * snapshot — (col_name, change_type ∈ added|removed|type_changed|
    * unchanged, ref_type, cur_type as Spark simpleStrings). */
  def schemaDiff(ref: DataFrame, cur: DataFrame): DataFrame = {
    val spark = ref.sparkSession
    import spark.implicits._
    val r = ref.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val c = cur.schema.map(f => f.name -> f.dataType.simpleString).toMap
    (r.keySet ++ c.keySet).toSeq.sorted.map { n =>
      (r.get(n), c.get(n)) match {
        case (Some(a), Some(b)) if a == b => (n, "unchanged", a, b)
        case (Some(a), Some(b)) => (n, "type_changed", a, b)
        case (Some(a), None) => (n, "removed", a, null)
        case (None, Some(b)) => (n, "added", null, b)
        case (None, None) => sys.error("unreachable")
      }
    }.toDF("col_name", "change_type", "ref_type", "cur_type")
  }

  /** Chi-square homogeneity test between two categorical samples — the
    * drift gate for DISCRETE columns, completing the family next to
    * [[driftPsi]] (numeric bins) and [[ksTwoSample]] (continuous CDFs):
    * did the category MIX shift between the reference and current
    * snapshots?
    *
    * Scale stance: one count aggregate per side keyed on the category
    * (map-side combined; the shuffles carry k rows), a full-outer join
    * of the two k-row count frames (a category absent from one side
    * counts 0 there — those cells still contribute), and a 1-row totals
    * frame broadcast back. Expected counts use the pooled margins
    * E = rowTotal·colTotal/N; chi² = Σ (O−E)²/E over both columns. Each
    * per-category term is a double expression over integer counts
    * (bit-identical cross-engine), rounded to 1e-9 and decimal-summed so
    * the k-term reduction is order-independent (a24's entropy stance).
    *
    * The verdict thresholds on Cramér's V = sqrt(chi²/N) (min(r−1,c−1)
    * = 1 for a two-sample table), NOT on the chi² p-value: at corpus
    * scale N makes chi² reject on irrelevantly tiny mix shifts, while V
    * is the sample-size-free effect size (0.1 ≈ "small" by Cohen's
    * convention).
    *
    * Returns one row: (n_ref, n_cur, k, chi2, df, cramers_v, drifted). */
  def chiSquareDrift(ref: DataFrame, cur: DataFrame, catCol: String,
      vThreshold: Double = 0.1): DataFrame = {
    val r = ref.groupBy(col(catCol).as("cat")).agg(count(lit(1)).as("o_ref"))
    val c = cur.groupBy(col(catCol).as("cat")).agg(count(lit(1)).as("o_cur"))
    val cells = r.join(c, Seq("cat"), "full_outer")
      .select(coalesce(col("o_ref"), lit(0L)).as("o_ref"),
        coalesce(col("o_cur"), lit(0L)).as("o_cur"))
    chiSquareFromCells(cells, vThreshold)
  }

  /** [[chiSquareDrift]]'s statistic computed from PRE-AGGREGATED cells
    * (`o_ref`, `o_cur` long counts, one row per category) — the entry
    * point for count state maintained elsewhere (e.g. a streaming MV of
    * per-category counts: the drift gate then reads k at-rest rows
    * instead of re-scanning two corpora). Same math, same output row. */
  def chiSquareFromCells(cells: DataFrame,
      vThreshold: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // the k-row cell frame feeds BOTH the totals branch and the term
    // branch — materialize it once (eager, k rows) or the upstream
    // corpus counts run twice (PlanAudit showed 4 events scans)
    val cellsM = cells.localCheckpoint(true)
    val totals = cellsM.agg(
      sum(col("o_ref")).as("t_ref"), sum(col("o_cur")).as("t_cur"),
      count(lit(1)).as("k"))
    val n = (col("t_ref") + col("t_cur")).cast(DoubleType)
    val rowTot = (col("o_ref") + col("o_cur")).cast(DoubleType)
    def cellTerm(o: Column, colTot: Column): Column = {
      val e = rowTot * colTot.cast(DoubleType) / n
      (o.cast(DoubleType) - e) * (o.cast(DoubleType) - e) / e
    }
    val term = cellTerm(col("o_ref"), col("t_ref")) +
      cellTerm(col("o_cur"), col("t_cur"))
    cellsM.attachSingleton(totals) // 1-row scalar attach
      .groupBy(col("t_ref").as("n_ref"), col("t_cur").as("n_cur"), col("k"))
      .agg(sum(round(term, 9).cast(DecimalType(27, 9))).cast(DoubleType).as("chi2"))
      .select(col("n_ref"), col("n_cur"), col("k"),
        round(col("chi2"), 6).as("chi2"),
        (col("k") - 1L).as("df"),
        round(sqrt(col("chi2") / (col("n_ref") + col("n_cur")).cast(DoubleType)), 6)
          .as("cramers_v"),
        (sqrt(col("chi2") / (col("n_ref") + col("n_cur")).cast(DoubleType))
          > vThreshold).as("drifted"))
  }
}
