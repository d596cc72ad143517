package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational building blocks from SURVEY.md §2 that are thin, reusable
  * compositions of the DataFrame API (value counts A9, band histograms
  * E12/A8, top-k windows W2/W3/W5, decile bucketing W4, dictionary diff
  * J7/E10/A5, labeled union J6, whale contingency A19).
  *
  * Scale notes are attached per operator; the general stance: group-bys
  * shuffle on their keys (map-side combined), per-group windows shuffle
  * once on the partition key, and the *global*-order operators (decile,
  * whale rank) are exact variants for oracle parity — each has an
  * approximate, fully-parallel twin for the 100 TB path.
  */
object Relational {

  /** A9: value counts — groupBy + count, deterministic order (count desc,
    * key asc). One shuffle on the key, map-side combined. */
  def valueCounts(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(key))

  /** A9: mode = most frequent value of a column (ties → smallest key). */
  def mode(df: DataFrame, key: String): DataFrame =
    valueCounts(df, key).limit(1)

  /** E12/A8: band histogram — label rows by a when-chain over `bands`
    * (upper-bound exclusive, last band catches the rest), then count per
    * band. `bands` = (label, upperBound) pairs in ascending bound order. */
  def bandLabel(c: Column, bands: Seq[(String, Double)], rest: String): Column =
    bands.foldRight(lit(rest)) { case ((label, ub), elseCol) =>
      when(c < ub, lit(label)).otherwise(elseCol)
    }

  /** W3: top-k rows per group by `order` (add unique tie-break columns in
    * `order` for determinism). One shuffle on the group key. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    df.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
  }

  /** What [[prefixScan]] accumulates along the order, per group. */
  private sealed trait Scan
  /** 1-based running row count; also emits the group's row count. */
  private final case class RankScan(totalCol: String) extends Scan
  /** Running Σ `weight` (as long) over rows at-or-before the row. */
  private final case class SumScan(weight: Column) extends Scan
  /** max(`value`) over rows strictly BEFORE the row (null when none). */
  private final case class PriorMaxScan(value: Column) extends Scan

  /** The one distributed prefix scan behind every global / per-group
    * rank and running aggregate here (and through them AUC, deciles and
    * the token-budget walk), with NO single-partition stage and no
    * per-group serialization:
    *   1. one range shuffle on (group ++ order), explicit partition count
    *      so AQE never re-coalesces it differently per consumer — a hot
    *      group spreads over many consecutive partitions;
    *   2. local sort, then `monotonically_increasing_id()` — its upper
    *      bits are the physical partition index and its lower 33 bits a
    *      consecutive within-partition counter, so one projection yields
    *      (pid, position) with no second shuffle and no mapPartitions
    *      (the expression is nondeterministic, which also bars the
    *      optimizer from reordering it below the sort);
    *   3. a tiny per-(partition, group) slice table (≤ partitions + groups
    *      rows) turned into strict-prior offsets per group by a window
    *      over the slices, broadcast back and joined NULL-SAFELY on the
    *      group keys, so a null group is one group like any other.
    * Rank is position − slice-first + 1 + offset (no data-path window);
    * sum and prior-max run a window per (partition, group) slice —
    * bounded by partition size, never a whole group.
    *
    * `order` must be a TOTAL order within the group (add a unique
    * tie-break, or pre-aggregate to one row per order key) — tied rows
    * get order-dependent values. Assumes < 2^33 rows per range partition.
    * Working columns are named `__scan_*`, so they never collide with a
    * caller's output names.
    *
    * CONSISTENCY NOTE (the round-12 rank-corruption fix): the offsets
    * side and the data side MUST observe the same physical range
    * partitioning. With both branches declared lazily off one range-
    * partitioned frame, that only held when Catalyst's exchange-reuse
    * fired — and column pruning breaks it: the offsets branch needs no
    * payload columns, so any input with a column outside `order` pruned
    * to a DIFFERENT (non-canonically-equal) exchange, each branch
    * sampled its own range boundaries, and the prefix offsets silently
    * mis-keyed (measured: 13k/15k ranks off on a 3-column orders frame;
    * 4,867–4,992 of 5,000 sf0.1 documents kept by a budget that fits all
    * of them when the text payload rode along). The sorted+mid frame is
    * therefore materialized ONCE via eager `localCheckpoint` — both
    * branches read the same partitions, with lineage truncated so a
    * recompute (which would re-sample boundaries) can never happen.
    *
    * COST + ROBUSTNESS CONTRACT: the checkpoint copies the FULL input
    * frame, payload columns included — a slim-only copy is impossible in
    * general, because joining payload back afterwards needs a row key
    * that is stable across recomputes, and minting one
    * (monotonically_increasing_id on the input) is itself unstable under
    * shuffle-fetch reordering unless the full frame is materialized
    * first. So callers should pass slim frames (order cols + whatever
    * the scan feeds) and join wide payload back on their own key.
    * localCheckpoint also truncates lineage: on a real cluster, losing
    * an executor holding checkpoint blocks fails the job (no recompute
    * path) — the price of deterministic scans; use cluster
    * `checkpoint()` to reliable storage if that tradeoff is wrong for a
    * deployment. */
  private def prefixScan(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      scan: Scan, outCol: String): DataFrame = {
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val keys = groupCols.map(col)
    val input = scan match {
      case SumScan(w) => df.withColumn("__scan_x", w.cast("long"))
      case PriorMaxScan(v) => df.withColumn("__scan_x", v)
      case _: RankScan => df
    }
    val sorted = input.repartitionByRange(nPart, keys ++ order: _*)
      .sortWithinPartitions(keys ++ order: _*)
      .withColumn("__scan_mid", monotonically_increasing_id())
      .localCheckpoint(true)
      .withColumn("__scan_pid", shiftright(col("__scan_mid"), 33).cast("int"))

    // Tiny side: one row per (partition, group) slice, keyed by renamed
    // copies of (pid, group) for the join back. Its windows run over the
    // slice table, not the data (a constant key stands in for "no
    // groups", which also keeps WindowExec from logging its
    // single-partition warning).
    val oKeys = groupCols.indices.map(i => s"__scan_g$i")
    val slices = sorted.groupBy(col("__scan_pid").as("__scan_opid") +:
      keys.zip(oKeys).map { case (k, o) => k.as(o) }: _*)
    val byGroup =
      Window.partitionBy((if (keys.isEmpty) Seq(lit(0)) else oKeys.map(col)): _*)
    val prior = byGroup.orderBy(col("__scan_opid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = scan match {
      case RankScan(totalCol) =>
        slices.agg(count(lit(1)).as("__scan_n"),
            min(col("__scan_mid")).as("__scan_first"))
          .withColumn("__scan_off", coalesce(sum(col("__scan_n")).over(prior), lit(0L)))
          .withColumn(totalCol, sum(col("__scan_n")).over(byGroup))
      case _: SumScan =>
        slices.agg(sum(col("__scan_x")).as("__scan_n"))
          .withColumn("__scan_off", coalesce(sum(col("__scan_n")).over(prior), lit(0L)))
      case _: PriorMaxScan =>
        slices.agg(max(col("__scan_x")).as("__scan_n"))
          .withColumn("__scan_off", max(col("__scan_n")).over(prior))
    }
    val onSlice = groupCols.zip(oKeys).foldLeft(col("__scan_pid") === col("__scan_opid")) {
      case (acc, (g, o)) => acc && (col(g) <=> col(o))
    }

    val slice = Window.partitionBy(col("__scan_pid") +: keys: _*).orderBy(col("__scan_mid"))
    val withLocal = scan match {
      case _: RankScan => sorted
      case _: SumScan => sorted.withColumn("__scan_loc", sum(col("__scan_x")).over(
        slice.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      case _: PriorMaxScan => sorted.withColumn("__scan_loc", max(col("__scan_x")).over(
        slice.rowsBetween(Window.unboundedPreceding, -1)))
    }
    val value = scan match {
      case _: RankScan => col("__scan_mid") - col("__scan_first") + 1 + col("__scan_off")
      case _: SumScan => col("__scan_loc") + col("__scan_off")
      case _: PriorMaxScan => greatest(col("__scan_loc"), col("__scan_off"))
    }
    withLocal.join(broadcast(offsets.drop("__scan_n")), onSlice)
      .withColumn(outCol, value)
      .drop(Seq("__scan_x", "__scan_mid", "__scan_pid", "__scan_loc", "__scan_opid",
        "__scan_first", "__scan_off") ++ oKeys: _*)
  }

  /** Exact global 1-based rank over `order` (the scale-safe replacement
    * for `row_number() OVER (ORDER BY …)`) via [[prefixScan]]. Adds
    * `rankCol` (long) and `totalCol` (long, the table row count).
    * Include unique tie-breakers in `order` for a deterministic rank. */
  def withGlobalRank(df: DataFrame, order: Seq[Column], rankCol: String,
      totalCol: String): DataFrame =
    prefixScan(df, Nil, order, RankScan(totalCol), rankCol)

  /** Global running total: `cumCol` = Σ weight over all rows at-or-before
    * this row in the global `order` — the weighted generalization of
    * [[withGlobalRank]] (rank = cumsum of weight 1), via [[prefixScan]].
    *
    * Primary use: cumulative counts over VALUE HISTOGRAMS (CDFs, exact
    * tie-aware ranks à la a28 and AUC — group to (value, count) first,
    * then cumsum the counts; the checkpoint then holds distinct values,
    * not rows). Ties in `order` get order-dependent intermediate cumsums
    * — include a unique tie-break, or pre-aggregate so ties cannot exist
    * (the histogram pattern does exactly that). */
  def withGlobalCumSum(df: DataFrame, order: Seq[Column], weight: Column,
      cumCol: String): DataFrame =
    prefixScan(df, Nil, order, SumScan(weight), cumCol)

  /** Per-group running total — [[withGlobalCumSum]] restarted per group
    * of `groupCols` (null keys form one group), via [[prefixScan]]: a hot
    * group spreads over many range partitions instead of one reducer. */
  def withGroupCumSum(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      weight: Column, cumCol: String): DataFrame =
    prefixScan(df, groupCols, order, SumScan(weight), cumCol)

  /** Attach a 1-row scalar frame to every row of `df` — the audit-clean
    * replacement for `crossJoin(broadcast(oneRow))`: a 1-row cross join
    * has no equi keys, so Catalyst plans it as BroadcastNestedLoopJoin,
    * the operator this repo's plan audit bans outright (a BNLJ with a
    * 1-row build side is executor-harmless, but banning the OPERATOR
    * unconditionally is what keeps the audit a one-line check — an
    * exception list would rot). A constant-key equi join does NOT work
    * either: FoldablePropagation folds the literal keys and the join
    * degenerates back to BNLJ. So the scalars are COLLECTED (a 1-row
    * bounded driver collect — the audited S7 class, u10's precedent)
    * and inlined as typed literals: no join at all, and downstream
    * constant folding / pushdown get real literals to work with. The
    * cost is one eager job at plan-build time per call site — the same
    * job the join would have run anyway to build its broadcast.
    *
    * Two guards, both loud-by-construction:
    * - name collision: withColumn silently REPLACES an existing column,
    *   where the crossJoin it replaced raised an ambiguity error — so a
    *   colliding call site must stay a failure, not silent data loss;
    * - the scalars frame EXECUTES here, at plan-build time, which is
    *   invisible to JoinShapeGuardSpec's walk of the final plan — so
    *   the banned-join-shape audit is enforced inline on the scalars
    *   sub-plan before collecting (a plan walk, negligible next to the
    *   collect job itself). */
  def attachSingleton(df: DataFrame, scalars: DataFrame): DataFrame = {
    val clash = scalars.schema.fieldNames.toSeq.intersect(df.columns.toSeq)
    require(clash.isEmpty,
      s"attachSingleton: scalar column(s) ${clash.mkString(", ")} already " +
        "exist on the target frame — rename one side (withColumn would " +
        "silently replace)")
    val bannedShapes = scalars.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        j.nodeName
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        j.nodeName
    }
    require(bannedShapes.isEmpty,
      s"attachSingleton: scalars sub-plan contains banned join shape(s) " +
        s"${bannedShapes.distinct.mkString(", ")} — it executes at " +
        "plan-build time where JoinShapeGuardSpec cannot see it; rewrite " +
        "the scalars frame (nest attachSingleton, use a real equi key)")
    val rows = scalars.take(2)
    require(rows.length == 1,
      s"attachSingleton needs exactly 1 scalar row, got ${rows.length}")
    scalars.schema.fields.zipWithIndex.foldLeft(df) { case (acc, (f, i)) =>
      acc.withColumn(f.name, lit(rows(0).get(i)).cast(f.dataType))
    }
  }

  /** Chain-position syntax for [[attachSingleton]] so a
    * `.crossJoin(broadcast(one))` call site converts in place:
    * `.attachSingleton(one)`. */
  implicit class SingletonAttachOps(private val df: DataFrame) {
    def attachSingleton(scalars: DataFrame): DataFrame =
      Relational.attachSingleton(df, scalars)
  }

  /** Strict-prior running MAX: `outCol` = max(`value`) over all rows
    * strictly BEFORE this row in the global `order` (null when no
    * predecessor), via [[prefixScan]].
    *
    * Primary use: dominance tests over a sorted axis (the 2-D skyline,
    * w19: a point survives iff its y beats the strict running max over
    * the x order). Rows TIED in `order` do not see each other (both get
    * the max over strictly-smaller keys) ONLY if pre-aggregated to one
    * row per order key — do that first, same rule as withGlobalCumSum's
    * histogram pattern. */
  def withGlobalCumMax(df: DataFrame, order: Seq[Column], value: Column,
      outCol: String): DataFrame =
    prefixScan(df, Nil, order, PriorMaxScan(value), outCol)

  /** W4 (exact): decile bucketing with NTILE tie semantics over a global
    * order, computed from the distributed [[withGlobalRank]] — no
    * single-partition window. NTILE(n) closed form: with N rows, the first
    * r = N mod n buckets take ceil(N/n) rows, the rest floor(N/n).
    * Matches the reference's qcut-ish equal-count split given a unique
    * order key. [[decileByRange]] is the approximate constant-pass twin. */
  def decileExact(df: DataFrame, order: Seq[Column], n: Int = 10): DataFrame =
    withGlobalRank(df, order, "__grk", "__gn")
      .withColumn("decile",
        ntileFromRank(col("__grk"), col("__gn"), n).cast("int"))
      .drop("__grk", "__gn")

  /** W4 (scale path): equal-frequency bucketing by approx-quantile cut
    * points — fully parallel (one pass for the sketch + one map pass).
    * Bucket edges are approximate; bucket populations approach n-tiles as
    * relativeError → 0. */
  def decileByRange(df: DataFrame, valueCol: String, n: Int = 10, relErr: Double = 1e-4): DataFrame = {
    val probs = (1 until n).map(_.toDouble / n).toArray
    val cuts = df.stat.approxQuantile(valueCol, probs, relErr)
    val c = col(valueCol)
    val bucket = cuts.zipWithIndex.foldRight(lit(n)) { case ((cut, i), elseCol) =>
      when(c <= cut, lit(i + 1)).otherwise(elseCol)
    }
    df.withColumn("decile", bucket.cast("int"))
  }

  /** W4 (qcut parity): pandas-style equal-frequency bucketing with
    * duplicate-edge dropping (`pd.qcut(x, n, labels=False,
    * duplicates="drop")`, reference `public_eda_pipeline.py:306-307`).
    * Edges are the type-7 (linearly interpolated) quantiles at i/n from
    * ONE distributed `percentile` aggregate; they are quantized to 1e-6
    * before dedupe so tie-boundary edges collapse identically across
    * engines (interpolation at a tie boundary is fp-fragile: DuckDB
    * yields 0.0199…97 where numpy/Spark yield 0.02 — only edges that
    * truly differ by <1e-6 are affected, a degenerate case). Assignment
    * is right-closed (code = #{interior unique edges < value}, 0-based),
    * null values get a null code.
    *
    * Tie-handling delta vs [[decileExact]] (ntile): ntile splits a run of
    * equal values across buckets to equalize counts; qcut keeps every
    * equal value in one bucket and DROPS the collapsed edges, so
    * heavy-tie columns yield fewer than n buckets of unequal size.
    *
    * Scale caveat: exact `percentile` buffers every value of `valueCol`
    * in aggregation state — fine for oracle parity (this method's
    * purpose), but at 100-TB scale use [[decileByRange]], whose
    * approx-quantile sketch is constant-memory per partition (same
    * caveat as [[decileExact]]'s scaladoc). */
  def decileQcut(df: DataFrame, valueCol: String, n: Int = 10): DataFrame = {
    val probs = array((0 to n).map(i => lit(i.toDouble / n)): _*)
    val edgesRow = df.agg(percentile(col(valueCol).cast("double"), probs).as("es"))
      .head()
    if (edgesRow.isNullAt(0)) { // empty / all-null input: no edges, null codes
      return df.withColumn("decile", lit(null).cast("int"))
    }
    val edges = edgesRow.getSeq[Double](0)
    val interior = edges.map(e => math.rint(e * 1e6) / 1e6).distinct.sorted.drop(1)
    val c = col(valueCol)
    val code = interior.foldLeft(lit(0)) { (acc, e) => acc + (c > lit(e)).cast("int") }
    df.withColumn("decile", when(c.isNotNull, code).cast("int"))
  }

  /** J7/E10/A5: dictionary diff — distinct values of `keyCol` in `left`
    * that never occur in `right`. Broadcast-friendly when dictionaries are
    * small; stays a shuffled anti join otherwise (both scale-safe). */
  def unseenValues(left: DataFrame, right: DataFrame, keyCol: String): DataFrame =
    left.select(col(keyCol)).distinct()
      .join(right.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
      .orderBy(col(keyCol))

  /** J6: vertical concat with a provenance label (reference's train∪test
    * adversarial frame, `public_eda_pipeline.py:431`). */
  def unionLabeled(a: DataFrame, b: DataFrame, labelCol: String): DataFrame =
    a.withColumn(labelCol, lit(0)).unionByName(b.withColumn(labelCol, lit(1)))

  /** Sketch twins of the exact operators (SURVEY §7.6): constant-memory
    * per-column estimates for the 100 TB path, where COUNT(DISTINCT) /
    * exact percentile would shuffle every value. rsd/relErr trade
    * precision for sketch size; accuracy contracts live in CoreSpec. */
  def distinctCountApprox(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame =
    df.agg(
      approx_count_distinct(col(cols.head), rsd).as(cols.head),
      cols.tail.map(c => approx_count_distinct(col(c), rsd).as(c)): _*)

  def quantilesApprox(df: DataFrame, c: String, probs: Seq[Double],
      relErr: Double = 1e-3): Seq[Double] =
    df.stat.approxQuantile(c, probs.toArray, relErr).toSeq

  /** Heavy hitters: values with frequency ≥ `support` per column
    * (count-based FreqItems sketch — one pass, constant memory; may
    * return false positives, never false negatives). */
  def heavyHitters(df: DataFrame, cols: Seq[String], support: Double = 0.01): DataFrame =
    df.stat.freqItems(cols.toArray, support)

  /** Count-min-sketch top-k frequency estimation over an integral key:
    * one bounded-memory pass builds the mergeable CMS (d×w counters,
    * merged across partitions), then the top-k keys by EXACT count are
    * scored against it. Emits per key: the exact count, the guaranteed
    * CMS invariant `overestimate_nonneg` (CMS never undercounts —
    * deterministic, not probabilistic) and `within_eps` (overestimate ≤
    * eps·N, holds w.p. `confidence`; deterministic here given the fixed
    * seed). At 100 TB the exact-groupBy side is replaced by querying the
    * sketch for candidate keys — the sketch itself is the only state
    * that crosses the wire (kilobytes for eps=1e-3). */
  def cmsTopK(df: DataFrame, keyCol: String, k: Int, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(col(keyCol).cast("long").as("k"))
    val total = keyed.count()
    val cms = keyed.stat.countMinSketch(col("k"), eps, confidence, seed)
    val top = keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("k")).limit(k).collect()
    top.map { r =>
      val (key, exact) = (r.getLong(0), r.getLong(1))
      val over = cms.estimateCount(key) - exact
      (key, exact, over >= 0, over <= eps * total)
    }.toSeq.toDF(keyCol, "n_exact", "overestimate_nonneg", "within_eps")
  }

  /** A19 (exact): whale contingency — top-`pct`% rows by `order` (strict
    * lexicographic rank; include unique tie-breakers) vs a boolean target:
    * returns (a,b,c,d) with a = whale∧target, b = whale∧¬target,
    * c = ¬whale∧target, d = rest, plus the positive-rate lift of whales.
    * Ranks via the distributed [[withGlobalRank]] (one range shuffle, no
    * single-partition window); the cut n = floor(N·pct/100) comes from the
    * same broadcast offsets table, so the whole thing is one pass over the
    * data plus a single-row reduction. (The reference's own cut is a
    * quantile, `public_eda_pipeline.py:622` — an approxQuantile cut on the
    * order value is an even cheaper variant when boundary fuzz is fine.) */
  def whaleContingency(df: DataFrame, order: Seq[Column], target: Column, pct: Double = 1.0): DataFrame = {
    val ranked = withGlobalRank(df, order, "__rk", "__gn")
      .withColumn("__t", target.cast("int"))
    val n = floor(col("__gn") * lit(pct) / 100.0)
    ranked
      .withColumn("__whale", (col("__rk") <= n).cast("int"))
      .agg(
        sum(when(col("__whale") === 1 && col("__t") === 1, 1L).otherwise(0L)).as("a"),
        sum(when(col("__whale") === 1 && col("__t") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("__whale") === 0 && col("__t") === 1, 1L).otherwise(0L)).as("c"),
        sum(when(col("__whale") === 0 && col("__t") === 0, 1L).otherwise(0L)).as("d"))
      .withColumn(
        "whale_lift",
        round(
          (col("a").cast("double") / (col("a") + col("b"))) /
            ((col("a") + col("c")).cast("double") / (col("a") + col("b") + col("c") + col("d"))),
          6))
  }

  /** Key-based upsert (last-writer-wins merge): rows of `base` whose key
    * appears in `updates` are replaced by the update row; update rows
    * with new keys are inserted; everything else passes through — the
    * MERGE-INTO shape expressed without a table format (anti-join on the
    * keys + union).
    *
    * Scale stance: one shuffle of `base` on the keys (or none — a small
    * update batch's distinct-keys side broadcasts, which AQE picks
    * automatically), then a union that preserves `base`'s partitioning.
    * On a partitioned 100-TB corpus, pre-filter `base` to the partitions
    * the batch touches (partition pruning) and write back with dynamic
    * partition overwrite — the anti-join then only scans affected
    * partitions. `updates` must be key-unique (dedupe first; this is the
    * same contract MERGE INTO imposes with multiple matches). */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    base.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(updates)

  /** Exact PER-GROUP 1-based rank with no per-group serialization — the
    * group-keyed generalization of [[withGlobalRank]], for rank-position
    * families (percent_rank / cume_dist / ntile) whose stock
    * `Window.partitionBy(group)` plan caps parallelism at the GROUP
    * COUNT (measured: 17 s at 15M orders × 5 priorities, gates12b —
    * every group is one task). Via [[prefixScan]], so each group's rows
    * spread over many contiguous range partitions; null keys form one
    * group.
    *
    * `order` must be a TOTAL order within the group (add a unique
    * tie-break) — with ties, rank here is row_number, not RANK. Adds
    * `rankCol` and `groupTotalCol` (rows in the row's group). */
  def withGroupRank(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      rankCol: String, groupTotalCol: String): DataFrame =
    prefixScan(df, groupCols, order, RankScan(groupTotalCol), rankCol)

  /** NTILE(n) closed form from a per-group (rank, total) pair — the
    * [[decileExact]] formula, reusable against [[withGroupRank]]. */
  def ntileFromRank(rank: Column, total: Column, n: Int): Column = {
    val q = floor(total / n).cast("long")
    val r = total - q * n
    val thr = r * (q + lit(1L))
    when(rank <= thr, floor((rank - 1) / (q + lit(1L))) + 1)
      .otherwise(r + floor((rank - thr - 1) / greatest(q, lit(1L))) + 1)
  }

  /** DISTRIBUTED exact frequency-weighted quantiles: quantile_cont over
    * the multiset where each row repeats `weightCol` times, computed
    * WITHOUT expanding rows and WITHOUT buffering the group in memory.
    *
    * Spark's built-in exact `percentile(col, p, freq)` collects every
    * (value, freq) pair into the aggregation buffer — with few groups
    * that concentrates the whole table into a handful of buffers
    * (measured: heap OOM at 60M rows / 3 groups, DevScale gates12b).
    * This instead runs ONE group-sorted window cumsum (running ROWS
    * frame — O(1) state, spillable sort) to give each row its
    * 0-indexed expanded-position interval [cum−w, cum−1], broadcasts
    * the tiny per-group target-position frame (pos = p·(ΣW−1), the
    * quantile_cont convention), keeps only the 1–2 covering rows per
    * (group, p), and interpolates. Ties in `valueCol` are safe under
    * any tiebreak — equal values interpolate to themselves.
    *
    * Use dyadic probabilities (0.5, 0.25, 0.75, …) when hash-matching
    * an external engine: p·(W−1) is then fp-exact, so the covering
    * indices agree bit-for-bit.
    *
    * Output: one row per group: groupCol, total_weight, q_<p> columns
    * (p formatted with '_' for '.'), e.g. q_0_5. */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"probabilities must be in [0,1]: $ps")
    val slim = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"),
        col(weightCol).cast("long").as("__w"))
      // null values are excluded, matching percentile/median/QUANTILE_CONT
      .where(col("__v").isNotNull && col("__w") > 0)
      // HISTOGRAM-COMPRESS first: collapsing to (group, DISTINCT value,
      // Σw) is a fully-parallel map-side-combined aggregate, so the
      // per-group window below — whose parallelism is the group count —
      // only ever scans distinct values, not rows (measured: 120 s →
      // seconds at 60M rows / 3 groups when values repeat). Identical
      // expansion semantics; also makes values unique per group, so the
      // covering row per target index is unique by construction.
      .groupBy(col("__g"), col("__v")).agg(sum(col("__w")).as("__w"))
    quantilesFromHist(slim, "__g", "__v", "__w", ps)
      .withColumnRenamed("__g", groupCol)
  }

  /** Quantile kernel over an ALREADY-COMPRESSED (group, DISTINCT value,
    * Σweight) histogram: every probability is answered from ONE
    * group-keyed window pass (cumulative weight + total weight share the
    * same exchange) and one group-sized aggregate — no targets
    * broadcast, no per-p explode, no pivot (the previous generic chain
    * was ~5 exchanges; measured 2.4×/4.2× on dq3/v2 via
    * [[Validation.robustOutliers]]). The position / covering-row /
    * interpolation expressions are the quantile_cont contract
    * (p·(W−1), floor/ceil covering rows, linear interpolation between
    * them) evaluated on the same doubles as before, so results are
    * bit-identical. Distinct values per group make the covering row per
    * index unique; duplicate values are still CORRECT (tied rows carry
    * equal values, so the covering row's value is the sorted-multiset
    * value at the index however the tie is ordered) — they just split
    * one histogram row in two.
    *
    * Output: (groupCol, total_weight, q_<p>...) — one row per group. */
  private[graft] def quantilesFromHist(hist: DataFrame, groupCol: String,
      vCol: String, wCol: String, ps: Seq[Double]): DataFrame = {
    val byG = Window.partitionBy(col(groupCol))
    val cum = hist
      .withColumn("__cum", sum(col(wCol)).over(
        byG.orderBy(col(vCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__tw", sum(col(wCol)).over(byG))
    def pName(p: Double) = "q_" + p.toString.replace('.', '_').stripSuffix("_0")
    def pos(p: Double): Column = lit(p) * (col("__tw") - 1).cast("double")
    def loOf(p: Double): Column = floor(pos(p)).cast("long")
    def hiOf(p: Double): Column = ceil(pos(p)).cast("long")
    def coversLo(p: Double): Column =
      col("__cum") - col(wCol) <= loOf(p) && col("__cum") - 1 >= loOf(p)
    def coversHi(p: Double): Column =
      col("__cum") - col(wCol) <= hiOf(p) && col("__cum") - 1 >= hiOf(p)
    val aggs = Seq(min(col("__tw")).as("total_weight")) ++ ps.flatMap { p =>
      Seq(min(when(coversLo(p), col(vCol))).as(s"__vlo_${pName(p)}"),
        min(when(coversHi(p), col(vCol))).as(s"__vhi_${pName(p)}"))
    }
    // pos/lo are group constants (functions of total weight), so the
    // interpolation re-derives them from total_weight after the agg —
    // the same double expressions evaluated on the same inputs.
    def posT(p: Double): Column = lit(p) * (col("total_weight") - 1).cast("double")
    def loT(p: Double): Column = floor(posT(p)).cast("long")
    cum.where(ps.map(p => coversLo(p) || coversHi(p)).reduce(_ || _))
      .groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(groupCol) +: col("total_weight") +: ps.map { p =>
        val n = pName(p)
        (col(s"__vlo_$n") +
          (posT(p) - loT(p)) * (col(s"__vhi_$n") - col(s"__vlo_$n"))).as(n)
      }: _*)
  }
}
