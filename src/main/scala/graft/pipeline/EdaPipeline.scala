package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{FeatureCatalog, Relational, Sampling, WideAgg}
import graft.io.Sinks
import graft.io.Sinks.{asc, desc, orderBy}
import graft.ml.{Adversarial, Clustering}
import graft.stats.{Auc, Correlations, StatTests}

/** End-to-end EDA pipeline: the reference's analysis blocks in order
  * (`eda_workspace/public_eda_pipeline.py:73-714`), re-expressed
  * Spark-first over the reference-schema analog (FIXTURES.md §A).
  * Emits the golden-table layout: CSVs + summary.json + report.md.
  *
  * Block → reference line map:
  *   1 counts P:76-85 · 2 target stats P:87-116 · 3 opened dist P:119-135
  *   4 pair lift P:138-173 · 5 corr matrix + antagonist P:140-181
  *   6 clustering P:184-229 · 7 main missingness P:233-247
  *   8 extra bands P:249-280 · 9 filled-count deciles/AUC P:283-318
  *   10 missing-indicator AUC P:321-364 · 11 dictionaries P:369-405
  *   12 adversarial P:410-459 · 13 linear screen P:464-536
  *   14 universality P:539-594 · 15 whales P:599-669 · 16 summary P:674-905
  *
  * Scale: every block that touches full-width input runs as Spark jobs
  * (batched wide aggs, one-pass Gramians, sampled joins with pushed-down
  * hash filters). What they return is small (≤ ~100k rows) and stays a
  * Scala collection from there on, as the reference keeps its small
  * statistics in pandas/NumPy: sorted (Spark's order, [[Sinks.orderBy]]),
  * ranked, grouped and written on the driver, never sent back through a
  * Spark job.
  */
object EdaPipeline {

  final case class Result(
      trainRows: Long, testRows: Long,
      nTargets: Int, rareTargets: Int,
      filledCountAuc: Double, filledCountPb: Double,
      adversarialAuc: Double,
      silhouetteK4: Double, largestClusterShare: Double,
      unseenCatFeatures: Int,
      screenedFeatures: Int, screenSampleRows: Long,
      whaleSignificant: Long)

  def run(spark: SparkSession, inputDir: String, outDir: String): Result = {
    def load(n: String) = spark.read.parquet(s"$inputDir/$n.parquet")
    def out(n: String) = s"$outDir/$n"
    // per-block wall clock (the scaling-curve instrument, FIXTURES.md):
    // prints at block END — the delta since the previous tick
    val tBlock = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    def tick(block: String): Unit = {
      val now = System.nanoTime()
      println(f"[pipeline] block $block%-28s ${(now - tBlock.getAndSet(now)) / 1e9}%6.1f s")
    }
    def rows(ps: Seq[Product]): Seq[Row] = ps.map(Row.fromTuple)
    def boxed(v: Option[Double]): java.lang.Double = v.map(Double.box).orNull
    def mean(xs: Seq[Double]): Double = xs.sum / xs.size
    // the middle value, or the mean of the two middle values (as Spark's
    // `median`: 0.5·lo + 0.5·hi is the same double as (lo + hi) / 2)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    val trainMain = load("train_main_features")
    val testMain = load("test_main_features")
    val trainExtra = load("train_extra_features")
    val trainTarget = load("train_target")

    val mainCat = FeatureCatalog.fromSchema(trainMain.schema.fieldNames.toSeq)
    val extraCat = FeatureCatalog.fromSchema(trainExtra.schema.fieldNames.toSeq)
    val tgtCat = FeatureCatalog.fromSchema(trainTarget.schema.fieldNames.toSeq)
    val targets = tgtCat.targets

    // ---- 1: dataset sizes --------------------------------------------------
    val trainRows = trainMain.count()
    val testRows = testMain.count()

    tick("1_sizes")
    // ---- 2: target stats (one Gramian pass → rate → family → sort) --------
    // n, the per-target positives and every co-count from ONE scan of
    // train_target (reference `P:143-144`); blocks 4–6 read it too
    val gram = Correlations.gramian(trainTarget, targets)
    val targetStats = targets.indices.map { i =>
      val pos = gram.positives(i)
      (targets(i), FeatureCatalog.targetFamily(targets(i)), pos, pos.toDouble / trainRows)
    }
    val statHeader = Seq("target", "family", "positive_count", "positive_rate")
    val statsSorted = orderBy(targetStats)(desc(_._3), asc(_._1))
    Sinks.writeCsv(statHeader, rows(statsSorted), out("target_stats.csv"))
    val familyHeader = Seq("family", "n_targets", "avg_rate", "min_rate", "max_rate")
    val familyRows = rows(orderBy(statsSorted.groupBy(_._2).toSeq)(asc(_._1)).map {
      case (fam, ts) =>
        val rates = ts.map(_._4)
        (fam, ts.size.toLong, mean(rates), rates.min, rates.max)
    })
    Sinks.writeCsv(familyHeader, familyRows, out("target_family_stats.csv"))

    tick("2_target_stats")
    // ---- 3: opened-targets distribution ------------------------------------
    val opened = trainTarget.withColumn("n_opened", WideAgg.horizontalSum(targets))
      .groupBy(col("n_opened")).agg(count(lit(1)).as("n_customers")).orderBy(col("n_opened"))
    val openedRows = Sinks.collectSmall(opened)
    Sinks.writeCsv(opened.columns.toSeq, openedRows, out("opened_targets_distribution.csv"))

    tick("3_opened_dist")
    // ---- 4: pair co-occurrence + lift (from the block-2 Gramian) -----------
    // (col_a, col_b, count_a, count_b, co_count, pair_lift, corr): the pair
    // tables write the first six cells, the corr-enriched ones all seven
    val pairs = for { i <- targets.indices; j <- targets.indices if i < j } yield
      (targets(i), targets(j), gram.positives(i), gram.positives(j), gram.co(i, j),
        gram.lift(i, j), gram.pearson(i, j))
    val pairHeader = Seq("col_a", "col_b", "count_a", "count_b", "co_count", "pair_lift")
    Sinks.writeCsv(pairHeader, rows(orderBy(pairs)(asc(_._1), asc(_._2))),
      out("target_pair_stats.csv"))
    val byLift = rows(orderBy(pairs.filter(_._5 >= 10))(desc(_._6), asc(_._1), asc(_._2)))
    Sinks.writeCsv(pairHeader, byLift.take(30), out("target_top_pairs.csv"))

    tick("4_pair_lift")
    // ---- 5: 41×41 corr matrix + antagonist slice ---------------------------
    // Pearson r from the Gramian's exact integer moments
    Sinks.writeCsv("target" +: targets,
      targets.indices.map(i => Row.fromSeq(targets(i) +: targets.indices.map(gram.pearson(i, _)))),
      out("target_corr_matrix.csv"))
    // pair tables enriched with the pearson corr of each pair
    // (reference `P:168-173`): top-30 positive / negative / lift slices
    val pairCorrHeader = pairHeader :+ "corr"
    Sinks.writeCsv(pairCorrHeader,
      rows(orderBy(pairs)(desc(_._7), asc(_._1), asc(_._2)).take(30)),
      out("top_positive_target_pairs.csv"))
    Sinks.writeCsv(pairCorrHeader,
      rows(orderBy(pairs)(asc(_._7), asc(_._1), asc(_._2)).take(30)),
      out("top_negative_target_pairs.csv"))
    Sinks.writeCsv(pairCorrHeader, byLift.take(30), out("top_cooccurrence_lift_pairs.csv"))

    val antagonist = targets.head // family-10 analog of target_10_1
    val ai = targets.indexOf(antagonist)
    val antiCorrs = targets.indices.filter(_ != ai).map(j => (targets(j), gram.pearson(ai, j)))
    val antagonistNegShare = antiCorrs.count(_._2 < 0).toDouble / antiCorrs.size
    Sinks.writeCsv(Seq("target", "corr_with_antagonist"), rows(orderBy(antiCorrs)(asc(_._2))),
      out("antagonist_corr_slice.csv"))
    // abs-sorted profile variant (reference's target_10_1_profile, `P:175-181`)
    Sinks.writeCsv(Seq("other_target", "correlation", "abs_correlation"),
      rows(orderBy(antiCorrs.map { case (t, r) => (t, r, math.abs(r)) })(desc(_._3), asc(_._1))),
      out("antagonist_profile.csv"))

    tick("5_corr_matrix")
    // ---- 6: clustering on 1−|corr| (k ∈ {3,4,5}) ---------------------------
    val dist = Array.tabulate(targets.size, targets.size)((i, j) =>
      1.0 - math.abs(gram.pearson(i, j)))
    val byK = Seq(3, 4, 5).map { k =>
      val labels = Clustering.averageLinkage(dist, k)
      k -> (labels, Clustering.silhouette(dist, labels))
    }.toMap
    val (labels4, sil4) = byK(4)
    // per-k quality table: silhouette + cluster-size value counts
    // (reference's target_cluster_quality, `P:186-205`)
    Sinks.writeCsv(
      Seq("k", "silhouette_precomputed", "largest_cluster_share",
        "min_cluster_size", "max_cluster_size"),
      rows(Seq(3, 4, 5).map { k =>
        val (labels, sil) = byK(k)
        val sizes = labels.groupBy(identity).values.map(_.size)
        (k, sil, sizes.max.toDouble / targets.size, sizes.min, sizes.max)
      }),
      out("target_cluster_quality.csv"))
    val families = targets.map(FeatureCatalog.targetFamily).toArray
    Sinks.writeCsv(Seq("target", "family", "cluster"),
      rows(orderBy(targets.indices.map(i => (targets(i), families(i), labels4(i))))(
        asc(_._3), asc(_._1))),
      out("target_cluster_assignments.csv"))
    Sinks.writeCsv(
      Seq("cluster", "size", "avg_intra_dist", "dominant_family", "dominant_share"),
      rows(Clustering.summaries(dist, labels4, families)
        .map(s => (s.cluster, s.size, s.avgIntraDist, s.dominantGroup, s.dominantShare))),
      out("target_cluster_summary.csv"))
    val largestShare = labels4.groupBy(identity).values.map(_.size).max.toDouble / targets.size

    tick("6_clustering")
    // ---- 7: main-feature missingness ---------------------------------------
    val mainFeats = mainCat.allFeatures
    val mainNulls = WideAgg.nullRates(trainMain, mainFeats)

    tick("7_main_missing")
    // ---- 8: extra-feature missingness bands --------------------------------
    val extraNulls = WideAgg.nullRates(trainExtra, extraCat.numFeatures)
    // the combined summary is main ∪ extra (reference `P:249-267`), plus
    // the extra-only slice and its top-10-missing head as separate tables
    val nullHeader = Seq("col_name", "null_rate", "feature_type", "source")
    def byNullRate(ps: Seq[(String, java.lang.Double, String, String)]) =
      rows(orderBy(ps)(desc(_._2), asc(_._1)))
    val mainLabeled = mainNulls.map { case (c, r) =>
      (c, boxed(r), if (c.startsWith("num_")) "numeric" else "categorical", "main")
    }
    val extraLabeled = extraNulls.map { case (c, r) => (c, boxed(r), "numeric", "extra") }
    Sinks.writeCsv(nullHeader, byNullRate(mainLabeled ++ extraLabeled),
      out("feature_missingness_summary.csv"))
    val extraByRate = byNullRate(extraLabeled)
    Sinks.writeCsv(nullHeader, extraByRate, out("extra_missingness_summary.csv"))
    Sinks.writeCsv(nullHeader, extraByRate.take(10), out("top10_missing_features.csv"))
    // a null rate (empty frame) falls through every band, as SQL's `<` does
    val bands = Seq("a_.. <=0.10" -> 0.10001, "b_.. <=0.50" -> 0.50001,
      "c_.. <=0.90" -> 0.90001, "d_.. <=0.99" -> 0.99001)
    val bandHeader = Seq("band", "n_features")
    val bandRows = rows(orderBy(extraNulls.groupBy { case (_, r) =>
      bands.find { case (_, ub) => r.exists(_ < ub) }.fold("e_.. >0.99")(_._1)
    }.toSeq.map { case (band, cs) => (band, cs.size.toLong) })(asc(_._1)))
    Sinks.writeCsv(bandHeader, bandRows, out("extra_missingness_bands.csv"))

    tick("8_extra_bands")
    // ---- 9: filled-extra-count → deciles, AUC, point-biserial --------------
    val filled = trainExtra.select(
      col("customer_id"),
      WideAgg.horizontalNotNullCount(extraCat.numFeatures).as("filled_extra_count"))
    val anyOpen = trainTarget.select(
      col("customer_id"),
      WideAgg.flag(WideAgg.horizontalSum(targets) > 0).as("any_open"))
    val joined = filled.join(anyOpen, Seq("customer_id"), "inner").cache()
    val deciles = Relational.decileExact(joined, Seq(col("filled_extra_count"), col("customer_id")))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), avg(col("filled_extra_count")).as("avg_filled"),
        avg(col("any_open").cast("double")).as("open_rate"))
      .orderBy(col("decile"))
    val decileRows = Sinks.collectSmall(deciles)
    Sinks.writeCsv(deciles.columns.toSeq, decileRows, out("filled_extra_count_deciles.csv"))
    val aucRow = Auc.aucDf(joined, col("any_open") === 1, col("filled_extra_count")).collect()(0)
    val filledAuc = aucRow.getAs[Double]("auc")
    val pbRow = joined.agg(
      corr(col("any_open").cast("double"), col("filled_extra_count").cast("double")).as("r"),
      count(lit(1)).as("n")).collect()(0)
    val filledPb = pbRow.getAs[Double]("r")
    val filledPbP = StatTests.corrPValue(filledPb, pbRow.getAs[Long]("n"))
    joined.unpersist()

    tick("9_filled_deciles")
    // ---- 10: missing-indicator AUC (30% sample) ----------------------------
    val candidates = extraNulls.collect {
      case (c, Some(nr)) if nr > 0.05 && nr < 0.95 => c
    }.take(20)
    val sampled = Sampling.modSample(trainExtra, "customer_id", 30)
      .select((col("customer_id") +: candidates.map(col)): _*)
      .join(anyOpen, Seq("customer_id"), "inner")
      .select((col("any_open") +: candidates.map(c => col(c).isNotNull.cast("int").as(c))): _*)
    // all indicator AUCs in ONE aggregate pass (binary-score closed form)
    val indAuc = orderBy(Auc.binaryAucProfile(sampled, col("any_open") === 1, candidates))(
      desc(_.get(2)), asc(_.get(0)))
    Sinks.writeCsv(Seq("feature", "auc", "abs_auc"), indAuc, out("missing_indicator_auc.csv"))

    tick("10_missing_auc")
    // ---- 11: categorical dictionaries + unseen test categories -------------
    // Melted to ONE (feature, value) pass per side + one anti-join — a
    // handful of jobs total instead of ~4 per feature (the reference loops
    // per column in pandas where data is in memory, `P:369-405`; at
    // cluster scale per-feature jobs are minutes of scheduler latency for
    // seconds of work). Null handling matches the per-feature loop: a null
    // group never equi-matches, so null test values always count as
    // unseen, and cardinalities count the null group (distinct() kept it).
    val catCols = mainCat.catFeatures
    def meltCats(df: DataFrame): DataFrame =
      df.select(expr(
        s"stack(${catCols.length}, " +
          catCols.map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ") +
          ") AS (feature, value)"))
    val trainGroups = meltCats(trainMain).groupBy("feature", "value")
      .agg(count(lit(1)).as("n_tr")).cache()
    val testGroups = meltCats(testMain).groupBy("feature", "value")
      .agg(count(lit(1)).as("n_te")).cache()
    val unseenAgg = testGroups.join(trainGroups, Seq("feature", "value"), "left_anti")
      .groupBy("feature")
      .agg(count(lit(1)).as("unseen_test_values"), sum("n_te").as("unseen_rows"))
    val catStatsDf = trainGroups.groupBy("feature").agg(count(lit(1)).as("train_cardinality"))
      .join(testGroups.groupBy("feature").agg(count(lit(1)).as("test_cardinality")),
        Seq("feature"))
      .join(unseenAgg, Seq("feature"), "left")
      .select(col("feature"), col("train_cardinality"), col("test_cardinality"),
        coalesce(col("unseen_test_values"), lit(0L)).as("unseen_test_values"),
        (coalesce(col("unseen_rows"), lit(0L)) / testRows.toDouble).as("unseen_row_rate"))
      .orderBy(col("feature"))
    val catStats = Sinks.collectSmall(catStatsDf)
    trainGroups.unpersist(); testGroups.unpersist()
    Sinks.writeCsv(catStatsDf.columns.toSeq, catStats, out("categorical_cardinality.csv"))
    // unseen-values slice sorted by test-row impact (reference's
    // categorical_unseen_categories, `P:398-405`)
    Sinks.writeCsv(Seq("feature", "unseen_unique_categories", "unseen_rate_test_rows"),
      rows(orderBy(catStats.map(r => (r.getString(0), r.getLong(3), r.getDouble(4))))(
        desc(_._3), asc(_._1))),
      out("categorical_unseen_categories.csv"))
    val unseenFeatures = catStats.count(_.getLong(3) > 0)

    tick("11_cat_dicts")
    // ---- 12: adversarial shift (20% samples) -------------------------------
    val advCols = mainCat.numFeatures ++ mainCat.catFeatures
    val (advAuc, _, _) = Adversarial.adversarialAuc(
      Sampling.modSample(trainMain, "customer_id", 20),
      Sampling.modSample(testMain, "customer_id", 20),
      advCols, maxIter = 15, maxDepth = 4)
    Sinks.writeCsv(Seq("experiment", "auc"), Seq(Row("train_vs_test", advAuc)),
      out("adversarial_auc.csv"))

    tick("12_adversarial")
    // ---- 13: linear screening (12% sample, impute, cross-corr) -------------
    val screenFeats =
      mainCat.numFeatures ++ extraNulls.collect { case (c, Some(nr)) if nr < 0.95 => c }
    val screenSample = Sampling.modSample(trainMain, "customer_id", 12)
      .select((col("customer_id") +: mainCat.numFeatures.map(col)): _*)
      .join(Sampling.modSample(trainExtra, "customer_id", 12)
        .select((col("customer_id") +:
          screenFeats.filterNot(mainCat.numFeatures.contains).map(col)): _*),
        Seq("customer_id"), "inner")
      .join(Sampling.modSample(trainTarget, "customer_id", 12), Seq("customer_id"), "inner")
      .cache()
    val screenRows = screenSample.count()
    // (feature, target, corr, abs_corr)
    val linear = Correlations.crossCorrRows(screenSample, screenFeats, targets)
    screenSample.unpersist()
    val linearHeader = Seq("feature", "target", "corr", "abs_corr")
    Sinks.writeCsv(linearHeader, rows(orderBy(linear)(asc(_._1), asc(_._2))),
      out("feature_target_linear_corr.csv"))
    val valid = linear.filterNot(_._3.isNaN)
    // top-k features per target by |corr|, ranked 1..k, in (target, rk) order
    def topK(ls: Seq[(String, String, Double, Double)], k: Int) =
      rows(orderBy(ls.groupBy(_._2).values.toSeq.flatMap { rs =>
        orderBy(rs)(desc(_._4), asc(_._1)).take(k).zipWithIndex.map {
          case ((f, t, c, a), i) => (f, t, c, a, i + 1)
        }
      })(asc(_._2), asc(_._5)))
    val top10 = topK(valid, 10)
    Sinks.writeCsv(linearHeader :+ "rk", top10, out("top10_features_per_target.csv"))

    // feature provenance for the mix/signal tables
    val mainFeatSet = (mainCat.numFeatures ++ mainCat.catFeatures).toSet
    def source(f: String) = if (mainFeatSet(f)) "main" else "extra"
    def categorical(f: String) = f.startsWith("cat_")

    // per-target composition of the top-10 list (reference `P:539-551`)
    Sinks.writeCsv(
      Seq("target", "mean_abs_corr_top10", "n_cat_top10", "n_num_top10", "n_main_top10",
        "n_extra_top10"),
      rows(orderBy(top10.groupBy(_.getString(1)).toSeq.map { case (t, rs) =>
        val fs = rs.map(_.getString(0))
        val (nCat, nMain) = (fs.count(categorical).toLong, fs.count(source(_) == "main").toLong)
        (t, mean(rs.map(_.getDouble(3))), nCat, fs.size - nCat, nMain, fs.size - nMain)
      })(desc(_._2), asc(_._1))),
      out("target_top10_feature_mix.csv"))

    // universality via top-10 membership (reference `P:553-563`; the full-
    // screen variant below stays as feature_universality.csv)
    Sinks.writeCsv(
      Seq("feature", "n_targets_top10", "mean_abs_corr_when_top10", "max_abs_corr_when_top10"),
      rows(orderBy(top10.groupBy(_.getString(0)).toSeq.map { case (f, rs) =>
        val a = rs.map(_.getDouble(3))
        (f, rs.map(_.getString(1)).distinct.size.toLong, mean(a), a.max)
      })(desc(_._2), desc(_._3), asc(_._1))),
      out("feature_universality_top10.csv"))

    // full-screen signal summary with provenance + null rate (reference
    // `P:565-585`)
    val absByFeature = valid.groupBy(_._1).toSeq.map { case (f, rs) => f -> rs.map(_._4) }
    val nullRateOf = (mainNulls ++ extraNulls).toMap
    Sinks.writeCsv(
      Seq("feature", "max_abs_corr", "mean_abs_corr", "n_targets_abs_corr_gt_005",
        "n_targets_abs_corr_gt_010", "source", "feature_type", "null_rate"),
      rows(orderBy(absByFeature.map { case (f, a) =>
        (f, a.max, mean(a), a.count(_ > 0.05).toLong, a.count(_ > 0.10).toLong, source(f),
          if (categorical(f)) "categorical" else "numeric", boxed(nullRateOf.get(f).flatten))
      })(desc(_._2), desc(_._3), asc(_._1))),
      out("feature_signal_summary.csv"))

    // convenience slice: top-5 linear rows for a fixed target set
    // (reference's golden_linear_top5_selected_targets, `P:587-594`;
    // selection is deterministic — first 4 targets in catalog order)
    val selectedTargets = targets.take(4).toSet
    Sinks.writeCsv(linearHeader :+ "rk", topK(valid.filter(r => selectedTargets(r._2)), 5),
      out("golden_linear_top5_selected_targets.csv"))

    tick("13_screening")
    // ---- 14: feature universality ------------------------------------------
    val univHeader = Seq("feature", "n_targets_gt05", "mean_abs_corr", "max_abs_corr",
      "median_abs_corr")
    val universality = rows(orderBy(absByFeature.map { case (f, a) =>
      (f, a.count(_ > 0.05).toLong, mean(a), a.max, median(a))
    })(desc(_._2), desc(_._3), asc(_._1)))
    Sinks.writeCsv(univHeader, universality, out("feature_universality.csv"))

    tick("14_universality")
    // ---- 15: whale signals (p99 cut × rare targets, Fisher) ----------------
    val rare = targetStats.filter(_._4 < 0.05).map(_._1).take(8)
    val whaleSample = Sampling.modSample(trainMain, "customer_id", 12)
      .join(trainTarget.select((col("customer_id") +: rare.map(col)): _*),
        Seq("customer_id"), "inner").cache()
    val nW = whaleSample.count()
    val numFeats = mainCat.numFeatures
    val cuts = WideAgg.runBatched(whaleSample, numFeats,
      c => percentile(col(c), lit(0.99))).toMap
    // one pass: per (feature,target) contingency via conditional aggs
    val aggExprs = numFeats.flatMap { f =>
      val whale = col(f).isNotNull && col(f) >= cuts(f).getOrElse(Double.MaxValue)
      Seq(sum(when(whale, 1L).otherwise(0L)).as(s"${f}__n")) ++ rare.map { t =>
        sum(when(whale && col(t) === 1, 1L).otherwise(0L)).as(s"${f}__${t}__a")
      }
    } ++ rare.map(t => sum(col(t).cast("long")).as(s"__tot__$t"))
    val aggRow = whaleSample.agg(aggExprs.head, aggExprs.tail: _*).collect()(0)
    whaleSample.unpersist()
    def gl(n: String): Long = if (aggRow.isNullAt(aggRow.fieldIndex(n))) 0L
      else aggRow.getLong(aggRow.fieldIndex(n))
    val whaleRows = for {
      f <- numFeats
      t <- rare
      nWhale = gl(s"${f}__n") if nWhale > 0
      a = gl(s"${f}__${t}__a")
      tot = gl(s"__tot__$t")
    } yield {
      val b = nWhale - a
      val c = tot - a
      val d = nW - nWhale - c
      val whaleRate = a.toDouble / nWhale
      val baseRate = tot.toDouble / nW
      val lift = if (baseRate > 0) whaleRate / baseRate else Double.NaN
      val p = StatTests.fisherExactGreater(a, b, c, d)
      (f, t, nWhale, a, lift, p)
    }
    val whaleHeader = Seq("feature", "target", "n_whales", "n_whale_pos", "lift", "p_value")
    val whalesByP = rows(orderBy(whaleRows)(asc(_._6), asc(_._1), asc(_._2)))
    Sinks.writeCsv(whaleHeader, whalesByP, out("whale_signals.csv"))
    // candidate rollup + top-3 per target over the SIGNIFICANT slice
    // (reference `P:652-669`)
    val sigWhales = whaleRows.filter(r => r._5 >= 2.0 && r._6 < 0.05)
    val whaleCandidates = sigWhales.groupBy(_._1).toSeq.map { case (f, rs) =>
      val lifts = rs.map(_._5)
      (f, rs.map(_._2).distinct.size, median(lifts), lifts.max, rs.map(_._6).min)
    }
    Sinks.writeCsv(Seq("feature", "n_rare_targets", "median_lift", "max_lift", "min_pvalue"),
      rows(orderBy(whaleCandidates)(desc(_._2), desc(_._3), asc(_._1))),
      out("whale_feature_candidates.csv"))
    Sinks.writeCsv(whaleHeader,
      rows(orderBy(sigWhales.groupBy(_._2).values.toSeq.flatMap { rs =>
        orderBy(rs)(desc(_._5), asc(_._1)).take(3)
      })(asc(_._2), desc(_._5), asc(_._1))),
      out("whale_top3_per_target.csv"))
    val whaleSig = sigWhales.size.toLong

    tick("15_whales")
    // ---- 16: summary.json + report.md --------------------------------------
    val rareCount = targetStats.count(_._4 < 0.01)
    val summary = Seq[(String, Any)](
      "train_rows" -> trainRows, "test_rows" -> testRows,
      "n_targets" -> targets.size,
      "n_main_features" -> mainFeats.size,
      "n_extra_features" -> extraCat.numFeatures.size,
      "targets_below_1pct" -> rareCount,
      "antagonist_target" -> antagonist,
      "antagonist_neg_share" -> antagonistNegShare,
      "filled_extra_count_auc" -> filledAuc,
      "filled_extra_count_pointbiserial" -> filledPb,
      "filled_extra_count_pb_pvalue" -> filledPbP,
      "adversarial_auc" -> advAuc,
      "silhouette_k3" -> byK(3)._2, "silhouette_k4" -> sil4, "silhouette_k5" -> byK(5)._2,
      "largest_cluster_share" -> largestShare,
      "cat_features_with_unseen" -> unseenFeatures,
      "screened_features" -> screenFeats.size,
      "screen_sample_rows" -> screenRows,
      "whale_significant_pairs" -> whaleSig)
    Sinks.writeJson(summary, out("summary.json"))

    val report =
      s"""# EDA report (Spark-native rebuild)
         |
         |Deterministic pipeline over `$inputDir` (seeded hash sampling,
         |reference block order, `public_eda_pipeline.py:73-714` analog).
         |Memory-safe via distributed execution; all heavy blocks run as
         |Spark jobs, only post-aggregation artifacts reach the driver.
         |
         |## 1. Dataset
         |- train rows: $trainRows, test rows: $testRows
         |- targets: ${targets.size} ($rareCount below 1% prevalence)
         |- main features: ${mainFeats.size} (${mainCat.numFeatures.size} numeric / ${mainCat.catFeatures.size} categorical)
         |- extra features: ${extraCat.numFeatures.size} (heavily null)
         |
         |## 2. Target stats (top 10 by positive count)
         |${Sinks.pretty(statHeader, rows(statsSorted), 10)}
         |
         |## 3. Family rollup
         |${Sinks.pretty(familyHeader, familyRows, 10)}
         |
         |## 4. Opened-target distribution
         |${Sinks.pretty(Seq("n_opened", "count"), openedRows, 10)}
         |
         |## 5. Strongest co-occurring target pairs (co_count ≥ 10, by lift)
         |${Sinks.pretty(pairHeader, byLift, 10)}
         |
         |## 6. Antagonist target `$antagonist`
         |- negative-correlation share vs other targets: ${f"$antagonistNegShare%.3f"}
         |
         |## 7. Clustering on 1−|corr| (average linkage)
         |- silhouette: k=3 ${f"${byK(3)._2}%.4f"}, k=4 ${f"$sil4%.4f"}, k=5 ${f"${byK(5)._2}%.4f"}
         |- largest-cluster share at k=4: ${f"$largestShare%.3f"}
         |
         |## 8. Extra-feature missingness bands
         |${Sinks.pretty(bandHeader, bandRows, 10)}
         |
         |## 9. Filled-extra-count signal
         |- AUC vs any-open: ${f"$filledAuc%.4f"}
         |- point-biserial r: ${f"$filledPb%.4f"} (p = ${f"$filledPbP%.3g"})
         |- deciles:
         |${Sinks.pretty(deciles.columns.toSeq, decileRows, 10)}
         |
         |## 10. Top missing-indicator AUCs (30% sample)
         |${Sinks.pretty(Seq("col_name", "auc", "abs_auc"), indAuc, 10)}
         |
         |## 11. Categorical dictionaries
         |- features with unseen test categories: $unseenFeatures
         |
         |## 12. Adversarial shift (20% samples)
         |- train-vs-test AUC: ${f"$advAuc%.4f"} (≈0.5 ⇒ no detectable shift)
         |
         |## 13. Linear screen (12% sample, $screenRows rows, ${screenFeats.size} features)
         |top universal features:
         |${Sinks.pretty(univHeader, universality, 10)}
         |
         |## 14. Whale signals (top 10 by p-value)
         |${Sinks.pretty(whaleHeader, whalesByP, 10)}
         |- significant (lift ≥ 2, p < 0.05): $whaleSig
         |""".stripMargin
    Sinks.writeText(report, out("report.md"))

    Result(trainRows, testRows, targets.size, rareCount,
      filledAuc, filledPb, advAuc, sil4, largestShare,
      unseenFeatures, screenFeats.size, screenRows, whaleSig)
  }
}
