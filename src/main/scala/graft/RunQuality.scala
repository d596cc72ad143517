package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Validation
import graft.io.Sinks

/** CLI: the pre-training DATA-QUALITY GATE over a new table drop — the
  * report a 100-TB pipeline runs before a snapshot is admitted:
  *
  *   1. constraint report (completeness / uniqueness / bounds / domain)
  *      over the whole drop — ONE aggregate pass
  *   2. PSI feature drift of every numeric column vs a reference
  *      snapshot (bin-keyed shuffles; reference owns the binning)
  *   3. robust median/MAD outlier profile of every numeric column,
  *      grouped by an optional segment column
  *
  * writing one CSV per section plus a machine-readable summary JSON
  * with a top-level `admit` verdict (all constraints pass ∧ every PSI
  * below the action threshold). Each section is the same operator the
  * declared queries verify (dq1/dq2/dq3).
  *
  * Usage: runMain graft.RunQuality <current.parquet> <outDir>
  *        [referenceParquet] [groupCol] [psiAction]
  *
  * With no reference, drift compares the drop's even-vs-odd rows by
  * the first long/int key column (a self-consistency check — useful
  * smoke, weaker than a true baseline). `psiAction` defaults to 0.25.
  */
object RunQuality {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunQuality <current.parquet> <outDir> [referenceParquet] [groupCol] [psiAction]")
    val spark = Session.build()
    gateOnce(spark, args(0), args(1),
      refPath = if (args.length > 2 && args(2).nonEmpty) Some(args(2)) else None,
      groupCol = if (args.length > 3 && args(3).nonEmpty) Some(args(3)) else None,
      psiAction = if (args.length > 4) args(4).toDouble else 0.25)
    spark.stop()
  }

  /** One gate run against an existing session (the testable core — the
    * CLI `main` wraps it with its own session). Returns the admit
    * verdict. */
  def gateOnce(spark: SparkSession, in: String, out: String,
      refPath: Option[String] = None, groupCol: Option[String] = None,
      psiAction: Double = 0.25): Boolean = {
    val t0 = System.nanoTime()

    val cur = spark.read.parquet(in)
    val numericCols = cur.schema.fields.collect {
      case f if f.dataType.typeName == "double" || f.dataType.typeName == "float" ||
        f.dataType.typeName == "long" || f.dataType.typeName == "integer" => f.name
    }.toSeq
    require(numericCols.nonEmpty, s"$in has no numeric columns to gate")
    // the split/uniqueness key must be an INTEGER-typed column: pmod on a
    // fractional double would silently drop every non-integral row from
    // both drift splits, and uniqueness over a measurement column would
    // spuriously fail the gate. Doubles stay in numericCols for the
    // drift/outlier profiling only.
    val intKeyCols = cur.schema.fields.collect {
      case f if f.dataType.typeName == "long" || f.dataType.typeName == "integer" => f.name
    }.toSeq
    val keyCol = intKeyCols.headOption

    // 1. constraints: completeness of every column, plus uniqueness of
    // the first integer key-like column when one exists — ONE aggregate
    // pass over the drop
    val checks = cur.schema.fieldNames.toSeq.map(c => Validation.completeness(c)) ++
      keyCol.map(Validation.uniqueness)
    val constraints = Validation.constraintReport(cur, checks)
      .select(col("check").as("check_name"), round(col("metric"), 6).as("metric"),
        col("passed"))
      .orderBy("check_name")
    Sinks.writeCsv(constraints, s"$out/constraints.csv")

    // 2. PSI drift per numeric column vs the reference (or the even/odd
    // self-split when none is given)
    val (refDf, curDf): (DataFrame, DataFrame) = refPath match {
      case Some(p) => (spark.read.parquet(p), cur)
      case None =>
        val k = keyCol.getOrElse(sys.error(
          s"$in has no long/int key column; self-split drift needs one " +
            "(pass a reference snapshot instead)"))
        (cur.where(pmod(col(k), lit(2)) === 0),
          cur.where(pmod(col(k), lit(2)) === 1))
    }
    val drift = numericCols.map { c =>
      val psi = Validation.driftPsi(refDf, curDf, c, nBins = 10)
        .select("psi_total").head().getDouble(0)
      (c, math.rint(psi * 1e6) / 1e6, psi <= psiAction)
    }
    Sinks.writeCsv(Seq("column", "psi", "stable"),
      Sinks.orderBy(drift)(Sinks.desc(_._2)).map(Row.fromTuple), s"$out/drift_psi.csv")

    // 3. robust outlier profile per numeric column (grouped when asked,
    // else one global group)
    val grouped = groupCol match {
      case Some(g) => cur.select(col(g).cast("string").as("__g"), cur("*"))
      case None => cur.withColumn("__g", lit("all"))
    }
    val outliers = numericCols.map { c =>
      Validation.robustOutliers(grouped, "__g", c)
        .withColumn("column", lit(c))
        .select(col("column"), col("__g").as("segment"), col("n"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
          col("n_outliers"), round(col("outlier_frac"), 6).as("outlier_frac"))
    }.reduce(_ unionByName _).orderBy("column", "segment")
    Sinks.writeCsv(outliers, s"$out/outliers.csv")

    // 4. distribution-SHAPE audit: skewness/excess-kurtosis per column
    // (heavy-tail / truncation signals PSI's 10 bins smear out) and a
    // two-sample Kolmogorov–Smirnov test vs the same reference/self-split
    // as §2 (the CDF-shape complement of PSI's binned mass — dq11's
    // distributed-rank machinery). Gate-only numerics: the built-in
    // skewness/kurtosis are fine here (no cross-engine oracle to match),
    // and the KS tie-break is a synthetic unique id (ties across sides
    // shift D conservatively by at most the tie-run mass — irrelevant at
    // gate thresholds; the rank helpers materialize internally, so the
    // result is consistent within a run).
    val shape = numericCols.map { c =>
      val x = col(c).cast("double")
      val r = cur.where(x.isNotNull && !isnan(x))
        .agg(skewness(x).as("sk"), kurtosis(x).as("ku")).head()
      val ksRow = Validation.ksTwoSample(
        refDf.select(x.as("__v")).withColumn("__s", lit("ref"))
          .unionByName(curDf.select(x.as("__v")).withColumn("__s", lit("cur")))
          .where(col("__v").isNotNull && !isnan(col("__v")))
          .withColumn("__t", monotonically_increasing_id()),
        "__s", "__v", col("__t")).head()
      (c,
        math.rint((if (r.isNullAt(0)) 0.0 else r.getDouble(0)) * 1e6) / 1e6,
        math.rint((if (r.isNullAt(1)) 0.0 else r.getDouble(1)) * 1e6) / 1e6,
        math.rint(ksRow.getAs[Double]("ks_stat") * 1e6) / 1e6,
        !ksRow.getAs[Boolean]("drifted"))
    }
    Sinks.writeCsv(Seq("column", "skewness", "ex_kurtosis", "ks_stat", "ks_stable"),
      Sinks.orderBy(shape)(Sinks.desc(_._4)).map(Row.fromTuple), s"$out/shape.csv")

    val allPass = constraints.where(!col("passed")).isEmpty
    val allStable = drift.forall(_._3)
    val ksStable = shape.forall(_._5)
    val admit = allPass && allStable && ksStable
    val summary = Seq[(String, Any)](
      "input" -> in,
      "n_rows" -> cur.count(),
      "n_numeric_cols" -> numericCols.size,
      "constraints_pass" -> allPass,
      "max_psi" -> drift.map(_._2).max,
      "psi_action" -> psiAction,
      "drift_stable" -> allStable,
      "max_ks" -> shape.map(_._4).max,
      "ks_stable" -> ksStable,
      "admit" -> admit,
      "wall_s" -> math.rint((System.nanoTime() - t0) / 1e7) / 100)
    Sinks.writeJson(summary, s"$out/quality_summary.json")
    println(s"[quality] admit=$admit constraints_pass=$allPass " +
      s"max_psi=${drift.map(_._2).max} max_ks=${shape.map(_._4).max} -> $out")
    admit
  }
}
