package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash sampling — the reference's main cost-reduction device
  * (`eda_workspace/public_eda_pipeline.py:42-43`: `(col.hash(seed) % 100) <
  * pct`, used with pct ∈ {10,12,20,30} at `P:332,418,472,604`).
  *
  * Semantics note (SURVEY.md E2): Polars' `hash(seed)` and Spark's `xxhash64`
  * are different hash functions, so the sampled row *sets* differ; the
  * contract is distributional (stable, uniform, key-deterministic), not
  * row-identical. The predicate is a plain expression on the key column, so
  * Catalyst keeps it pushed below downstream joins — both sides of a sampled
  * join shrink before the shuffle, exactly like the reference's plan.
  *
  * Scale note: hash sampling is embarrassingly parallel (no shuffle, no
  * state); at 100 TB it costs one scan pass and nothing else.
  */
object Sampling {
  val Seed = 42

  /** Stable bucket in [0,100) from a key column. */
  def hashBucket(key: Column, seed: Int = Seed): Column =
    pmod(xxhash64(key, lit(seed)), lit(100L))

  /** Modulo sampler on an integral key — used for oracle-parity queries
    * (DuckDB has no xxhash64; `k % 100` is engine-portable). Same shape,
    * weaker mixing; only for keys that are already ~uniform. */
  def modSample(df: DataFrame, keyCol: String, pct: Int): DataFrame =
    df.filter(pmod(col(keyCol), lit(100L)) < lit(pct.toLong))

  /** Domain-mixture sampler: per-stratum keep percentages (source →
    * pct) — the knob a pretraining mix uses to up/down-weight domains
    * deterministically. Strata missing from the map keep `defaultPct`.
    * Same engine-portable modulo contract as [[modSample]]; a when-chain
    * over the (small) strata map, embarrassingly parallel, no shuffle,
    * predicate pushes below downstream joins. */
  def stratifiedModSample(df: DataFrame, keyCol: String, strataCol: String,
      pctByStratum: Map[String, Int], defaultPct: Int = 0): DataFrame = {
    val pct = pctByStratum.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(col(strataCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(pmod(col(keyCol), lit(100L)) < pct.cast("long"))
  }

  /** Exact-k per-stratum deterministic sample: within each stratum keep
    * the k rows with the smallest md5(seed#key) — "exactly k examples per
    * domain", the draw an eval-set builder or per-domain probe needs
    * (rate-based sampling can't hit an exact count). The key is
    * engine-portable (md5 over a string), so the kept SET is fully
    * oracle-checkable, and re-running with the same seed reproduces it.
    *
    * Scale shape: rank-within-stratum is the `WindowGroupLimit` pattern —
    * Spark pushes the k-limit into each partition's sort (top-k heap per
    * stratum partition, then top-k of those), so no stratum ever
    * materializes a full global sort. One shuffle on the stratum. */
  def exactKPerStratum(df: DataFrame, keyCol: String, strataCol: String,
      k: Int, seed: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("__skey"), col(keyCol))
    df.withColumn("__skey",
        md5(concat(lit(seed + "#"), col(keyCol).cast("string"))))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__skey", "__rn")
  }
}
