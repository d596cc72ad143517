package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Similarity}

/** Bench-only STEADY-STATE operator twins (VERDICT r10 #3).
  *
  * The oracle-bearing d12/d13/n7–n9 queries deliberately carry their
  * verification INSIDE the query (index build + at-rest-vs-in-memory
  * equality + brute-force truth), because DuckDB cannot replay seeded
  * hyperplanes/k-means — which means their bench times measure ~2–4 s of
  * fixed oracle machinery, not the operator. A real operator regression
  * would hide inside that constant. These twins time ONLY the production
  * steady-state shape: the index/model is built ONCE per JVM (memoized
  * here, excluded from the timed pass) and each pass re-executes just
  * the probe. They are NOT part of the correctness surface — Verify never
  * sees them; correctness of the same code paths is pinned by the base
  * queries and Dedup/Similarity specs.
  *
  * st10 gets no twin: its cost is foreachBatch replay scaffolding
  * (~2 s/micro-batch, the st5/st7 profile) and its steady-state per-batch
  * probe IS d12_op.
  */
object BenchOps {

  /** One-time per (twin, sfDir) prepared state — at-rest index paths and
    * driver-side models. Thread-safe; Bench is single-threaded anyway. */
  private val prepared = new scala.collection.concurrent.TrieMap[String, Any]()

  private def memo[A](key: String)(build: => A): A =
    prepared.getOrElseUpdate(key, build).asInstanceOf[A]

  private def docs(s: SparkSession, d: String) =
    s.read.parquet(s"$d/documents.parquet")
  private def emb(s: SparkSession, d: String) =
    s.read.parquet(s"$d/embeddings.parquet")

  private def scratch(s: SparkSession, tag: String, d: String): String =
    graft.Session.scratch(s, s"benchop_${tag}_${d.hashCode}").toString

  def ops: Map[String, (SparkSession, String) => DataFrame] = Map(
    // d12 steady state: probe a PREBUILT at-rest band index with the
    // batch — per-batch work O(batch + matched rows); the in-query index
    // build that dominates ~half of d12's bench time is setup here.
    "d12_op_incremental_probe" -> ((s, d) => {
      val corpus = docs(s, d).where(pmod(col("doc_id"), lit(3)) =!= 0)
      val idxPath = memo(s"d12|$d") {
        val p = scratch(s, "d12_index", d)
        Dedup.nearDupIndex(corpus, "doc_id", "text", w = 5, k = 64, bands = 32)
          .write.mode("overwrite").parquet(p)
        p
      }
      val batch = docs(s, d).where(pmod(col("doc_id"), lit(3)) === 0)
      Dedup.incrementalNearDup(corpus, s.read.parquet(idxPath), batch,
          "doc_id", "text", w = 5, k = 64, bands = 32, minJaccard = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // d13 steady state: the incremental cosine probe alone — d13's bench
    // entry also runs the full-corpus LSH twin AND the brute-force truth
    // (oracle design); the operator's own profile is ~d5b.
    "d13_op_cosine_probe" -> ((s, d) => {
      val corpus = emb(s, d).where(pmod(col("vec_id"), lit(3)) =!= 0)
      val idxPath = memo(s"d13|$d") {
        val p = scratch(s, "d13_index", d)
        Dedup.cosineIndex(corpus, "vec_id", "embedding",
          dim = 64, nPlanes = 16, nBands = 8).write.mode("overwrite").parquet(p)
        p
      }
      val batch = emb(s, d).where(pmod(col("vec_id"), lit(3)) === 0)
      Dedup.incrementalCosineNearDup(corpus, s.read.parquet(idxPath), batch,
        "vec_id", "embedding", minCos = 0.45, dim = 64, nPlanes = 16, nBands = 8)
    }),

    // n7 steady state: cell-pruned probe of the at-rest IVF assignments
    // (PartitionFilters at the scan) — no k-means, no in-memory equality,
    // no brute truth in the timed region.
    "n7_op_ivf_probe" -> ((s, d) => {
      val (idxPath, cents) = memo(s"n7|$d") {
        val p = scratch(s, "n7_ivf", d)
        val (assigned, cs) = Similarity.ivfIndex(emb(s, d), "vec_id", "embedding")
        assigned.write.mode("overwrite").partitionBy("cell").parquet(p)
        (p, cs)
      }
      val qs = emb(s, d).where(col("vec_id") < 10)
      Similarity.ivfTopKFromIndex(s.read.parquet(idxPath), cents, qs,
        "vec_id", "embedding", k = 3)
    }),

    // n8 steady state: ADC scan over the at-rest PQ codes + shortlist
    // rerank against raw vectors.
    "n8_op_pq_probe" -> ((s, d) => {
      val (idxPath, books) = memo(s"n8|$d") {
        val p = scratch(s, "n8_pq", d)
        val (codes, bks) = Similarity.pqIndex(emb(s, d), "vec_id", "embedding", dim = 64)
        codes.write.mode("overwrite").parquet(p)
        (p, bks)
      }
      val qs = emb(s, d).where(col("vec_id") < 10)
      Similarity.pqTopKFromIndex(s.read.parquet(idxPath), books, emb(s, d), qs,
        "vec_id", "embedding", k = 3, refine = 22)
    }),

    // n9 steady state: composed IVF+PQ — cell-pruned residual-code ADC +
    // rerank, against the at-rest codes table.
    "n9_op_ivfpq_probe" -> ((s, d) => {
      val idx = memo(s"n9|$d") {
        val p = scratch(s, "n9_ivfpq", d)
        val built = Similarity.ivfPqIndex(emb(s, d), "vec_id", "embedding",
          dim = 64, nlist = 16)
        built.codes.write.mode("overwrite").partitionBy("cell").parquet(p)
        built.copy(codes = s.read.parquet(p))
      }
      val qs = emb(s, d).where(col("vec_id") < 10)
      Similarity.ivfPqTopKFromIndex(idx, emb(s, d), qs,
        "vec_id", "embedding", k = 3, nprobe = 8, refine = 22)
    }))
}
