package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Relational
import graft.core.Relational.SingletonAttachOps

/** Lexical (sparse) retrieval over the document corpus: Okapi BM25
  * top-k, the text-side complement to the dense ANN layer in
  * [[Similarity]]. Reference scope: the EDA pipeline's text analytics
  * stop at per-doc stats (`public_eda_pipeline.py` token/quality
  * blocks); corpus *search* is part of the extended LLM-pipeline
  * surface (dedup/curation tooling constantly needs "which documents
  * mention X" at corpus scale — e.g. targeted decontamination probes
  * or building seed sets for quality-classifier training).
  *
  * Scale shape (the inverted-index probe, not the index build):
  *   1. ONE pass over the corpus tokenizes and keeps ONLY tokens in the
  *      query dictionary — the dictionary is a handful of terms and is
  *      broadcast, so the filter runs map-side and the (doc, term)
  *      shuffle that follows carries postings for query terms only,
  *      never the full token stream. This is exactly the volume an
  *      inverted-index lookup would touch; we just compute it lazily
  *      per query batch instead of materializing the index.
  *   2. Document lengths / avgdl are corpus-level side stats: one
  *      map-side-combined aggregate each (at 100 TB you compute these
  *      once per corpus drop and reuse; the operator takes them from
  *      the same scan here because the fixture is small).
  *   3. df-per-term and the final per-query candidate sets are bounded
  *      by |query terms| and by postings volume respectively; top-k per
  *      query compiles to WindowGroupLimit (per-partition k-heaps, no
  *      full sort of the candidate set).
  *
  * Determinism contract: scores are round(·, 6) and ranked by
  * (rounded score DESC, doc_id ASC), so ranking and the kept set are
  * reproducible cross-engine (the DuckDB oracle ranks the same way).
  */
object Retrieval {

  /** Fixed query batch for the x26 oracle: three queries over the
    * fixture vocabulary with deliberately different df profiles (common
    * terms, a mid-frequency pair, a rarer mix). */
  val QueryFixture: Seq[(Int, String)] = Seq(
    (1, "hash"), (1, "join"),
    (2, "window"), (2, "agg"), (2, "stream"),
    (3, "customer"), (3, "vector"))

  /** Engine-portable tokenizer shared by the SQL oracles: lowercase,
    * split on runs of non-alphanumerics, drop empties. Identical
    * semantics in Spark (Java regex) and DuckDB (RE2) for this class. */
  def tokenize(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  val TokenizeSqlFrom: String => String =
    texpr => s"regexp_split_to_array(lower($texpr), '[^a-z0-9]+')"

  /** BM25 top-k: for each (queryId, term-set) in `queries`, the `k`
    * highest-scoring documents. `queries` must be small (it is
    * broadcast twice — as the term dictionary and as the scoring join's
    * build side). Standard Okapi parameters; idf uses the
    * +1-inside-the-log variant (Lucene's), so scores are never
    * negative even for terms in >half the corpus.
    *
    * Output: (query_id, doc_id, score, rk) — `rk` the 1-based rank.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, idCol: String, textCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = docs.sparkSession

    // (doc, token) stream, pruned to query terms BEFORE the shuffle.
    val terms = queries.select(col("term")).distinct()
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(tokenize(col(textCol))).as("term"))
    val postings = toks
      .join(broadcast(terms), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

    // Corpus side stats: per-doc length (zero-token docs count with
    // dl=0 via the left join) and the scalar (N, avgdl) pair.
    val dls = docs.select(col(idCol).as("doc_id"),
      size(tokenize(col(textCol))).cast("long").as("dl"))
    val stats = dls.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))

    // df per surviving term — postings are unique per (doc, term), so a
    // plain count; bounded by |query terms|, broadcast back.
    val dfs = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))

    // postings ⋈ dls is left unhinted on purpose: dls is corpus-sized
    // (never broadcast it); postings' size is data-dependent (a stopword
    // query term can make it huge), so the right physical join is a
    // runtime decision — AQE picks broadcast when the pruned postings
    // side is small and a shuffle join otherwise.
    val scored = postings
      .join(broadcast(dfs), Seq("term"))
      .join(dls, Seq("doc_id"))
      .attachSingleton(stats)
      .join(broadcast(queries.select(col("query_id"), col("term"))), Seq("term"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib")), 6).as("score"))

    Relational.topKPerGroup(scored, Seq("query_id"),
        Seq(col("score").desc, col("doc_id").asc), k)
  }

  /** Oracle twin of [[bm25TopK]] (DuckDB SQL): same tokenizer, same
    * Lucene idf, same (round6 DESC, doc_id ASC) ranking. `queryRows`
    * are (query_id, term) literals mirroring the Spark-side frame. */
  def bm25OracleSql(queryRows: Seq[(Int, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val values = queryRows.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH queries(query_id, term) AS (VALUES $values),
       |toks AS (
       |  SELECT doc_id, t AS term
       |  FROM (SELECT doc_id, unnest(${TokenizeSqlFrom("text")}) AS t FROM documents)
       |  WHERE t <> ''),
       |postings AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
       |  WHERE term IN (SELECT DISTINCT term FROM queries)
       |  GROUP BY 1, 2),
       |dls AS (
       |  SELECT d.doc_id, COALESCE(n.dl, 0) AS dl
       |  FROM documents d LEFT JOIN
       |    (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1) n USING (doc_id)),
       |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dls),
       |dfs AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings GROUP BY 1),
       |scored AS (
       |  SELECT q.query_id, p.doc_id,
       |    ROUND(SUM(
       |      LN(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
       |      * p.tf * ($k1 + 1.0)
       |      / (p.tf + $k1 * (1.0 - $b + $b * d.dl / s.avgdl))), 6) AS score
       |  FROM postings p
       |  JOIN dfs f USING (term)
       |  JOIN dls d USING (doc_id)
       |  CROSS JOIN stats s
       |  JOIN queries q USING (term)
       |  GROUP BY 1, 2)
       |SELECT query_id, doc_id, score,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id ASC) AS INT) AS rk
       |FROM scored
       |QUALIFY rk <= $k
       |ORDER BY query_id, rk""".stripMargin
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): fuse per-query
    * rankings from heterogeneous retrievers (lexical BM25, dense ANN)
    * by summing 1/(c + rank) per document and re-ranking. Rank-based,
    * so the retrievers' incomparable score scales never meet.
    *
    * Each input frame is (query_id, doc_id, rk). Scale: inputs are
    * already top-k-bounded (≤ |queries|·k rows each — the upstream
    * operators did the corpus-scale work), so the fusion is one tiny
    * groupBy + a WindowGroupLimit re-rank; cost is independent of
    * corpus size by construction.
    *
    * Determinism: rrf is round(·, 6) (a sum of ≤ |rankings| exact
    * doubles — both engines compute identical IEEE values) and ties
    * break by doc_id ASC, so the fused ranking is reproducible
    * cross-engine.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking to fuse")
    require(k >= 1, s"k must be >= 1, got $k")
    val contribs = rankings.map(_.select(col("query_id"), col("doc_id"),
      (lit(1.0) / (lit(c) + col("rk"))).as("contrib")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib")), 6).as("rrf"))
    Relational.topKPerGroup(fused, Seq("query_id"),
        Seq(col("rrf").desc, col("doc_id").asc), k)
  }
}
