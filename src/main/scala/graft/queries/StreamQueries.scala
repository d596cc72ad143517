package graft.queries

import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** Streaming queries: a bounded replay of the events table through a
  * real readStream → watermark → window → writeStream pipeline
  * (Trigger.AvailableNow, memory sink). The final table equals the batch
  * answer, so it IS DuckDB-oracle-checkable — stream/batch parity is the
  * correctness contract. */
object StreamQueries {
  import Det._

  val all: Seq[Q] = Seq(
    Q("st1_stream_window",
      (s, d) => {
        EventStream.runWindowedOnce(s, s"$d/events.parquet", window = "1 day")
          .select(
            date_format(col("window_start"), "yyyy-MM-dd").as("day"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy(col("day"), col("event_type"))
      },
      Some(s"""SELECT STRFTIME(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
              |COUNT(*) AS n, ${sumExactSql("value")} AS sum_value
              |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Stream-static broadcast enrichment through a real readStream replay;
    // the dim is data-derived (event_type → 3-char category) so the final
    // table has a pure-SQL twin.
    Q("st3_stream_enriched",
      (s, d) => {
        EventStream.runEnrichedOnce(s, s"$d/events.parquet", window = "1 day")
          .select(
            date_format(col("window_start"), "yyyy-MM-dd").as("day"),
            col("category"), col("n"), col("sum_value"))
          .orderBy(col("day"), col("category"))
      },
      Some(s"""SELECT STRFTIME(date_trunc('day', ts), '%Y-%m-%d') AS day,
              |UPPER(SUBSTRING(event_type, 1, 3)) AS category,
              |COUNT(*) AS n, ${sumExactSql("value")} AS sum_value
              |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Streaming windowed DISTINCT users via mergeable HLL sketches —
    // exact countDistinct is unsupported in streaming aggs (state = the
    // full key set); the production pattern is hll_sketch_agg per
    // (window, type), whose partial sketches merge across micro-batches
    // in the state store. The streamed estimate is NOT bit-equal to a
    // one-shot batch build (a direct build keeps the HIP estimator,
    // merged partials fall back to the composite estimator — measured
    // diverging at sf0.1), so the pinned contract is both estimates
    // independently inside the 3σ window around the exact count
    // (h2/h6's maintenance caveat applies to both flags).
    Q("st13_stream_hll_window",
      (s, d) => {
        val streamed = EventStream.runHllWindowOnce(s, s"$d/events.parquet")
          .select(date_format(col("window_start"), "yyyy-MM-dd").as("day"),
            col("event_type"), col("n_est"))
        val batch = graft.core.Tables.readEvents(s, d)
          .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
            col("event_type"))
          .agg(
            hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("n_batch"),
            countDistinct(col("user_id")).as("n_exact"))
        val in3Sigma = (est: org.apache.spark.sql.Column) =>
          abs(est - col("n_exact")).cast("double") <= lit(3 * 0.016) * col("n_exact")
        batch.join(streamed, Seq("day", "event_type"))
          .select(col("day"), col("event_type"), col("n_exact"),
            in3Sigma(col("n_est")).as("stream_ok"),
            in3Sigma(col("n_batch")).as("batch_ok"))
          .orderBy(col("day"), col("event_type"))
      },
      Some("""SELECT STRFTIME(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             |COUNT(DISTINCT user_id) AS n_exact,
             |TRUE AS stream_ok, TRUE AS batch_ok
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Streaming MATERIALIZED-VIEW maintenance (u2's algebraic-partials
    // merge, streamed through foreachBatch): four chunked micro-batches
    // fold per-type partials into alternating at-rest generations; the
    // read-time view (avg derived from partials) must equal the one-shot
    // GROUP BY — which is what the oracle runs. The per-trigger cost is
    // O(batch + touched keys); the MV never rescans history.
    Q("st15_stream_mv_maintenance",
      (s, d) => {
        EventStream.runAggMergeOnce(s, s"$d/events.parquet")
          .select(col("event_type"), col("cnt").as("n"),
            col("sum").cast("double").as("sum_value"),
            (col("sum").cast("double") / col("cnt")).as("avg_value"),
            col("mn").as("min_value"), col("mx").as("max_value"))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, COUNT(value) AS n,
              |${sumExactSql("value")} AS sum_value,
              |${sumExactSql("value")} / COUNT(value) AS avg_value,
              |MIN(value) AS min_value, MAX(value) AS max_value
              |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming DRIFT MONITOR (dq13 served incrementally): the current
    // slice's per-category counts are maintained as a streaming k-row
    // count MV (EventStream.runCountMvOnce — integer partials fold per
    // micro-batch, O(batch + k) per trigger), and the chi-square gate
    // evaluates from the AT-REST cells against a static reference —
    // never re-scanning the corpus. Integer count state ≡ the one-shot
    // GROUP BY regardless of batch boundaries, so the oracle is exactly
    // dq13's SQL: stream ≡ batch is the correctness contract.
    Q("st16_stream_drift_monitor",
      (s, d) => {
        val cur = EventStream.runCountMvOnce(s, s"$d/events.parquet",
          pmod(col("user_id"), lit(2)) === 1 &&
            !(col("event_type") === "view" && pmod(col("event_id"), lit(5)) < 3))
        val ref = graft.core.Tables.readEvents(s, d)
          .where(pmod(col("user_id"), lit(2)) === 0)
          .groupBy(col("event_type").as("cat")).agg(count(lit(1)).as("o_ref"))
        val cells = ref.join(cur, Seq("cat"), "full_outer")
          .select(coalesce(col("o_ref"), lit(0L)).as("o_ref"),
            coalesce(col("o_cur"), lit(0L)).as("o_cur"))
        graft.core.Validation.chiSquareFromCells(cells, vThreshold = 0.1)
      },
      // dq13's oracle verbatim: the stream maintains the same cells
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

    // NATIVE session_window sessionization (state-store session merge +
    // watermark eviction) — the third sessionization path next to the
    // batch lag+cumsum (st2) and the custom flatMapGroupsWithState
    // (st4), preferred in production when per-session logic is pure
    // aggregation. Per-user rollup of the emitted sessions; the oracle
    // replays the INCLUSIVE merge boundary (break strictly > gap) in
    // micros — durations included, so merge semantics are value-checked,
    // not just counts.
    Q("st14_session_window",
      (s, d) => {
        EventStream.runSessionWindowOnce(s, s"$d/events.parquet")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            sumLong(col("n_events")).as("n_events"),
            sumLong(col("dur_us")).as("dur_us"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH e AS (
              |  SELECT user_id, epoch_us(ts) AS tsu FROM events),
              |g AS (
              |  SELECT user_id, tsu,
              |    CASE WHEN tsu - LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu)
              |      > 1800000000 THEN 1 ELSE 0 END AS brk
              |  FROM e),
              |i AS (
              |  SELECT user_id, tsu,
              |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tsu) AS island
              |  FROM g),
              |sess AS (
              |  SELECT user_id, island, COUNT(*) AS n_events,
              |    MAX(tsu) - MIN(tsu) AS dur_us
              |  FROM i GROUP BY 1, 2)
              |SELECT user_id, COUNT(*) AS n_sessions,
              |  ${sumLongSql("n_events")} AS n_events,
              |  ${sumLongSql("dur_us")} AS dur_us
              |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Stateful streaming sessionization (flatMapGroupsWithState, event-time
    // timeout) replayed over the bounded events file, reduced to the
    // session-size histogram — the stream-side twin of st2. The oracle gap
    // compares MILLISECONDS (the stream state keys sessions off
    // Timestamp.getTime), unlike st2's second-granularity lag — the two
    // histograms differ where a gap sits between 1800.000s and 1800.999s.
    Q("st4_stream_sessions",
      (s, d) => {
        EventStream.runSessionizeOnce(s, s"$d/events.parquet")
          .groupBy(col("nEvents").cast("long").as("n_events"))
          .agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_events"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts,
             |    LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events),
             |f AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN prev_ts IS NULL
             |      OR date_diff('millisecond', prev_ts, ts) > 1800000 THEN 1 ELSE 0 END AS new_session
             |  FROM g),
             |sess AS (
             |  SELECT user_id,
             |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
             |  FROM f),
             |per AS (SELECT user_id, session_id, COUNT(*) AS n_events FROM sess GROUP BY 1, 2)
             |SELECT n_events, COUNT(*) AS n_sessions FROM per
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // STREAM-STREAM event-time interval join (watermarks both sides,
    // time-bounded condition — the state-evictable shape), replayed
    // bounded: each click pairs with the same user's purchases within
    // 24 h after it; the sink is reduced per user. Oracle: the identical
    // interval join in batch SQL on epoch micros.
    Q("st5_stream_interval_join",
      (s, d) => {
        EventStream.runIntervalJoinOnce(s, s"$d/events.parquet", windowHours = 24)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_pairs"), sumExact(col("value")).as("sum_purchase"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH c AS (SELECT user_id, epoch_us(ts) AS tsu FROM events
              |  WHERE event_type = 'click'),
              |p AS (SELECT user_id, epoch_us(ts) AS tsu, value FROM events
              |  WHERE event_type = 'purchase')
              |SELECT c.user_id, COUNT(*) AS n_pairs,
              |  ${sumExactSql("p.value")} AS sum_purchase
              |FROM c JOIN p ON c.user_id = p.user_id
              |  AND p.tsu >= c.tsu AND p.tsu <= c.tsu + 86400000000
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LEFT OUTER stream-stream interval join: unmatched clicks emit their
    // null row only when the watermark closes their join window (sentinel
    // rows flush the trailing ones — see runIntervalJoinLeftOuterOnce).
    // Oracle: the identical batch LEFT JOIN; n_unmatched counts the
    // null-extended rows, proving the outer semantics actually fired.
    Q("st7_stream_left_outer_join",
      (s, d) => {
        EventStream.runIntervalJoinLeftOuterOnce(s, s"$d/events.parquet", windowHours = 24)
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("value")).as("n_matched"),
            Det.countIf(col("value").isNull).as("n_unmatched"),
            sumExact(col("value")).as("sum_purchase"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH c AS (SELECT user_id, epoch_us(ts) AS tsu FROM events
              |  WHERE event_type = 'click'),
              |p AS (SELECT user_id AS p_user_id, epoch_us(ts) AS tsu, value FROM events
              |  WHERE event_type = 'purchase')
              |SELECT c.user_id, COUNT(*) AS n_rows,
              |  COUNT(p.value) AS n_matched,
              |  ${Det.countIfSql("p.value IS NULL")} AS n_unmatched,
              |  ${sumExactSql("p.value")} AS sum_purchase
              |FROM c LEFT JOIN p ON c.user_id = p.p_user_id
              |  AND p.tsu >= c.tsu AND p.tsu <= c.tsu + 86400000000
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming ingest dedup (dropDuplicatesWithinWatermark) with planted
    // duplicates: the doubled replay must reduce back to EXACTLY the
    // original table — the full-oracle contract for dedupStream.
    Q("st6_stream_dedup",
      (s, d) => {
        EventStream.runDedupOnce(s, s"$d/events.parquet")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sumExact(col("value")).as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${sumExactSql("value")} AS sum_value
              |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Continuous-ingest merge: the changelog streamed in 4 micro-batches
    // upserts a key-latest state table (foreachBatch + latestWins, the
    // lakehouse MERGE loop). Final state ≡ batch latest-per-key — the
    // oracle replays it as one QUALIFY window.
    Q("st9_stream_merge",
      (s, d) => EventStream.runMergeOnce(s, s"$d/events.parquet")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, event_id AS last_event_id,
             |  event_type AS last_type, value AS last_value
             |FROM events
             |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
             |ORDER BY user_id""".stripMargin)),

    // Rolling-ingestion NEAR-dup (the streaming twin of d12 composed
    // with the st9 maintenance loop): the documents changelog streams in
    // 3 micro-batches, each probing the persisted banded index +
    // self-joining, verified pairs appended, index rolled forward. The
    // emitted union equals the full-corpus LSH pair set (each pair
    // surfaces in its later member's batch), so the oracle is d3's
    // exhaustive exact-Jaccard twin — stream ≡ batch ≡ SQL.
    // nChunks=2 keeps the bench replay lean (per-batch cost is fixed
    // scaffolding at fixture scale); StreamingSpec drives 2-vs-4 chunk
    // invariance, so the multi-batch semantics stay pinned.
    Q("st10_stream_neardup_ingest",
      (s, d) => graft.streaming.IngestStream.runNearDupIngestOnce(
        s, s"$d/documents.parquet", nChunks = 2),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, sh FROM (
             |    SELECT doc_id, CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
             |      ELSE [array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)] END AS shs
             |    FROM toks), UNNEST(shs) AS u(sh)),
             |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
             |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
             |FROM inter JOIN sizes sa ON sa.doc_id = id_a
             |JOIN sizes sb ON sb.doc_id = id_b
             |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
             |ORDER BY id_a, id_b""".stripMargin)),

    // Rolling EMBEDDING ingest: the st10 maintenance loop for the vector
    // index — each micro-batch probes the persisted sign-band cosineIndex,
    // emits its exact-cosine-verified pairs, and appends its own band
    // rows. Seeded hyperplanes make banding batch-invariant, so the union
    // of per-batch emissions must EQUAL the full-corpus one-shot LSH run
    // (pinned in-query: n_extra/n_missing vs cosinePairsLsh must be 0 —
    // DuckDB cannot replay the seeded planes); the SQL oracle contributes
    // the exhaustive brute-cosine truth the LSH result is recall-checked
    // against (the d13 oracle design, streamed).
    Q("st11_stream_embed_ingest",
      (s, d) => {
        import graft.llm.Dedup
        val stream = graft.streaming.IngestStream.runEmbedIngestOnce(
            s, s"$d/embeddings.parquet", nChunks = 2)
          .select(col("id_a"), col("id_b"), lit(1).as("in_s"))
        val emb = s.read.parquet(s"$d/embeddings.parquet")
        val full = Dedup.cosinePairsLsh(emb, "vec_id", "embedding", minCos = 0.45,
            dim = 64, nPlanes = 16, nBands = 8)
          .select(col("id_a"), col("id_b"), lit(1).as("in_f"))
        val brute = Dedup.cosinePairsBrute(emb, "vec_id", "embedding", minCos = 0.45)
          .select(col("id_a"), col("id_b"), lit(1).as("in_b"))
        stream.join(full, Seq("id_a", "id_b"), "full_outer")
          .join(brute, Seq("id_a", "id_b"), "full_outer")
          .agg(
            count(col("in_b")).as("n_brute_pairs"),
            sum(when(col("in_s").isNotNull && col("in_f").isNull, 1L).otherwise(0L))
              .cast("long").as("n_extra_vs_full"),
            sum(when(col("in_f").isNotNull && col("in_s").isNull, 1L).otherwise(0L))
              .cast("long").as("n_missing_vs_full"),
            sum(when(col("in_s").isNotNull && col("in_b").isNotNull, 1L).otherwise(0L))
              .cast("long").as("n_hit"))
          .select(col("n_brute_pairs"), col("n_extra_vs_full"), col("n_missing_vs_full"),
            (col("n_brute_pairs") === 0 ||
              col("n_hit") / col("n_brute_pairs") >= 0.9).as("recall_ok"))
      },
      Some("""SELECT COUNT(*) AS n_brute_pairs,
             |  CAST(0 AS BIGINT) AS n_extra_vs_full,
             |  CAST(0 AS BIGINT) AS n_missing_vs_full, TRUE AS recall_ok
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |  CAST(b.embedding AS DOUBLE[])) >= 0.45""".stripMargin)),

    // Arbitrary-state streaming (Spark 4 transformWithState, RocksDB
    // state store): per-user running profile — ValueState totals (count +
    // long-micro value sum, accumulation-order-proof) and a ListState of
    // the 5 most recent event ids by (ts, id). The replayed cumulative
    // profile equals the batch answer; sums stay in integer micros so the
    // hash compare is exact.
    Q("st8_stream_profile",
      (s, d) => {
        EventStream.runProfileOnce(s, s"$d/events.parquet")
          .select(col("userId").as("user_id"), col("nEvents").as("n_events"),
            col("sumMicros").as("sum_micros"), col("recent5"))
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, ts,
             |    CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events),
             |r AS (SELECT user_id, event_id,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM e),
             |t AS (SELECT user_id,
             |    STRING_AGG(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS recent5
             |  FROM r WHERE rn <= 5 GROUP BY user_id),
             |a AS (SELECT user_id, COUNT(*) AS n_events, SUM(vmic) AS sum_micros
             |  FROM e GROUP BY user_id)
             |SELECT a.user_id, a.n_events, CAST(a.sum_micros AS BIGINT) AS sum_micros, t.recent5
             |FROM a JOIN t USING (user_id) ORDER BY a.user_id""".stripMargin)),

    // Streaming rolling-anomaly gate (EventStream.RollingAnomalyProcessor,
    // transformWithState + RocksDB): per-user trailing-hour z-scores
    // maintained in a pruned ListState ring. The processor replays the
    // batch plan's decimal casts and double operation order, so the
    // streamed z equals t8's batch z BITWISE — st12 shares t8's SQL
    // oracle verbatim (stream ≡ batch ≡ SQL). Cross-batch state replay
    // is specced (2-vs-4 chunk invariance, StreamingSpec).
    Q("st12_stream_anomaly",
      (s, d) => {
        EventStream.runAnomalyOnce(s, s"$d/events.parquet")
          .groupBy(col("userId"))
          .agg(
            count(lit(1)).as("n_events"),
            countIf(col("nPrior") >= 5).as("n_scored"),
            countIf(col("isAnomaly")).as("n_anomalies"),
            round(max(abs(col("z"))), 6).as("max_abs_z"))
          .select(col("userId").as("user_id"), col("n_events"), col("n_scored"),
            col("n_anomalies"), col("max_abs_z"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, value FROM events),
              |r AS (SELECT user_id, value,
              |    COUNT(value) OVER w AS c,
              |    SUM(CAST(value AS DECIMAL(18,6))) OVER w AS sv,
              |    SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))
              |      AS DECIMAL(38,12))) OVER w AS svv
              |  FROM e
              |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu
              |    RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)),
              |z AS (SELECT user_id, c,
              |    CASE WHEN c >= 5 THEN ROUND(
              |      (value - CAST(sv AS DOUBLE) / CAST(c AS DOUBLE)) /
              |      SQRT(GREATEST((CAST(svv AS DOUBLE) -
              |          CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(c AS DOUBLE))
              |        / (CAST(c AS DOUBLE) - 1), 0) + 1e-9), 6)
              |    END AS z FROM r)
              |SELECT user_id, COUNT(*) AS n_events,
              |  ${countIfSql("c >= 5")} AS n_scored,
              |  ${countIfSql("ABS(z) > 3.0")} AS n_anomalies,
              |  ROUND(MAX(ABS(z)), 6) AS max_abs_z
              |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming Count-Min maintenance (EventStream.runCmsMvOnce — h9's
    // streaming twin, st16's MV pattern applied to a sketch): per
    // micro-batch the (depth, bucket) partial counters fold into the
    // at-rest table by one keyed sum; CMS merge is elementwise add, so
    // the folded state ≡ a one-shot batch build regardless of batch
    // boundaries, and the probe serve produces EXACTLY h9's numbers —
    // the oracle is h9's SQL verbatim.
    Q("st17_stream_cms_mv",
      (s, d) => {
        val s2 = s; import s2.implicits._
        val counters = EventStream.runCmsMvOnce(s, s"$d/events.parquet")
        val probes = (1L to 10L).toDF("u")
        val est = graft.llm.Frequency.Cms.estimates(probes, counters)
        val exact = graft.core.Tables.readEvents(s, d)
          .where(col("user_id").between(1, 10))
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

    // Streaming TOP-K LEADERBOARD maintenance (u7's streaming twin —
    // Merge.topKFold folded per micro-batch through foreachBatch): the
    // at-rest state is the top-5 events by value per type, k·groups
    // rows at every generation. Top-k under the total order (value
    // DESC, event_id ASC) is a commutative fold, so the MV is correct
    // under the file source's arbitrary batch order — unlike the
    // order-sensitive SCD2 fold (u5), which is exactly why THIS is the
    // state shape a streaming leaderboard serves. Oracle = the one-shot
    // window recompute: stream ≡ batch is the contract.
    Q("st18_stream_topk_mv",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(col("value").desc, col("event_id").asc)
        EventStream.runTopKMergeOnce(s, s"$d/events.parquet", k = 5)
          .withColumn("rk", row_number().over(w))
          .select(col("event_type"), col("rk"), col("event_id"),
            round(col("value"), 6).as("value"))
          .orderBy(col("event_type"), col("rk"))
      },
      Some("""SELECT * FROM (
             |  SELECT event_type,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY value DESC, event_id) AS INTEGER) AS rk,
             |    event_id, ROUND(value, 6) AS value
             |  FROM events)
             |WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin)),

    // Streaming QUANTILE-SKETCH maintenance (h7's streaming twin —
    // completes the sketch-MV triad: st13 HLL distincts, st17 CMS
    // frequencies, st19 quantiles): per micro-batch KLL partials fold
    // into a one-sketch-row-per-key at-rest table via
    // kll_merge_agg_double; the served median must land inside the
    // EXACT [p40, p60] band (h7's verification contract — the exact
    // side rides the histogram-compressed weightedQuantiles pass, never
    // built-in exact percentile). Counts are sketch-exact (n is
    // tracked, not estimated), so counts_agree pins replay coverage.
    Q("st19_stream_kll_mv",
      (s, d) => {
        val merged = EventStream.runKllMvOnce(s, s"$d/events.parquet")
          .select(col("event_type"),
            kll_sketch_get_n_double(col("sk")).as("n_rows"),
            kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("est_med"))
        val exact = graft.core.Relational.weightedQuantiles(
          graft.core.Tables.readEvents(s, d)
            .select(col("event_type"), col("value")).withColumn("w", lit(1L)),
          "event_type", "value", "w", Seq(0.4, 0.5, 0.6))
        exact.join(merged, Seq("event_type"))
          .select(col("event_type"),
            col("total_weight").as("n_exact"),
            (col("n_rows") === col("total_weight")).as("counts_agree"),
            round(col("q_0_5"), 4).as("exact_median"),
            (col("est_med") >= col("q_0_4") && col("est_med") <= col("q_0_6"))
              .as("sketch_ok"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n_exact, TRUE AS counts_agree,
             |ROUND(QUANTILE_CONT(value, 0.5), 4) AS exact_median,
             |TRUE AS sketch_ok
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming EXACT-DISTINCT maintenance (u6's streaming twin —
    // Merge.firstSeenNew folded per micro-batch; set union is
    // commutative, so like st18 it is correct under the file source's
    // arbitrary batch order). The at-rest state is the distinct
    // (type, user) key set itself — the exact aggregate streaming
    // engines can't hold natively; st13's HLL is the bounded-state
    // approx twin. Oracle = one-shot COUNT(DISTINCT) with the member
    // set pinned via SUM(DISTINCT): stream ≡ batch.
    Q("st20_stream_distinct_mv",
      (s, d) => {
        EventStream.runFirstSeenMvOnce(s, s"$d/events.parquet")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_distinct_users"),
            sumLong(col("user_id")).as("user_id_sum"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users,
             |CAST(SUM(DISTINCT user_id) AS BIGINT) AS user_id_sum
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming BLOOM-INDEX maintenance (u11's streaming twin — the
    // membership sketch joins the MV family: BIT_OR folds are
    // idempotent AND commutative, so the folded filter is bit-identical
    // to the one-shot build under any batch order or redelivery). The
    // final state serves the purchase-user probe batch through one
    // broadcast join; the explicit universal hash family lets the
    // oracle replay the WHOLE filter, false positives included — the
    // same exact contract as u11, arrived at through the stream.
    Q("st21_stream_bloom_mv",
      (s, d) => {
        val B = graft.llm.Frequency.Bloom
        val state = EventStream.runBloomMvOnce(s, s"$d/events.parquet")
        val ev = graft.core.Tables.readEvents(s, d)
        val keys = ev.where(col("event_type") === "signup")
          .select(col("user_id").as("u")).distinct()
        val probes = ev.where(col("event_type") === "purchase")
          .select(col("user_id").as("u")).distinct()
        B.memberHits(probes, state, "u")
          .join(keys.select(col("u"), lit(1).as("in_set")), Seq("u"), "left")
          .agg(count(lit(1)).as("n_probes"),
            Det.countIf(col("bloom_hit")).as("n_bloom_hits"),
            Det.countIf(col("in_set").isNotNull).as("n_present"),
            Det.countIf(col("bloom_hit") && col("in_set").isNull)
              .as("n_false_pos"),
            Det.countIf(!col("bloom_hit") && col("in_set").isNotNull)
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
              |  CAST(SUM(CASE WHEN bloom_hit = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
              |  CAST(SUM(CASE WHEN present = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_present,
              |  CAST(SUM(CASE WHEN bloom_hit = 1 AND present = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
              |  CAST(SUM(CASE WHEN bloom_hit = 0 AND present = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
              |FROM j""".stripMargin)),

    // Streaming ZONE-MAP maintenance (u12's streaming twin — the
    // file-skipping min/max statistics kept current under continuous
    // ingest): per-bucket (min, max) folded by keyed MIN/MAX per
    // micro-batch — idempotent + commutative, so final state ≡ one-shot
    // GROUP BY, which is exactly what the oracle runs. min/max of
    // doubles PICK existing values (no arithmetic), so the comparison
    // is bit-exact with no decimal detour.
    Q("st22_stream_zonemap_mv",
      (s, d) => EventStream.runZoneMapMvOnce(s, s"$d/events.parquet")
        .select(col("bucket"), col("mn"), col("mx"))
        .orderBy(col("bucket")),
      Some("""SELECT event_id // 1000 AS bucket, MIN(value) AS mn,
             |MAX(value) AS mx
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming MAX-DRAWDOWN maintenance (t30's streaming twin — the
    // first ORDER-SENSITIVE statistic in the MV family): drawdown over
    // the event_id ingest order is no commutative row fold, but it IS
    // mergeable over interval summaries — dd(A|B) = max(dd_A, dd_B,
    // mx_A − mn_B) for A before B — but ONLY under ordered
    // concatenation, so the per-batch fold is a pure APPEND of
    // per-(user, segment-slice) summaries and ALL ordering happens at
    // read time (EventStream.runDrawdownMvOnce documents the
    // out-of-order-arrival trap an eager merge falls into). The read
    // walks each user's partials in lo order (disjoint event_id ranges
    // make lo the concatenation order) with O(1) state via
    // SeqFold.foldRows. Every number is a pick or a subtraction of
    // observed doubles, so the MV read is bit-equal to the one-shot
    // window recompute the oracle runs — stream ≡ batch, exactly.
    Q("st23_stream_drawdown_mv",
      (s, d) => {
        val state = EventStream.runDrawdownMvOnce(s, s"$d/events.parquet")
        val rows = graft.core.SeqFold.keyedRows(state, col("user_id"),
          col("lo"), col("hi"),
          Seq(col("mn"), col("mx"), col("dd"), col("cnt")))
        // state: (peak, dd, cnt); dd candidates use the PRE-update peak
        graft.core.SeqFold.foldRows(rows)(
            r => (r.vs(1), r.vs(2), r.vs(3)))(
            (acc, r) => (math.max(acc._1, r.vs(1)),
              math.max(acc._2, math.max(r.vs(2), acc._1 - r.vs(0))),
              acc._3 + r.vs(3)))(
            (_, _, st) => Some(Array(st._2, st._1, st._3)))
          .select(col("k").as("user_id"),
            col("out").getItem(2).cast("long").as("n_events"),
            round(col("out").getItem(0), 6).as("max_drawdown"),
            round(col("out").getItem(1), 6).as("peak_value"))
          .orderBy(col("user_id"))
      },
      Some("""WITH p AS (SELECT user_id, value,
             |    MAX(value) OVER (PARTITION BY user_id ORDER BY event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
             |  FROM events)
             |SELECT user_id, COUNT(*) AS n_events,
             |  ROUND(MAX(peak - value), 6) AS max_drawdown,
             |  ROUND(MAX(peak), 6) AS peak_value
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Streaming LAG-1 AUTOCORRELATION maintenance (t31's streaming twin
    // over the ingest order — st23's slice pattern GENERALIZED):
    // consecutive pairs straddle batch boundaries, but a slice summary
    // carrying its first/last value lets the read reconstruct every
    // straddling pair — between lo-consecutive slices the one missing
    // pair is (last_A, first_B), recovered by a rank-successor equi
    // join (dq22's machinery). Moments are DECIMAL-quantized sums, so
    // slice partials ∪ boundary terms aggregate COMMUTATIVELY — no
    // sequential walk at read time at all. Bit-exact vs the one-shot
    // lag recompute the oracle runs; stream ≡ batch.
    Q("st24_stream_autocorr_mv",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val dec = DecimalType(37, 6)
        val state = EventStream.runAutocorrMvOnce(s, s"$d/events.parquet")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("lo"))
        val rk = state.withColumn("rk", row_number().over(w))
        val bounds = rk.select(col("user_id"), col("rk"), col("lastv"))
          .join(rk.select(col("user_id"), (col("rk") - 1).as("rk"),
            col("firstv")), Seq("user_id", "rk"))
          .select(col("user_id"), lit(1L).as("np"),
            col("lastv").cast(dec).as("sx"),
            col("firstv").cast(dec).as("sy"),
            (col("lastv") * col("lastv")).cast(dec).as("sxx"),
            (col("firstv") * col("firstv")).cast(dec).as("syy"),
            (col("lastv") * col("firstv")).cast(dec).as("sxy"))
        val slices = state.select(col("user_id"), col("np"),
          col("sx").cast(dec).as("sx"), col("sy").cast(dec).as("sy"),
          col("sxx").cast(dec).as("sxx"), col("syy").cast(dec).as("syy"),
          col("sxy").cast(dec).as("sxy"))
        val m = slices.unionByName(bounds)
          .groupBy(col("user_id"))
          .agg(sum(col("np")).as("np"),
            sum(col("sx")).cast("double").as("sx"),
            sum(col("sy")).cast("double").as("sy"),
            sum(col("sxx")).cast("double").as("sxx"),
            sum(col("syy")).cast("double").as("syy"),
            sum(col("sxy")).cast("double").as("sxy"))
        val vx = col("np") * col("sxx") - col("sx") * col("sx")
        val vy = col("np") * col("syy") - col("sy") * col("sy")
        m.where(col("np") >= 2 && vx > 0 && vy > 0)
          .select(col("user_id"), col("np").as("n_pairs"),
            round((col("np") * col("sxy") - col("sx") * col("sy")) /
              sqrt(vx * vy), 6).as("autocorr_lag1"))
          .orderBy(col("user_id"))
      },
      Some("""WITH p AS (SELECT user_id, value AS y,
             |    LAG(value) OVER (PARTITION BY user_id ORDER BY event_id)
             |      AS x
             |  FROM events),
             |m AS (SELECT user_id, COUNT(*) AS np,
             |    CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(x*x AS DECIMAL(27,6))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(y*y AS DECIMAL(27,6))) AS DOUBLE) AS syy,
             |    CAST(SUM(CAST(x*y AS DECIMAL(27,6))) AS DOUBLE) AS sxy
             |  FROM p WHERE x IS NOT NULL GROUP BY 1)
             |SELECT user_id, np AS n_pairs,
             |  ROUND((np*sxy - sx*sy) /
             |    SQRT((np*sxx - sx*sx) * (np*syy - sy*sy)), 6) AS autocorr_lag1
             |FROM m
             |WHERE np >= 2 AND np*sxx - sx*sx > 0 AND np*syy - sy*sy > 0
             |ORDER BY 1""".stripMargin)))
}
