package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.streaming.EventStream

/** The events `ts` column arrives in whatever encoding the producer chose:
  * INT64 TIMESTAMP(NANOS) (nanosecond producers; Spark surfaces it as a
  * long under `nanosAsLong`), TIMESTAMP(MICROS, isAdjustedToUTC=false)
  * (pandas/pyarrow default → TIMESTAMP_NTZ), or an instant-adjusted
  * timestamp (Spark's own writer). These specs pin [[Tables.normalizeEventTs]]
  * to ABSOLUTE microsecond values per encoding — a silent scale confusion
  * (micros treated as nanos compresses event time 1000×) must fail loudly
  * here, not as wrong windows downstream — and prove the streaming replays
  * produce identical results over nanos-long and micros fixtures. */
class EventEncodingSpec extends SparkSpec {

  // one known instant: 2023-11-14T22:13:20.123456Z
  private val BaseMicros = 1700000000123456L

  private def rows(n: Int): Seq[(Long, Long, Long, String, Double, String)] =
    (0 until n).map { i =>
      // spread across 3 days, 2 users, 2 event types
      val micros = BaseMicros + i.toLong * 8L * 3600L * 1000000L
      (i.toLong, micros, (i % 2).toLong,
        if (i % 3 == 0) "click" else "purchase", i * 1.5, "")
    }

  /** Write the fixture with ts as raw INT64 micros-scaled-to-nanos longs —
    * the shape the legacy nanos fixture presents after `nanosAsLong`. */
  private def writeNanosLong(n: Int): String = {
    import spark.implicits._
    val dir = tempDir("graft_enc_nanos").toString
    rows(n).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts") * lit(1000L)) // micros → nanos
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** Write the fixture with ts as TIMESTAMP_NTZ (parquet
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) — the pandas/pyarrow shape). */
  private def writeNtz(n: Int): String = {
    import spark.implicits._
    val dir = tempDir("graft_enc_ntz").toString
    rows(n).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")).cast(TimestampNTZType))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** Write the fixture with ts as a plain TimestampType instant. */
  private def writeUtc(n: Int): String = {
    import spark.implicits._
    val dir = tempDir("graft_enc_utc").toString
    rows(n).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def tsMicrosOfFirst(df: DataFrame): Long =
    df.where(col("event_id") === 0L).select(unix_micros(col("ts"))).head.getLong(0)

  test("normalizeEventTs pins the absolute instant for all three ts encodings") {
    val nanosDir = writeNanosLong(4)
    val ntzDir = writeNtz(4)
    val utcDir = writeUtc(4)
    // raw footer types differ...
    assert(Tables.readEventsPath(spark, nanosDir).schema("ts").dataType === TimestampType)
    val rawNtz = { spark.read.parquet(ntzDir) }
    assert(rawNtz.schema("ts").dataType === TimestampNTZType)
    // ...but the normalized instant is identical and ABSOLUTE: a 1000×
    // nanos/micros confusion would shift this by 3 orders of magnitude
    assert(tsMicrosOfFirst(Tables.readEventsPath(spark, nanosDir)) === BaseMicros)
    assert(tsMicrosOfFirst(Tables.readEventsPath(spark, ntzDir)) === BaseMicros)
    assert(tsMicrosOfFirst(Tables.readEventsPath(spark, utcDir)) === BaseMicros)
  }

  test("normalizeEventTs rejects an unsupported ts encoding") {
    import spark.implicits._
    val bad = Seq(("x", 1)).toDF("ts", "v")
    intercept[IllegalArgumentException] { Tables.normalizeEventTs(bad) }
  }

  test("windowed stream replay is encoding-invariant (nanos-long vs micros NTZ)") {
    def run(dir: String) =
      EventStream.runWindowedOnce(spark, dir)
        .select(col("window_start").cast("string"), col("event_type"), col("n"),
          round(col("sum_value"), 6).as("s"))
        .collect().map(_.toSeq).toSet
    val a = run(writeNanosLong(12))
    val b = run(writeNtz(12))
    assert(a.nonEmpty && a === b, s"nanos=$a vs ntz=$b")
    // 12 events × 8h span 4+ distinct days → windows must NOT collapse
    // (the 1000× compression bug collapsed 150 windows into 5)
    assert(a.map(_.head).size >= 4, s"windows collapsed: $a")
  }

  test("profile replay pins sum_micros and recency order under micros encoding") {
    val dir = writeNtz(6)
    val out = EventStream.runProfileOnce(spark, dir)
      .select("userId", "nEvents", "sumMicros", "recent5")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // user 0 gets events 0,2,4 (values 0.0, 3.0, 6.0 → 9_000_000 micros);
    // recent5 is most-recent-first by event time: 4,2,0
    assert(out(0L) === ((3L, 9000000L, "4,2,0")), s"got ${out(0L)}")
    // user 1 gets events 1,3,5 (values 1.5, 4.5, 7.5 → 13_500_000 micros)
    assert(out(1L) === ((3L, 13500000L, "5,3,1")), s"got ${out(1L)}")
  }

  test("sessionize replay flushes trailing sessions for the micros encoding") {
    val dir = writeNtz(8)
    val sessions = EventStream.runSessionizeOnce(spark, dir)
      .collect()
    // 8h gaps > 30min session gap → every event is its own session
    assert(sessions.length === 8, s"got ${sessions.length} sessions")
  }
}
