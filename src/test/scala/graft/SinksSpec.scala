package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.io.Sinks
import graft.io.Sinks.{asc, desc}

/** The row-based sinks against their DataFrame forms: a driver table
  * sorted by [[Sinks.orderBy]] must write the same bytes as the same
  * table sorted by Spark's `orderBy`. */
class SinksSpec extends SparkSpec {

  private val header = Seq("id", "s", "v")
  // nulls in both sort columns, NaN, ±0.0 (equal to Spark, so the next
  // key decides), a non-ASCII string, ties on v, and strings that need
  // CSV quoting
  private val data: Seq[Row] = Seq[(Long, String, java.lang.Double)](
    (1L, "a,b", 1.5), (2L, "c\"d", null), (3L, null, Double.NaN), (4L, "e", -0.0),
    (5L, "f", 0.0), (6L, "a,b", 1.5), (7L, "", Double.NaN), (8L, "z", -1.0),
    (9L, null, null), (10L, "é", 0.0), (11L, "f", -0.0), (12L, "e", 1.5),
    (13L, "x\ny", Double.PositiveInfinity), (14L, "a", Double.NegativeInfinity)
  ).map(Row.fromTuple)

  private def bytes(write: String => Unit): String = {
    val p = tempDir("sinks").resolve("t.csv")
    write(p.toString)
    new String(Files.readAllBytes(p), "UTF-8")
  }

  test("row-based writeCsv and pretty match the DataFrame path under Spark's orderBy") {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(data.asJava, StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("s", StringType),
      StructField("v", DoubleType))))
    val cases: Seq[(Seq[Column], Seq[Sinks.Key[Row]])] = Seq(
      (Seq(col("v"), col("s"), col("id")), Seq(asc(_.get(2)), asc(_.get(1)), asc(_.get(0)))),
      (Seq(col("v").desc, col("s").desc, col("id")),
        Seq(desc(_.get(2)), desc(_.get(1)), asc(_.get(0)))),
      (Seq(col("s").desc, col("v"), col("id").desc),
        Seq(desc(_.get(1)), asc(_.get(2)), desc(_.get(0)))))
    for ((sparkOrder, keys) <- cases) {
      val sorted = df.orderBy(sparkOrder: _*)
      val driver = Sinks.orderBy(data)(keys: _*)
      val fromDf = bytes(Sinks.writeCsv(sorted, _))
      assert(fromDf === bytes(Sinks.writeCsv(header, driver, _)), s"order $sparkOrder")
      assert(fromDf.linesIterator.size > data.size) // the quoted newline splits one line
      assert(Sinks.pretty(sorted, 10) === Sinks.pretty(header, driver, 10), s"order $sparkOrder")
    }
  }
}
