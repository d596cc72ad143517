package graft
/** Local smoke: runs SparkEntry.entry (the driver's t1 gate) and prints
  * the rows — run with `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.build()
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    rows.foreach(r => println(s"[smoke] $r"))
    println(s"[smoke] entry rows = ${rows.length}")
    spark.stop()
  }
}
