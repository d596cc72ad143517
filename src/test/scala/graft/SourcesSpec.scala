package graft

import org.apache.spark.sql.functions._

/** Source/sink round-trips and partition pruning — the scan-side scale
  * techniques: a filter on the partition column must prune directories
  * (PartitionFilters), not just rows. */
class SourcesSpec extends SparkSpec {

  private lazy val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  test("hive-partitioned write + read prunes partitions at the scan") {
    val dir = tempDir("graft_part").toString
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val back = spark.read.parquet(dir).where(col("o_orderstatus") === "F")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"), plan)
    // only the F partition directory is read
    assert(back.count() === orders.where(col("o_orderstatus") === "F").count())
    val scanned = plan.linesIterator.find(_.contains("FileScan")).get
    assert(!scanned.contains("o_orderstatus=O"), "pruned partitions must not be listed")
  }

  test("Sinks.writeParquetPartitioned: pruning, sorted files, bounded file count") {
    val dir = tempDir("graft_psink").toString
    graft.io.Sinks.writeParquetPartitioned(
      orders, dir, Seq("o_orderstatus"), sortCols = Seq("o_orderkey"))
    val back = spark.read.parquet(dir)
    assert(back.count() === orders.count())
    val plan = back.where(col("o_orderstatus") === "F")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"), plan)
    // one file per partition directory (maxFilesPerPartition default)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n === 1, s"${d.getName}: $n part files")
    }
  }

  test("CSV round-trip preserves data with explicit schema") {
    val dir = tempDir("graft_csv").toString
    val sample = orders.limit(500).select("o_orderkey", "o_totalprice", "o_orderstatus")
    sample.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(sample.schema).csv(dir)
    assert(back.count() === 500)
    val a = sample.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val b = back.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(a === b)
  }

  test("JSON round-trip preserves data incl. nested struct") {
    val dir = tempDir("graft_json").toString
    val sample = orders.limit(200)
      .select(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderstatus")).as("payload"))
    sample.write.mode("overwrite").json(dir)
    val back = spark.read.schema(sample.schema).json(dir)
    assert(back.count() === 200)
    val a = sample.collect().map(r => (r.getLong(0), r.getStruct(1).getDouble(0))).toSet
    val b = back.collect().map(r => (r.getLong(0), r.getStruct(1).getDouble(0))).toSet
    assert(a === b)
  }

  test("p3 shape: partitioned scan + broadcast join keeps partition pruning") {
    val dir = tempDir("graft_p3").toString
    graft.io.Sinks.writeParquetPartitioned(orders, dir, Seq("o_orderstatus"))
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val q = spark.read.parquet(dir)
      .where(col("o_orderstatus") === "O")
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    // the filter must reach the scan as a PARTITION filter even under the
    // join — whole directories skipped, not rows
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    val expected = orders.where(col("o_orderstatus") === "O")
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet === expected)
  }

  test("maxPartitionBytes shapes scan parallelism") {
    val li = "/root/testdata/sf0.01/lineitem.parquet"
    val defParts = spark.read.parquet(li).rdd.getNumPartitions
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "262144") // 256 KiB
      val smallParts = spark.read.parquet(li).rdd.getNumPartitions
      assert(smallParts > defParts, s"$smallParts vs $defParts")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }
}
