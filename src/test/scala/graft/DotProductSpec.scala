package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

class DotProductSpec extends SparkSpec {

  test("dot_product matches the lambda fold bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val df = Seq.fill(200)((
      Array.fill(64)(rnd.nextGaussian()), Array.fill(64)(rnd.nextGaussian())))
      .toDF("a", "b")
    val rows = df.select(
      GraftFunctions.dot_product(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (s, v) => s + v)
        .as("lambda")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact
  }

  test("dot_product throws on dimension mismatch (no silent min-length truncation)") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0))).toDF("a", "b")
    // interpreted path
    val eInterp = intercept[Exception] {
      df.select(GraftFunctions.dot_product(col("a"), col("b"))).collect()
    }
    assert(exceptionChain(eInterp).exists(_.getMessage.contains("dimension mismatch")), eInterp)
    // codegen path (project over enough rows to stay in whole-stage codegen)
    val big = Seq.fill(100)((Array(1.0, 2.0, 3.0), Array(4.0, 5.0))).toDF("a", "b")
    val eGen = intercept[Exception] {
      big.select(GraftFunctions.dot_product(col("a"), col("b")).as("d")).agg(sum(col("d"))).collect()
    }
    assert(exceptionChain(eGen).exists(_.getMessage.contains("dimension mismatch")), eGen)
  }

  private def exceptionChain(e: Throwable): List[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toList

  test("dot_product nulls and SQL registration") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    df.createOrReplaceTempView("dp")
    assert(spark.sql("SELECT dot_product(a, b) FROM dp").collect()(0).getDouble(0) === 32.0)
    val withNull = df.select(GraftFunctions.dot_product(lit(null).cast("array<double>"), col("b")))
    assert(withNull.collect()(0).isNullAt(0))
  }

  test("registration is droppable and re-installable (registry lifecycle)") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    GraftFunctions.register(spark)
    val reg = spark.sessionState.functionRegistry
    assert(reg.functionExists(FunctionIdentifier("dot_product")))
    reg.dropFunction(FunctionIdentifier("dot_product"))
    assert(!reg.functionExists(FunctionIdentifier("dot_product")))
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT dot_product(array(3.0d), array(5.0d))").collect()(0)
      .getDouble(0) === 15.0)
  }

  test("dot_product participates in whole-stage codegen") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val df = emb.select(GraftFunctions.dot_product(col("v"), col("v")).as("d"))
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [dot_product"), plan)
    assert(df.collect().forall(_.getDouble(0) >= 0.0)) // self-dot = squared norm
  }
}
