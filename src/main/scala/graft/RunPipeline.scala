package graft

import graft.fixtures.RefFixture
import graft.pipeline.EdaPipeline

/** CLI entry for the end-to-end EDA pipeline (the reference's script
  * surface, `public_eda_pipeline.py:909-910`).
  *
  * Usage: runMain graft.RunPipeline <inputDir> <outDir>
  *        runMain graft.RunPipeline --fixture <outDir>   (generate the
  *        reference-schema analog fixture first, then run on it)
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val spark = Session.build()
    val (inputDir, outDir) = args match {
      case Array("--fixture", out) =>
        val fx = java.nio.file.Files.createTempDirectory("graft_fixture").toString
        RefFixture.write(spark, fx)
        (fx, out)
      case Array("--fixture", out, nTrain) =>
        val fx = java.nio.file.Files.createTempDirectory("graft_fixture").toString
        RefFixture.write(spark, fx, nTrain.toLong, nTrain.toLong * 3 / 8)
        (fx, out)
      case Array(in, out) => (in, out)
      case _ =>
        System.err.println("usage: RunPipeline <inputDir> <outDir> | --fixture <outDir> [nTrain]")
        sys.exit(2)
    }
    val t0 = System.nanoTime()
    val r = EdaPipeline.run(spark, inputDir, outDir)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[pipeline] done in $secs%.1f s → $outDir")
    println(s"[pipeline] $r")
    spark.stop()
  }
}
