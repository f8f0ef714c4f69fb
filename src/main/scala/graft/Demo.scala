package graft

import java.nio.file.Files

/** Minimal user-facing entry: run the reference-parity ETL on a catalog.
  *
  *   sbt "runMain graft.Demo <catalog.json> <outputDir>"
  *
  * Prints the distribution report and the indicator summary row.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val Array(catalogPath, outDir) = args.take(2)
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(java.nio.file.Paths.get(outDir))
    val result = Pipeline.run(spark, catalogPath, "democat", outDir)
    result.report.show(100, truncate = false)
    result.indicators.show(truncate = false)
    spark.stop()
  }
}
