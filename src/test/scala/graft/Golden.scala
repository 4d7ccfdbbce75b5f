package graft

/** Regenerate the committed golden files after an INTENDED output change:
  * `sbt "Test/runMain graft.GoldenGen"` — then review the diff like any
  * other code change. (The [[Golden]] object itself lives in `src/main`
  * so [[Verify]] can surface the same checks to the driver's DuckDB
  * gate.) */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(
      if (args.nonEmpty) args(0) else "src/test/resources/golden")
    java.nio.file.Files.createDirectories(outDir)
    val spark = Session(cores = SparkSuite.Cores)
    Golden.queries.foreach { name =>
      val lines = Golden.canon(SparkEntry.queries(name)(spark, Golden.sfDir))
      java.nio.file.Files.write(outDir.resolve(s"$name.tsv"),
        String.join("\n", lines: _*).getBytes("UTF-8"))
      println(s"[golden] wrote $name: ${lines.size - 1} rows")
    }
    spark.stop()
  }
}
