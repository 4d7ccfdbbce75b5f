package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated name prefixes); the driver
    // never sets it, so the default remains the full surface
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = only match {
      case Some(ps) => SparkEntry.queries.filter { case (n, _) => ps.exists(n.startsWith) }
      case None     => SparkEntry.queries
    }
    val schemas = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.types.StructType]
    selected.foreach { case (name, fn) =>
      // scoped: operator-staged frames (posting lists, signature sets)
      // release after each query's write, so the dump holds no net cache
      try graft.ops.Staged.scoped {
        val df = fn(spark, sfDir)
        schemas(name) = df.schema
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Golden queries (xxhash64 / seeded-hyperplane machinery DuckDB cannot
    // express) get a synthesized oracle that reads the COMMITTED sf0.01
    // golden TSV back through DuckDB with the result's exact column types
    // — the same pinned outputs `sbt test` enforces, now surfaced as
    // value-level rows+schema+hash checks in the driver's correctness
    // artifact instead of 28 `no_oracle` gaps. Only valid when this dump
    // ran at the goldens' own scale factor; at any other SF these queries
    // fall back to the rows-only record, exactly as before.
    val atGoldenSf =
      try new java.io.File(sfDir).getCanonicalPath ==
        new java.io.File(Golden.sfDir).getCanonicalPath
      catch { case _: Throwable => false }
    val goldenOracle: Map[String, String] =
      if (!atGoldenSf) Map.empty
      else Golden.queries.flatMap { name =>
        schemas.get(name).flatMap { sch =>
          try Some(name -> Golden.oracleSql(name, sch))
          catch { case e: Throwable =>
            System.err.println(s"[verify] golden oracle for $name skipped: ${e.getMessage}")
            None
          }
        }
      }.toMap
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // hand-written SQL wins on any (unexpected) key overlap: a query with
    // a real DuckDB derivation is a stronger check than a file replay
    val json = (goldenOracle ++ SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
