package graftbench

import org.apache.spark.sql.SparkSession

/** Input and reference preparation, run outside any timed process. */
object Tools {

  /** The ten persisted derivation stores of `queries.Stores`, by name, in
    * derivation order (the cluster store reads the pair store). */
  val stores: Seq[(String, (SparkSession, String) => Unit)] = {
    import graft.queries.Stores
    Seq(
      "docPairs" -> ((s, d) => { Stores.docPairs(s, d).count(); () }),
      "docClusters" -> ((s, d) => { Stores.docClusters(s, d).count(); () }),
      "pcaModel" -> ((s, d) => { Stores.pcaModel(s, d); () }),
      "kmeansModel" -> ((s, d) => { Stores.kmeansModel(s, d); () }),
      "media" -> ((s, d) => { Stores.media(s, d).features.count(); () }),
      "centroidPredictions" -> ((s, d) => { Stores.centroidPredictions(s, d).count(); () }),
      "docContainment" -> ((s, d) => { Stores.docContainment(s, d).count(); () }),
      "lmScores" -> ((s, d) => { Stores.lmScores(s, d).count(); () }),
      "qualityScores" -> ((s, d) => { Stores.qualityScores(s, d).count(); () }),
      "embedPairs" -> ((s, d) => { Stores.embedPairs(s, d).count(); () }))
  }

  /** Generate the query corpus at scale `sf` with `graft.tools.ScaleGen`
    * (deterministic: every value is a pure function of table and row id),
    * then derive every persisted store the queries read, under the store
    * root the runs will use. Each store's derivation time goes to
    * `<outDir>/stores.tsv`. */
  def data(outDir: String, sf: Double): Unit = {
    val work = new java.io.File(outDir).getAbsoluteFile.getParentFile.getParent
    val spark = Session.create(Runtime.getRuntime.availableProcessors(), work)
    try {
      graft.tools.ScaleGen.generate(spark, outDir, sf)
      val times = stores.map { case (n, derive) =>
        val t0 = System.nanoTime()
        derive(spark, outDir)
        n -> (System.nanoTime() - t0) / 1e9
      }
      // the IVF index is derived by the query that reads it
      val t0 = System.nanoTime()
      Batch.noop(graft.SparkEntry.queries("q74_knn_ivf_saved")(spark, outDir))
      val all = times :+ ("ivfIndex" -> (System.nanoTime() - t0) / 1e9)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/stores.tsv"),
        all.map { case (n, s) => s"$n\t$s" }.mkString("", "\n", "\n").getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** Build the reference file for the data in `dataDir`: every query runs
    * three times. Pass one warms codegen and the stores and, with
    * `dumpDir`, writes each result as parquet with the oracle SQL beside
    * it, in the layout `tools/check_oracle.py` reads. Pass two records the
    * warm cost and a second fingerprint that must equal the first. Pass
    * three runs with one shuffle partition; its fingerprint must equal
    * them too, so a reference does not depend on how many partitions the
    * host or a plan change gives the query. */
  def refs(dataDir: String, out: String, dumpDir: Option[String]): Unit = {
    val work = new java.io.File(out).getAbsoluteFile.getParent + "/refs-work"
    val spark = Session.create(Runtime.getRuntime.availableProcessors(), work)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val first = names.flatMap { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, dataDir)
        Batch.noop(df)
        val fp = Check.fingerprint(df)
        dumpDir.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$n"))
        Some(n -> fp)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[refs] $n FAILED: ${e.getMessage}"); None
      } finally Batch.release(spark)
    }.toMap
    val refs = names.filter(first.contains).flatMap { n =>
      try {
        val t = Batch.execute(spark, n, dataDir, "refs", new Spans(false))
        val fp = Check.fingerprint(t.df)
        Check.compare(n, fp, first(n)) match {
          case Some(why) => System.err.println(s"[refs] NONDETERMINISTIC $why"); None
          case None => Some(Batch.Ref(n, fp, t.constructS + t.writeS))
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[refs] $n FAILED on pass two: ${e.getMessage}"); None
      } finally Batch.release(spark)
    }
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val partitionFree = refs.filter { r =>
      try {
        val fp = Check.fingerprint(graft.SparkEntry.queries(r.name)(spark, dataDir))
        Check.compare(r.name, fp, r.fp) match {
          case Some(why) => System.err.println(s"[refs] PARTITION-DEPENDENT $why"); false
          case None => true
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[refs] ${r.name} FAILED on pass three: ${e.getMessage}"); false
      } finally Batch.release(spark)
    }
    Batch.writeRefs(out, partitionFree)
    dumpDir.foreach { d =>
      val sql = graft.SparkEntry.oracleSql.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/oracle_sql.json"),
        sql.mkString("{", ",", "}").getBytes("UTF-8"))
    }
    System.err.println(s"[refs] ${partitionFree.size} of ${names.size} queries referenced")
    spark.stop()
  }
}
