package graft.tools

/** Optimization-round plan capture: write each catalog query's
  * `.explain("formatted")` output (AQE FINAL plan — the query is
  * executed first, then the same QueryExecution is explained) to
  * `<outDir>/<query>_<tag>.txt`, plus a one-line node-count summary on
  * stdout per query so a sweep over the whole catalog can be grepped
  * for plan-shape anomalies (Exchange counts, join strategies,
  * unpushed filters).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> <q1,q2,...|ALL>
  *
  * Runs in [[CatalogHarness.session]], the session graft.Bench uses, so
  * the captured plans are the ones the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names) = args
    val spark = CatalogHarness.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs =
      if (names == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else names.split(",").toSeq
    qs.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        // execute THIS QueryExecution so the formatted explain below
        // shows the final AQE plan (join strategy swaps, coalesced
        // reads) rather than the unexecuted initial plan
        df.queryExecution.executedPlan.executeCollect()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        def n(pat: String) = pat.r.findAllIn(plan).size
        println(s"[plandump] $name FileScan=${n("Scan parquet")} " +
          s"Exchange=${n("Exchange")} Reused=${n("ReusedExchange")} " +
          s"BHJ=${n("BroadcastHashJoin")} SMJ=${n("SortMergeJoin")} " +
          s"SHJ=${n("ShuffledHashJoin")} BNLJ=${n("BroadcastNestedLoop")} " +
          s"Cartesian=${n("CartesianProduct")} Window=${n("Window")} " +
          s"Codegen=${n("WholeStageCodegen")}")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED ${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).take(160)}")
      }
      CatalogHarness.dropPersisted(spark)
    }
    spark.stop()
  }
}
