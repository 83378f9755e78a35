package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query subset for targeted
    // local e2e checks with scripts/check.py (driver passes 2 args)
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = graft.tools.CatalogHarness.session()
    new java.io.File(outDir).mkdirs()
    // r9 postmortem: a query that crashed here produced NO parquet, and
    // the driver's compare silently omitted it — 24 erroring queries
    // vanished from CORRECTNESS_r09 and the round read as green. Now a
    // crash writes an explicit one-row {err} parquet in the query's
    // place: any downstream compare sees a named schema/row mismatch
    // with the exception text, never an omission.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        try {
          import spark.implicits._
          Seq(msg).toDF("err").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      // drop localCheckpoint blocks left by multi-branch queries
      graft.tools.CatalogHarness.dropPersisted(spark)
    }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable error manifest + a LAST stdout line carrying the
    // registered-vs-dumped counts, so a shrunk catalog is visible from
    // the artifact tail alone (catalog hygiene, r9 advice #2/#6)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    val errNames = errors.keys.map(q).mkString("[", ",", "]")
    val attempted = SparkEntry.queries.keys
      .count(n => subset.forall(_.contains(n)))
    println(s"""{"metric":"verify_done","catalog_size":${SparkEntry.queries.size},"oracle_sql_size":${SparkEntry.oracleSql.size},"dumped_ok":${attempted - errors.size},"failed_count":${errors.size},"failed":$errNames}""")
    spark.stop()
  }
}
