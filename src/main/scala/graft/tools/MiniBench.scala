package graft.tools

/** Bench-faithful subset timing for optimization A/Bs: same session
  * conf as graft.Bench, same pass structure (all queries per pass, min
  * across passes), and a real warmup (one sf0.001 pass + two target-SF
  * passes) so numbers are comparable to bench_full.json's
  * per_query_min — unlike a per-query warm-then-time loop in a fresh
  * JVM, where the first queries absorb all the JIT/codegen warmup and
  * drown a 0.2 s change in 1 s of noise.
  *
  * Usage: runMain graft.tools.MiniBench <sfDir> <timedPasses> <q1,...|ALL>
  * Prints one JSON line per query (min/median) plus a total line.
  */
object MiniBench {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, passesS, names) = args
    val passes = passesS.toInt
    val spark = CatalogHarness.session()
    val qs =
      if (names == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else names.split(",").toSeq
    def pass(dir: String): Map[String, Double] =
      qs.map(n => n -> CatalogHarness.timeOnce(spark, n, dir)).toMap
    pass("/root/testdata/sf0.001") // codegen/JIT warm at the small SF
    (1 to 2).foreach(_ => pass(sfDir)) // target-SF warm (buffers, JIT tiers)
    val timed = (1 to passes).map(_ => pass(sfDir))
    val mins = qs.map(n => n -> CatalogHarness.bestOf(timed.map(_(n))))
    mins.foreach { case (n, v) =>
      val med = {
        val g = timed.map(_(n)).filter(_ >= 0).sorted
        if (g.isEmpty) -1.0 else g(g.size / 2)
      }
      println(f"""{"query":"$n","min":$v%.3f,"median":$med%.3f}""")
    }
    println(f"""{"minibench_total":${mins.map(_._2).filter(_ >= 0).sum}%.3f,"passes":$passes}""")
    spark.stop()
  }
}
