package graft.tools

/** Same-host A/B panel timer — one side of the machine-emitted
  * cross-round control (r15 verdict #1): this host re-times a ~2× drift
  * between sessions, so a committed BENCH artifact from round N−1 is
  * NOT a valid baseline for round N. The control is two ABPanel runs,
  * OLD build and NEW build, back-to-back on the same host in the same
  * hour (scripts/ab_bench.sh orchestrates: git-worktree checkout of the
  * prior round-close commit, this file and [[CatalogHarness]] dropped
  * in, both sides timed, results merged into AB_r{N}.json with
  * per-query deltas).
  *
  * Usage: runMain graft.tools.ABPanel <sfDir> <outJson> <label> <q1,..>
  *
  * Per query: 1 untimed warm pass (session/codegen/footer init), then
  * N timed passes keeping the min (GRAFT_AB_PASSES, default 3) — the
  * agreeing-evidence rule: a real regression is slow every time, a GC
  * pause or cron blip is not. All passes are published so a reader can
  * judge the noise floor of the comparison itself.
  */
object ABPanel {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outJson, label, names) = args.take(4)
    val spark = CatalogHarness.session()
    def runOnce(name: String): Double =
      math.round(CatalogHarness.timeOnce(spark, name, sfDir) * 1000) / 1000.0
    try {
      val qs = names.split(",").toSeq
      // min-of-N, default 3; GRAFT_AB_PASSES=5 for a settle run (r16
      // verdict #4: pipe_mix_optimizer's +41% blip needed min-of-5 to
      // adjudicate — more passes squeeze the noise floor further on
      // sub-second panel entries). Validated parse (r17 advice #1): a
      // bare .toInt threw on garbage, and 0/negative silently yielded
      // ZERO timed passes — every query then read -1 "failed" and
      // poisoned the ab_bench totals. Garbage or <1 ⇒ the default 3.
      val nPasses = sys.env.get("GRAFT_AB_PASSES")
        .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
      val rows = qs.map { q =>
        runOnce(q) // warm
        val passes = (1 to nPasses).map(_ => runOnce(q))
        val best = CatalogHarness.bestOf(passes)
        println(s"""{"metric":"ab_query","label":"$label","query":"$q","min_sec":$best,"passes":[${passes.mkString(",")}]}""")
        (q, best, passes)
      }
      def jq(xs: Seq[(String, Double)]): String = xs.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val passJson = rows.sortBy(_._1).map { case (q, _, ps) =>
        "\"" + q + "\":[" + ps.mkString(",") + "]"
      }.mkString("{", ",", "}")
      val total = math.round(
        rows.map(_._2).filter(_ >= 0).sum * 1000) / 1000.0
      // r16 advice: a query failing on ONE side silently shrank that
      // side's total, skewing the headline delta — publish the failure
      // set so ab_bench.sh can recompute totals over the intersection
      // of succeeded queries (and a reader sees the asymmetry at once)
      val failedQ = rows.filter(_._2 < 0).map(_._1).sorted
      val failedJson = failedQ.map("\"" + _ + "\"").mkString("[", ",", "]")
      val line =
        s"""{"metric":"ab_panel","label":"$label","sf":"$sfDir",""" +
          s""""panel_total_min_sec":$total,""" +
          s""""failed_count":${failedQ.size},"failed":$failedJson,""" +
          s""""queries_min":${jq(rows.map(r => r._1 -> r._2))},""" +
          s""""passes":$passJson}"""
      println(line)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outJson), line)
    } finally spark.stop()
  }
}
