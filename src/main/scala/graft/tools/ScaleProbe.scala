package graft.tools

import org.apache.commons.io.FileUtils

/** The superlinearity probe beyond the largest real SF: times named
  * catalog queries on a ×copies salted corpus ([[ProbeCorpus]]) of
  * `sfDir` against the same queries at `sfDir`. ×10 over sf0.1 is the
  * sf1-equivalent point, ×100 the sf10-equivalent one. Bench's
  * headline `worst_scale_ratios` names the queries worth probing.
  *
  * Usage:
  *   runMain graft.tools.ScaleProbe <sfDir> <copies> <outJson> <q1,..>
  *
  * For each query: 2 warm + 1 timed run at the BASE sf (a paired
  * reference, timed under the probe's own host conditions), then 2
  * timed runs on the ×copies corpus keeping the min (a genuinely
  * superlinear query is slow twice, a GC pause isn't). Emits one JSON
  * line and writes it to <outJson>: per-query base/probe seconds,
  * probe/base ratio, and the flag list (ratio > 1.5 × copies AND
  * probe >= 1 s — the catalog's 15×-at-10× bar generalized). The
  * corpus lives in a temp dir removed at exit unless a reusable
  * corpus dir is given (see below).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    // optional 5th arg: a REUSABLE corpus dir — generated there on
    // first use, kept afterwards (r15: the ×100 sweep over the ~125
    // remaining queries runs as several batches; regenerating the
    // ~GB corpus per batch would dominate the sweep). Optional 6th
    // arg `heaps`: the Heaps-law key-space-growing corpus for the
    // four bucket-quadratic audit ops (see [[ProbeCorpus.generate]]).
    val (Array(sfDir, copiesS, outJson, names), keepDir, heaps) =
      args match {
        case Array(a, b, c, d, k, "heaps") =>
          (Array(a, b, c, d), Some(k), true)
        case Array(a, b, c, d, k) => (Array(a, b, c, d), Some(k), false)
        case _ => (args, None, false)
      }
    val copies = copiesS.toInt
    val spark = CatalogHarness.session()
    def runOnce(name: String, dir: String): Double =
      math.round(CatalogHarness.timeOnce(spark, name, dir) * 1000) / 1000.0

    val dir = keepDir.map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Files.createTempDirectory("graft_scaleprobe"))
    // reuse only a corpus whose manifest matches THESE args — a crashed
    // mid-generation run (documents written, embeddings missing) or a
    // corpus built for a different sfDir/copies must be regenerated,
    // not silently relabeled (r15 advice)
    val manifestPath = dir.resolve("MANIFEST.json")
    val manifest = ProbeCorpus.manifestLine(sfDir, copies, heaps)
    val reusing = keepDir.nonEmpty &&
      java.nio.file.Files.exists(manifestPath) &&
      java.nio.file.Files.readString(manifestPath) == manifest
    try {
      if (!reusing) {
        java.nio.file.Files.deleteIfExists(manifestPath)
        ProbeCorpus.generate(spark, sfDir, dir.toString, copies,
          includeTpch = true, heaps = heaps)
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.writeString(manifestPath, manifest)
      }
      // one-time data-organization cost, outside the timed probes
      // (mirrors Bench.layoutSetup) so q26/q29/q30 probe the
      // exchange-free/pruned READ path, not a parquet write
      try graft.operators.BucketedOps.ensureBucketed(spark, dir.toString)
      catch { case _: Throwable => () }
      try graft.operators.PartitionedOps.ensurePartitioned(spark, dir.toString)
      catch { case _: Throwable => () }
      val qs = names.split(",").toSeq
      val rows = qs.map { q =>
        (1 to 2).foreach(_ => runOnce(q, sfDir))
        val base = runOnce(q, sfDir)
        val probe = CatalogHarness.bestOf(Seq.fill(2)(runOnce(q, dir.toString)))
        val ratio =
          if (base > 0 && probe >= 0)
            math.round(probe / math.max(base, 1e-3) * 100) / 100.0
          else -1.0
        println(s"""{"metric":"scale_probe_query","query":"$q","base_sec":$base,"probe_sec":$probe,"ratio":$ratio}""")
        (q, base, probe, ratio)
      }
      val flagBar = 1.5 * copies
      val flagged = rows.collect {
        case (q, _, p, r) if r > flagBar && p >= 1.0 => q
      }
      def jq(xs: Seq[(String, Double)]): String = xs.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val line =
        s"""{"metric":"scale_probe","base_sf":"$sfDir","copies":$copies,""" +
          s""""heaps_corpus":$heaps,""" +
          (if (heaps)
            s""""vocab_growth_rule":"token vocab x ceil(sqrt(copies)) = x${ProbeCorpus.heapsVocabFactor(copies)} (Heaps beta=0.5); embedding label space x copies","""
          else "") +
          s""""scaled_tables":["documents","embeddings","events",""" +
          s""""customer","orders","lineitem","part","supplier"],""" +
          s""""flag_threshold":$flagBar,""" +
          s""""flagged":${flagged.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
          s""""base_sec":${jq(rows.map(r => r._1 -> r._2))},""" +
          s""""probe_sec":${jq(rows.map(r => r._1 -> r._3))},""" +
          s""""ratio":${jq(rows.map(r => r._1 -> r._4))}}"""
      println(line)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), line)
    } finally {
      if (keepDir.isEmpty) FileUtils.deleteQuietly(dir.toFile)
      spark.stop()
    }
  }
}
