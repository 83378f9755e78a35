package graft.pipeline

import graft.SparkSuite
import graft.core.GraftSession.withConf
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Structural + differential checks for the pipeline operators (the
  * DuckDB oracle replays each algorithm, so these assert independent
  * invariants a shared algorithmic bug could not satisfy).
  */
class PipelineSpec extends SparkSuite {

  private val B = PipelineOps.ChunkTokens

  private lazy val docTokens: Array[(Long, Long)] =
    Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)

  test("length buckets census matches a driver recompute, waste exact") {
    val docs = graft.core.Tables.documents(spark, sf0001)
      .selectExpr("text").collect().map(_.getString(0))
    val ladder = Seq(16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
    def bucketOf(n: Int): Int =
      ladder.find(n <= _).getOrElse(8192)
    val expect = docs.map(t => t.split(" ", -1).length)
      .groupBy(bucketOf)
      .view.mapValues { ns =>
        (ns.length.toLong, ns.map(_.toLong).sum)
      }.toMap
    val got = PipelineOps.lengthBuckets(spark, sf0001).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == expect.keySet && got.nonEmpty)
    got.foreach { case (b, (n, tok, pad)) =>
      val (en, etok) = expect(b)
      assert(n == en && tok == etok, s"census mismatch at bucket $b")
      assert(pad == b * n - tok, s"pad not exact at bucket $b")
      assert(pad >= 0 && pad < b * n, s"pad out of range at bucket $b")
    }
  }

  test("packChunks start offsets equal an independent driver cumsum") {
    val out = PipelineOps.packChunks(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.length == docTokens.length)
    var cum = 0L
    docTokens.zip(out).foreach { case ((id, n), (oid, on, start, fc, lc, nc)) =>
      assert(oid == id && on == n)
      assert(start == cum, s"doc $id start $start != cumsum $cum")
      assert(fc == start / B && lc == (start + n - 1) / B && nc == lc - fc + 1)
      cum += n
    }
  }

  test("packNextFit matches a driver next-fit and respects capacity") {
    val langs = Tables.documents(spark, sf0001)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    val tok = docTokens.toMap
    val expected = langs.toSeq.flatMap { case (lang, rows) =>
      var bin = 0L; var fill = 0L
      rows.map(_._2).sorted.map { id =>
        val n = tok(id)
        if (fill > 0 && fill + n > B) { bin += 1; fill = n } else fill += n
        (lang, id) -> ((bin, fill))
      }.toSeq
    }.toMap
    val out = PipelineOps.packNextFit(spark, sf0001).collect()
    assert(out.length == expected.size)
    out.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val (bin, fill) = expected(key)
      assert(r.getLong(3) == bin && r.getLong(4) == fill, s"mismatch at $key")
      // capacity holds unless the bin is a single oversized doc
      assert(r.getLong(4) <= B || r.getLong(4) == r.getLong(2))
    }
  }

  test("sharded next-fit is parallelism-invariant and globalizes bins") {
    // the 100 TB claim: shard = doc_id div S is data-defined, so the
    // result must be a pure function of the input — identical under
    // different cluster parallelism (here: shuffle-partition counts)
    def run(): Array[(String, Long, Long, Long, Long, Long)] =
      PipelineOps.packNextFitSharded(spark, sf0001, shardDocs = 50L)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
    val at3 = withConf(spark, "spark.sql.shuffle.partitions" -> "3")(run())
    val at17 = withConf(spark, "spark.sql.shuffle.partitions" -> "17")(run())
    assert(at3.nonEmpty && at3.toSeq == at17.toSeq)

    // globalized bin ids per language are dense 0..max and
    // non-decreasing in doc order (offsets stitched correctly)
    at3.groupBy(_._1).foreach { case (lang, rows) =>
      val ordered = rows.sortBy(_._2)
      val binSeq = ordered.map(_._5)
      assert(binSeq.zip(binSeq.tail).forall { case (a, b) => a <= b },
        s"$lang: bins not monotone in doc order")
      val distinct = binSeq.distinct
      assert(distinct.min == 0L && distinct.max == distinct.length - 1L,
        s"$lang: bin ids not dense")
    }

    // with one shard spanning every doc, sharded == the serial next-fit
    val whole = PipelineOps
      .packNextFitSharded(spark, sf0001, shardDocs = Long.MaxValue)
      .select("lang", "doc_id", "n_tokens", "bin", "fill_after")
    val serial = PipelineOps.packNextFit(spark, sf0001)
      .select("lang", "doc_id", "n_tokens", "bin", "fill_after")
    assert(whole.exceptAll(serial).isEmpty && serial.exceptAll(whole).isEmpty)
  }

  test("sliding chunks tile each doc with the exact stride/overlap algebra") {
    val c = 32L; val s = 24L
    val expected = docTokens.flatMap { case (id, n) =>
      val nChunks = 1L + (math.max(n - c, 0L) + s - 1L) / s
      (0L until nChunks).map { i =>
        val start = i * s
        val end = math.min(start + c, n)
        (id, n, i, start, end, end - start)
      }
    }.toSeq
    val got = PipelineOps.chunkSliding(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    // structural invariants a shared off-by-one could not satisfy:
    // full coverage (last chunk ends at n), every token in >=1 chunk,
    // consecutive chunks overlap by exactly chunk - stride while the
    // doc is long enough, and every doc emits at least one chunk
    got.groupBy(_._1).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._3)
      val n = sorted.head._2
      assert(sorted.last._5 == n, s"doc $id: coverage ends early")
      assert(sorted.head._4 == 0L)
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._4 < a._5, s"doc $id: gap between chunks")
        case _ => ()
      }
      // the fixture exercises multi-chunk docs
    }
    assert(got.groupBy(_._1).values.exists(_.size > 1),
      "fixture has no multi-chunk doc — stride untested")
  }

  test("scd2 intervals tile each user's history without gaps or overlap") {
    val rows = PipelineOps.scd2UserState(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getBoolean(6)))
    val byUser = rows.groupBy(_._1)
    assert(byUser.nonEmpty)
    byUser.foreach { case (u, ivs) =>
      val sorted = ivs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length.toLong),
        s"user $u versions not 1..n")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5 == b._4, s"user $u: valid_to != next valid_from")
          assert(a._3 != b._3, s"user $u: adjacent runs share event_type")
        case _ =>
      }
      assert(sorted.count(_._6) == 1 && sorted.last._6,
        s"user $u: exactly the last interval must be current")
      assert(sorted.last._5 == 253402300799000000L)
    }
    // run-length compression must preserve the event census
    val total = rows.length
    val events = Tables.events(spark, sf0001).count()
    assert(total <= events)
    val nEvents = PipelineOps.scd2UserState(spark, sf0001)
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(nEvents == events)
  }

  test("cdc merge census matches independently computed op counts") {
    val orders = Tables.orders(spark, sf0001)
    val nBase = orders.count()
    val nUpd = orders.filter(col("o_orderkey") % 17 === 0).count()
    val nIns = orders.filter(col("o_orderkey") % 23 === 0).count()
    val out = PipelineOps.cdcMergeUpsert(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("update") == nUpd)
    assert(out("insert") == nIns)
    assert(out("carry") == nBase - nUpd)
    assert(out.values.sum == nBase + nIns)
  }

  test("domain mix census matches a driver md5-Bernoulli recompute") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.groupBy(_._2).map { case (src, rows) =>
      val i = src.stripPrefix("src").toInt
      val thr = f"${(i % 15 + 1) * 4096}%04x"
      val kept = rows.map(_._1).sorted
        .filter(id => md5hex(s"mix42:$id").substring(0, 4) < thr)
      src -> ((rows.length.toLong, kept.length.toLong, kept.headOption))
    }
    val out = PipelineOps.domainMix(spark, sf0001).collect()
    assert(out.length == expected.size)
    out.foreach { r =>
      val src = r.getString(0)
      val (nTotal, nKept, first) = expected(src)
      assert(r.getLong(1) == nTotal, s"$src n_total")
      assert(r.getLong(2) == nKept, s"$src n_kept")
      assert(Option(if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)))
        .map(_.toLong) == first, s"$src first_kept_doc")
      assert(r.getLong(5) == (nKept * 10000L + nTotal / 2) / nTotal,
        s"$src kept_e4")
    }
    // rates actually differ across sources (the mix is a real mix)
    assert(out.map(_.getLong(4)).distinct.length > 1, "targets degenerate")
  }

  test("repeat upsampling matches a driver md5 recompute of copies") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // independent per-doc copy counts: floor(epochs) + md5 fractional
    def copiesOf(id: Long, src: String): Long = {
      val e16 = 16 + (src.stripPrefix("src").toInt * 11) % 64
      val extra =
        if (md5hex(s"rep42:$id").substring(0, 4) < f"${(e16 % 16) * 4096}%04x")
          1L
        else 0L
      e16 / 16 + extra
    }
    val expected = docs.map { case (id, src) => (id, src, copiesOf(id, src)) }
    // the exploded output has exactly copies rows per doc, epoch_ix
    // dense from 0
    val rows = PipelineOps.repeatUpsample(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.size == docs.length)
    expected.foreach { case (id, src, want) =>
      val got = byDoc(id).map(_._3).sorted.toSeq
      assert(got == (0L until want), s"doc $id ($src): $got != 0..${want - 1}")
    }
    // census agrees with the recompute, and epochs actually vary
    val census = PipelineOps.repeatUpsampleCensus(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    expected.groupBy(_._2).foreach { case (src, g) =>
      assert(census(src) == ((g.length.toLong, g.map(_._3).sum)), s"$src census")
    }
    assert(expected.map(_._3).distinct.length > 2, "copy counts degenerate")
  }

  test("train split census matches a driver md5 recompute, 90/5/5") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex4(docId: Long): String =
      md.digest(s"split42:$docId".getBytes("UTF-8"))
        .take(2).map(b => f"$b%02x").mkString
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, lang) =>
      val h = hex4(id)
      val split =
        if (h < f"${58982}%04x") "train"
        else if (h < f"${62259}%04x") "val"
        else "test"
      (lang, split)
    }.groupBy(identity).map { case ((lang, split), rows) =>
      (lang, split) -> rows.length.toLong
    }
    val got = PipelineOps.trainSplit(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == expected.keySet)
    val langTotals = expected.groupBy(_._1._1)
      .map { case (l, m) => l -> m.values.sum }
    expected.foreach { case ((lang, split), n) =>
      val lt = langTotals(lang)
      val want = (n, lt, (n * 10000L + lt / 2) / lt)
      assert(got((lang, split)) == want,
        s"($lang, $split): got ${got((lang, split))}, want $want")
    }
    // realized shares must sit near the 90/5/5 targets overall
    val byS = expected.groupBy(_._1._2).map { case (s, m) => s -> m.values.sum }
    val total = byS.values.sum.toDouble
    assert(byS("train") / total > 0.85 && byS("train") / total < 0.95)
  }

  test("global shuffle is the md5-rank permutation, shards balanced") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ids = Tables.documents(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0))
    val expectedPos = ids.sortBy(id => (md5hex(s"shuf42:$id"), id))
      .zipWithIndex.map { case (id, i) => id -> i.toLong }.toMap
    val out = PipelineOps.globalShuffle(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == ids.length)
    out.foreach { case (id, pos, shard) =>
      assert(pos == expectedPos(id), s"doc $id pos $pos")
      assert(shard == pos % 8, s"doc $id shard")
    }
    // permutation is a bijection and shards are balanced to +-1
    assert(out.map(_._2).sorted.toSeq == (0L until ids.length.toLong))
    val sizes = out.groupBy(_._3).values.map(_.length)
    assert(sizes.max - sizes.min <= 1, s"unbalanced shards: $sizes")
    // parallelism invariance: same result at a different shuffle width
    val alt = withConf(spark, "spark.sql.shuffle.partitions" -> "5") {
      PipelineOps.globalShuffle(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    assert(alt.toSeq == out.toSeq)
  }

  test("e2e curation equals a full driver replay of all four stages") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "on",
      "for", "with")
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
    // stage 1: quality keep (integer basis-point formulas)
    val keep = docs.filter { case (_, _, _, text) =>
      val tk = text.split(" ", -1)
      val n = tk.length.toLong
      val tl = tk.map(_.length.toLong).sum
      val sh = tk.count(stop).toLong
      val stopE4 = (sh * 10000L + n / 2) / n
      val qualE4 = ((100L * math.min(n, 100L) * n + 6000L * sh +
        (if (tl <= 10L * n) 400L * tl else 4000L * n)) * 10000L +
        (20000L * n) / 2) / (20000L * n)
      !(n < 5) && !(stopE4 > 4000) && !(qualE4 < 3000)
    }
    // stage 2: lowest doc_id per canonical token-set fingerprint
    val deduped = keep.groupBy { case (_, _, _, text) =>
      md5hex(text.toLowerCase.split(" ", -1).distinct.sorted.mkString(" "))
    }.values.map(_.minBy(_._1)).toSeq
    // stage 3: hash-Bernoulli mix per source
    val mixed = deduped.filter { case (id, _, src, _) =>
      val i = src.stripPrefix("src").toInt
      md5hex(s"mix42:$id").substring(0, 4) < f"${(i % 15 + 1) * 4096}%04x"
    }
    // stage 4: md5-rank permutation + round-robin shard
    val expected = mixed.sortBy { case (id, _, _, _) =>
      (md5hex(s"shuf42:$id"), id)
    }.zipWithIndex.map { case ((id, lang, src, _), pos) =>
      id -> ((lang, src, pos.toLong, pos.toLong % 8))
    }.toMap
    val out = PipelineOps.e2eCuration(spark, sf0001).collect()
    assert(out.length == expected.size, s"${out.length} != ${expected.size}")
    out.foreach { r =>
      val (lang, src, pos, shard) = expected(r.getLong(0))
      assert(r.getString(1) == lang && r.getString(2) == src)
      assert(r.getLong(3) == pos, s"doc ${r.getLong(0)} pos")
      assert(r.getLong(4) == shard, s"doc ${r.getLong(0)} shard")
    }
    // the pipeline actually filters (each stage has bite at sf0.001)
    assert(expected.size < docs.length, "curation dropped nothing")
  }

  test("pii redaction counts the planted PII and scrubs it") {
    val out = PipelineOps.piiRedact(spark, sf0001).collect()
    out.foreach { r =>
      val planted = r.getLong(0) % 3 == 0
      assert(r.getInt(1) == (if (planted) 1 else 0), s"emails doc ${r.getLong(0)}")
      assert(r.getInt(2) == (if (planted) 1 else 0), s"phones doc ${r.getLong(0)}")
    }
    // the fingerprint column must reflect the scrub: planted docs and
    // their unplanted text hash differently, and scrubbing is
    // idempotent on clean docs
    val clean = Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.filter(_.getLong(0) % 3 != 0).foreach { r =>
      assert(r.getString(3) == clean(r.getLong(0)))
    }
  }
}
