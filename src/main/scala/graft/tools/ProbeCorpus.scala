package graft.tools

import org.apache.spark.sql.SparkSession

/** Deterministic ×N synthetic corpus for the superlinearity probe
  * [[ScaleProbe]] (×10 = sf1-equivalent over sf0.1, ×100 =
  * sf10-equivalent):
  *
  *  - documents: per-copy md5-keyed token shuffle — every token-level
  *    statistic (quality, stopwords, langid, token counts) is
  *    preserved exactly while shingle sets decorrelate across copies,
  *    so the dedup family sees N× natural data, not a pathological
  *    N-clone cluster per doc;
  *  - embeddings: per-copy component rotation, with a SIGN FLIP on
  *    every second rotation cycle (rotation index cycles mod dim−1;
  *    without the flip, copies c and c+dim−1 were bit-identical
  *    vectors, which blew LSH buckets quadratically at ×100 — caught
  *    by the r11 probe itself). 2·(dim−1) distinct transforms; near
  *    -zero |cross-copy cosine| within each cycle on this fixture;
  *  - events: id-shifted copies, timestamps unchanged (N× hourly
  *    volume over the same span);
  *  - TPC-H side (r11, `includeTpch = true`): key-CONSISTENT salted
  *    copies — every foreign key shifts by the same per-copy offset
  *    as its referenced primary key (o_custkey with c_custkey,
  *    l_orderkey/l_partkey/l_suppkey with their parents), so join
  *    selectivity, group cardinalities per key, and value
  *    distributions are preserved at N× volume; region/nation (fixed
  *    dimension vocabularies) are copied verbatim, so per-nation
  *    group COUNTS scale N× like a real N×-bigger business would.
  */
object ProbeCorpus {

  /** One-line JSON manifest identifying a generated corpus — written
    * next to the tables on success and compared verbatim before a
    * keepDir is reused (r15 advice: a crashed mid-generation run or a
    * corpus built for different args must be regenerated, not silently
    * relabeled).
    */
  def manifestLine(sfDir: String, copies: Int,
      heaps: Boolean = false): String =
    s"""{"sfDir":"$sfDir","copies":$copies,"heaps":$heaps,""" +
      """"tables":["documents","embeddings","events","region","nation",""" +
      """"customer","supplier","part","orders","lineitem"]}"""

  /** Token-vocabulary growth factor of the Heaps-law corpus: variants
    * per base token ≈ √copies, so total vocabulary grows as N^0.5 —
    * the exponent the fixture's own `text_vocab_growth` curve measures
    * (Heaps' law β ≈ 0.5 on real corpora).
    */
  def heapsVocabFactor(copies: Int): Int =
    math.max(1, math.ceil(math.sqrt(copies.toDouble)).toInt)

  /** Generate the ×N corpus. `heaps = true` switches documents and
    * embeddings to the KEY-SPACE-GROWING variant for the four
    * bucket-quadratic audit ops (dedup_ngram_jaccard /
    * dedup_recall_audit / embedding_neardup / emb_knn_graph), whose
    * candidate stage is Σ(bucket occupancy²) by construction:
    *
    *  - documents: each copy's tokens are salted with a deterministic
    *    variant id in [0, √N) — hash(token, copy) mod √N — so token
    *    vocabulary grows ∝ N^0.5 (Heaps' law, matching the fixture's
    *    own `text_vocab_growth` exponent) while per-copy token counts,
    *    lengths-in-tokens and doc structure are preserved. k-shingle
    *    variant space then grows as min(N, √N^k) ≥ N for k ≥ 2, so
    *    prefix-filter posting lists keep the BASE fixture's occupancy
    *    instead of growing ×N (which made candidates ×N² and pushed
    *    the ×100 point past the host's spill budget — the r15
    *    documented boundary).
    *  - embeddings: the usual per-copy rotation/sign-flip PLUS label
    *    salting (label + copy·nLabels): the label IS the blocking key
    *    of the two pair-tiling ops, so block count grows ×N and
    *    per-block occupancy stays at the fixture's own level — the
    *    regime a bounded-block audit op is designed for. Cross-copy
    *    cosines stay near zero exactly as in the default corpus.
    *
    * The default (heaps = false) corpus is unchanged — fixed vocab and
    * label space, the adversarial worst case every other query is
    * probed against.
    */
  def generate(spark: SparkSession, sfDir: String, dir: String,
      copies: Int, includeTpch: Boolean = false,
      heaps: Boolean = false): Unit = {
    if (includeTpch) generateTpch(spark, sfDir, dir, copies)
    val vocabF = heapsVocabFactor(copies)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDoc = docs.selectExpr("max(doc_id)").head().getLong(0) + 1
    (0 until copies).map { c =>
      if (c == 0) docs
      else if (heaps)
        // n_chars is RECOMPUTED: the variant suffix lengthens every
        // token, and metadata that contradicts the text would skew
        // any n_chars-consuming query probed on this corpus (review
        // finding, r16); the default variant permutes tokens and
        // keeps length exact, so it passes n_chars through
        docs.selectExpr(s"doc_id + ${c * nDoc} as doc_id",
          "concat_ws(' ', transform(split(text, ' '), " +
            s"t -> concat(t, '_', pmod(crc32(cast(concat(t, '#', $c) " +
            s"as binary)), $vocabF)))) as text",
          "lang", "source")
          .selectExpr("doc_id", "text", "lang", "source",
            "cast(length(text) as bigint) as n_chars")
      else docs.selectExpr(s"doc_id + ${c * nDoc} as doc_id",
        "concat_ws(' ', transform(array_sort(transform(split(text, ' '), " +
          s"(t, i) -> struct(md5(concat(t, '#', i, '#', $c)) as k, t as v))), " +
          "s -> s.v)) as text",
        "lang", "source", "n_chars")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nVec = emb.selectExpr("max(vec_id)").head().getLong(0) + 1
    val dim = emb.selectExpr("size(embedding)").head().getInt(0)
    val nLab = emb.selectExpr("max(label)").head().getInt(0) + 1
    (0 until copies).map { c =>
      if (c == 0) emb
      else {
        val r = 1 + (c - 1) % (dim - 1)
        val sign = if (((c - 1) / (dim - 1)) % 2 == 1) "-" else ""
        val labelExpr = if (heaps) s"label + ${c * nLab} as label"
          else "label"
        emb.selectExpr(s"vec_id + ${c * nVec} as vec_id",
          s"transform(concat(slice(embedding, ${r + 1}, ${dim - r}), " +
            s"slice(embedding, 1, $r)), x -> ${sign}x) as embedding",
          labelExpr)
      }
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val nEv = ev.selectExpr("max(event_id)").head().getLong(0) + 1
    val nUs = ev.selectExpr("max(user_id)").head().getLong(0) + 1
    (0 until copies).map { c =>
      if (c == 0) ev
      else ev.selectExpr(s"event_id + ${c * nEv} as event_id", "ts",
        s"user_id + ${c * nUs} as user_id", "event_type", "value",
        "props")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** Key-consistent ×N TPC-H side (see object doc). Offsets for every
    * key family come from max(key)+1 so copies never collide.
    */
  private def generateTpch(spark: SparkSession, sfDir: String,
      dir: String, copies: Int): Unit = {
    def maxOf(table: String, key: String): Long =
      spark.read.parquet(s"$sfDir/$table.parquet")
        .selectExpr(s"max($key)").head().getAs[Number](0).longValue() + 1
    val nCust = maxOf("customer", "c_custkey")
    val nOrd = maxOf("orders", "o_orderkey")
    val nPart = maxOf("part", "p_partkey")
    val nSupp = maxOf("supplier", "s_suppkey")

    def salted(table: String, shifted: Map[String, Long]): Unit = {
      val base = spark.read.parquet(s"$sfDir/$table.parquet")
      val cols = base.columns
      (0 until copies).map { c =>
        if (c == 0) base
        else base.selectExpr(cols.map { col =>
          shifted.get(col) match {
            case Some(n) => s"$col + ${c * n} as $col"
            case None => col
          }
        }.toIndexedSeq: _*)
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    }
    // fixed dimension vocabularies: verbatim
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    salted("customer", Map("c_custkey" -> nCust))
    salted("supplier", Map("s_suppkey" -> nSupp))
    salted("part", Map("p_partkey" -> nPart))
    salted("orders", Map("o_orderkey" -> nOrd, "o_custkey" -> nCust))
    salted("lineitem", Map("l_orderkey" -> nOrd, "l_partkey" -> nPart,
      "l_suppkey" -> nSupp))
  }
}
