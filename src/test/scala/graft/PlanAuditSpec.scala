package graft

import graft.core.GraftSession

/** Catalog-wide physical-plan audit: every SparkEntry query is planned
  * at sf0.001 and screened for shapes that do not survive scale.
  * Queries evolve; this keeps the plan invariants from regressing
  * silently (a reviewer checks one explain once — this checks all of
  * them every build).
  */
class PlanAuditSpec extends SparkSuite {

  private lazy val physPlans: Map[String, org.apache.spark.sql.execution.SparkPlan] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sf0001).queryExecution.executedPlan
    }

  private lazy val plans: Map[String, String] =
    physPlans.map { case (name, p) => name -> p.toString }

  test("no query plans a CartesianProduct") {
    val offenders = plans.filter(_._2.contains("CartesianProduct")).keys
    assert(offenders.isEmpty,
      s"cartesian product in: ${offenders.mkString(", ")}")
  }

  test("every SinglePartition-fed window is structurally bounded") {
    // A Window over a SinglePartition child funnels the whole input
    // through one task — fatal at scale unless the input is provably
    // bounded BEFORE the window. Until r17 this was a string screen
    // ("Window" + "SinglePartition" + no "WindowGroupLimit") with 17
    // NAMED exemptions, each carrying a prose bounded-input argument;
    // the list grew ~2/round and a future operator could claim an
    // exemption whose bound silently stopped holding (r17 directive
    // #5). This walks the physical tree instead: for EVERY WindowExec
    // whose child's output partitioning is SinglePartition, the
    // window's input subtree must contain one of the bounding shapes
    // every legitimate case claims —
    //  - an Aggregate (the bounded-census shape: the window's input is
    //    a domain-bounded groupBy census — score grids, cents grids,
    //    deciles, per-source rows — never corpus rows; text_ppl_bucket,
    //    stat_ks_test/mannwhitney/gini, ev_rfm, ev_lorenz_curve,
    //    pipe_token_budget, pipe_mix_optimizer, text_vocab_growth,
    //    text_dsir_weight, text_zipf_fit),
    //  - a Limit / TakeOrderedAndProject (the bounded-head shape:
    //    limit-before-window, better than WindowGroupLimit;
    //    hybrid_rrf_topk, text_zipf_fit), or
    //  - a WindowGroupLimit (Catalyst's own rank<=k bound).
    // The 10 one-time exemptions whose SinglePartition was only ever a
    // scalar agg's (ev_ewma_hourly, pipe_curriculum, ev_gapfill,
    // ev_forecast_baseline, dedup_recall_audit, ...) need no seat at
    // all now — the walk inspects the WINDOW's child, not the whole
    // plan string, so a scalar-agg SinglePartition elsewhere never
    // trips it. No name list: a new operator gets the same structural
    // proof obligation automatically.
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        // AQE roots hold their plan out-of-band (children = Nil)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        // subquery plans are not children either — the old string
        // screen saw them via toString, so the walk must descend too
        case other => other.children ++ other.subqueries
      }
      p +: inner.flatMap(flatten)
    }
    // A window input is structurally bounded iff EVERY path from the
    // window's child down to a data-producing leaf crosses a bounding
    // node first — an exists-anywhere test would let a Limit(1000)
    // that is later joined back against a corpus FileScan (or an
    // aggregate on a side branch) vouch for corpus rows flowing into
    // the window unbounded (r18 self-review finding #2). Residual
    // this check cannot decide statically: an Aggregate's output
    // cardinality (a score-grid census vs a groupBy(user_id)) — that
    // domain-bound argument lives in each census operator's own spec;
    // the audit pins the structural half.
    def pathBounded(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: WindowGroupLimitExec => true
      case _: BaseLimitExec => true // Global/LocalLimitExec
      case _: TakeOrderedAndProjectExec => true
      case _: CollectLimitExec => true
      // a broadcast side is bounded by the broadcast threshold
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        true
      case a: AdaptiveSparkPlanExec => pathBounded(a.executedPlan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        pathBounded(r.child)
      case l if l.children.isEmpty && l.subqueries.isEmpty => l match {
        case _: LocalTableScanExec => true // literal rows
        case _: RangeExec => true // literal-bounded
        case _ => false // FileScan / RDDScan / anything corpus-shaped
      }
      case other =>
        (other.children ++ other.subqueries).forall(pathBounded)
    }
    // The one shape the walk cannot see through: a window fed by a
    // localCheckpoint'ed census (the checkpoint breaks the plan, so
    // the producing Aggregate lives in an earlier job). TWO residual
    // names — text_ppl_bucket, whose checkpointed input is the
    // quantized nll_e4-domain census (~1e5 rows at ANY corpus size;
    // TextPplBucketSpec re-derives every decile), and
    // pipe_mix_optimizer, whose water-filling windows run over the
    // checkpointed ≤|sources| census (never corpus rows; its spec
    // pins the allocation against a driver re-derivation) — and the
    // exemption is conditional, not a blanket pass: every LEAF under
    // the window must be a checkpoint scan. If a corpus FileScan is
    // ever joined in under those windows, the exemption stops
    // applying by construction.
    val checkpointCensus = Set("text_ppl_bucket", "pipe_mix_optimizer")
    def allLeavesCheckpoint(subtree: Seq[SparkPlan]): Boolean = {
      val leaves = subtree.filter(_.children.isEmpty)
      leaves.nonEmpty && leaves.forall(_.isInstanceOf[RDDScanExec])
    }
    val offenders = physPlans.toSeq.sortBy(_._1).flatMap { case (name, plan) =>
      flatten(plan).collect {
        case w: WindowExec
            if w.child.outputPartitioning == SinglePartition &&
              !pathBounded(w.child) &&
              !(checkpointCensus(name) &&
                allLeavesCheckpoint(flatten(w.child))) =>
          s"$name:\n${w.treeString.linesIterator.take(12).mkString("\n")}"
      }
    }
    assert(offenders.isEmpty,
      s"unbounded SinglePartition window in:\n${offenders.mkString("\n---\n")}")
  }

  test("item-cooccur degree join is AQE-broadcast with no hint (r13 #6)") {
    // r12 directive 3 removed the forced broadcast hint on the degree
    // table (one row per distinct item — unbounded cardinality at
    // 100 TB); the design claim is that AQE still broadcasts it while
    // it measures small. Machine-verify the claim at sf0.1: (a) no
    // hint node anywhere in the logical/optimized plan, (b) after
    // execution (AQE decisions only exist in the FINAL plan) every
    // join in the query — including both degree joins, whose build
    // side shows as the reused deg BroadcastExchange — is a
    // BroadcastHashJoin, with zero sort-merge/shuffled-hash fallback.
    // The design claim is "AQE broadcasts a measured-small side under
    // the STOCK thresholds" — pin those thresholds for the test's
    // scope (r14 advice: the assertion otherwise depends on ambient
    // session config, so a harmless config experiment elsewhere in
    // the suite would flip it into a hard failure).
    GraftSession.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "10485760",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10485760",
      "spark.sql.adaptive.enabled" -> "true"
    ) {
      val df = graft.graph.GraphOps.graphItemCooccur(spark, sf01)
      assert(!df.queryExecution.logical.toString.contains("UnresolvedHint") &&
        !df.queryExecution.optimizedPlan.toString.contains("ResolvedHint"),
        "a broadcast hint crept back into graph_item_cooccur")
      df.count() // drive AQE to its final plan
      val plan = df.queryExecution.executedPlan.toString
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      assert(bhj >= 2, s"degree joins not AQE-broadcast at sf0.1:\n$plan")
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"),
        s"a join fell back to a shuffle at sf0.1:\n$plan")
    }
  }

  test("kmeans assignment plans a single Exchange (the final sort)") {
    // the argmin is a driver-inlined-literal projection: the ONLY
    // shuffle allowed is the rangepartitioning for the presentation
    // ORDER BY — a second Exchange means the K×corpus crossJoin+window
    // shape crept back in
    val plan = plans("emb_kmeans_assign")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 Exchange, got $exchanges:\n$plan")
  }

  test("single-pass operators plan the pinned number of base-table scans") {
    // round-6 executed-plan audit, frozen as a regression guard: each
    // of these claims a one-pass shape in its docstring. The pin is
    // EXACT, not <=1: operators whose shared stage is localCheckpoint'ed
    // show 0 FileScans in the final plan (their single base scan ran
    // when the checkpoint materialized — building this plans map
    // executes those jobs eagerly), un-checkpointed one-pass plans show
    // exactly 1. A higher count means a branch went back to re-reading
    // the corpus (the 7-scan funnel / 6-scan curation shapes this audit
    // originally caught); a 0 where 1 is pinned means an operator
    // silently stopped reading its base table.
    val pinnedScans = Map(
      "ev_funnel" -> 1, // chained windows over one scan, no checkpoint
      "pipe_domain_mix" -> 1, // pure projection + tiny agg, no checkpoint
      "pipe_e2e_curation" -> 0, // quality+fp and mix stages checkpointed
      "ev_retention" -> 0, // (user, week) distinct checkpointed
      "pipe_pack_nextfit_sharded" -> 0, // local packing checkpointed
      "text_dup_spans" -> 1, // rolling-hash projection over one scan
      "pipe_repeat_upsample" -> 1, // projection + explode + tiny agg
      "ev_anomaly_mad" -> 0, // dense hourly rollup checkpointed
      "emb_label_centroid" -> 1, // posexplode + one (label, dim) agg
      // the LSH+CC label stage is checkpointed (executed once, at
      // construction): the final plans read documents exactly once —
      // the left-join base (cluster_cc) / the quality projection that
      // doubles as the join base (keep_best). 2+ means the cluster
      // stage is being recomputed downstream (the round-8 audit item)
      "dedup_cluster_cc" -> 1,
      "dedup_keep_best" -> 1,
      // round-10 one-pass claims (each docstring says "one hash-agg
      // pass" / "one scan"): a second FileScan means a branch started
      // re-reading the base table
      "q58_corr_stats" -> 1, // co-moment sums in a single agg
      "pipe_length_buckets" -> 1, // projection + 10-group agg
      "ev_gap_stats" -> 1, // lag window + agg over one scan
      "text_ngram_topk" -> 1, // explode + countDistinct + TakeOrdered
      // r11: window over the checkpointed census (text_bigram_lm's own
      // single-scan claim is pinned on the EXECUTED plan below — its
      // static plan shows 3 scans that AQE stage reuse collapses to 1)
      "text_ppl_bucket" -> 0)
    val offenders = pinnedScans.toSeq.sortBy(_._1).flatMap {
      case (name, want) =>
        val scans = "FileScan".r.findAllIn(plans(name)).size
        if (scans != want) Some(s"$name ($scans scans, pinned $want)")
        else None
    }
    assert(offenders.isEmpty,
      s"scan-count drift: ${offenders.mkString(", ")}")
  }

  test("ANN rank windows carry a map-side WindowGroupLimit") {
    // The ANN top-k queries rank via Window.partitionBy("qid") with
    // only 20 distinct qids, so the window Exchange has 20 partitions.
    // That is safe ONLY because Catalyst's InferWindowGroupLimit
    // rewrites the `rank <= k` filter into a partial WindowGroupLimit
    // BEFORE the Exchange (each map task forwards at most k rows per
    // qid) — without it, 20 tasks would each absorb a corpus-sized
    // slice. Nothing in the query text guarantees the rewrite fires
    // (dropping the rank filter, renaming the column, or exceeding
    // spark.sql.window.group.limit.threshold all silently kill it), so
    // pin the executed counts exactly: a Final node per rank window
    // (bounds the reduce side to k rows per qid) and a Partial wherever
    // an Exchange feeds one (bounds what gets shuffled). pq's second
    // window inherits the first's qid partitioning — no Exchange, so
    // Final-only there is the ideal plan, not a gap; ivf has an extra
    // bounded window (the nProbe cell_rank cut).
    val pinned = Map( // name -> (partial, final)
      "ann_brute_topk" -> (1, 1), "ann_lsh_topk" -> (1, 1),
      "ann_lsh_lowcost_topk" -> (1, 1), "emb_decontaminate" -> (1, 1),
      "ann_ivf_topk" -> (2, 2), "ann_pq_topk" -> (1, 2),
      // prefix crank is Partial+Final; the rescore rank window's input
      // is already qid-partitioned so it gets Final-only, NO Exchange —
      // the best shape, not a gap
      "ann_matryoshka_topk" -> (1, 2),
      "ann_ivfpq_topk" -> (2, 3)) // cell_rank + ADC crank + rescore rank
    val offenders = pinned.toSeq.sortBy(_._1).flatMap {
      case (name, (wantP, wantF)) =>
        val p = "WindowGroupLimit.*Partial".r.findAllIn(plans(name)).size
        val f = "WindowGroupLimit.*Final".r.findAllIn(plans(name)).size
        if ((p, f) != ((wantP, wantF)))
          Some(s"$name (partial=$p final=$f, pinned $wantP/$wantF)")
        else None
    }
    assert(offenders.isEmpty,
      s"unbounded rank windows: ${offenders.mkString(", ")}")
  }

  test("every parquet scan prunes columns (no full-width lineitem read)") {
    // lineitem is 16 columns; no catalog query needs more than 8 of
    // them, so a ReadSchema carrying 14+ fields means pruning broke
    val schemaRe = "ReadSchema: struct<([^>]*)>".r
    val offenders = plans.flatMap { case (name, plan) =>
      schemaRe.findAllMatchIn(plan)
        .map(_.group(1).count(_ == ',') + 1)
        .filter(_ >= 14)
        .map(n => s"$name ($n cols)")
    }
    assert(offenders.isEmpty,
      s"unpruned scans: ${offenders.mkString(", ")}")
  }

  test("text_bigram_lm tokenizes the corpus once (AQE stage reuse)") {
    // the LM fit (c2 → c1) and the scoring join both consume the one
    // per-(doc, bigram) exchange; the STATIC plan prints the subtree 3×
    // but the runtime plan must collapse to ONE FileScan via
    // ReusedExchange — 2+ scans means a branch re-tokenizes the corpus
    // (the r10 shape this replaced)
    assertExecutedSingleScan("text_bigram_lm", minReused = 2)
  }

  test("text_dsir_weight tokenizes the corpus once (AQE stage reuse)") {
    // feature-table build and scoring probe share the per-(doc, source,
    // bucket) exchange; nullability of the md5 bucket key silently
    // broke canonical equality once (join-side isnotnull pushdown) —
    // this pin keeps the single-scan plan from regressing
    assertExecutedSingleScan("text_dsir_weight", minReused = 1)
  }

  private def assertExecutedSingleScan(name: String, minReused: Int): Unit = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.executedPlan.executeCollect()
    val plan = {
      val raw = df.queryExecution.executedPlan.toString
      if (raw.contains("== Initial Plan =="))
        raw.substring(0, raw.indexOf("== Initial Plan ==")) else raw
    }
    val scans = "FileScan".r.findAllIn(plan).size
    val reused = "ReusedExchange".r.findAllIn(plan).size
    assert(scans == 1, s"$name: expected 1 FileScan, got $scans:\n$plan")
    assert(reused >= minReused,
      s"$name: expected >=$minReused ReusedExchange, got $reused:\n$plan")
  }
}
