package graft

import graft.operators.Relational

/** Cross-cutting physical-plan invariants over EVERY registered query —
  * the ".explain and iterate" discipline as a regression gate, not a
  * one-off audit. */
class PlanAuditSpec extends SparkSpec {

  /** BroadcastNestedLoopJoin is acceptable only where it is bounded by
    * construction: the declared quadratic baselines (dd02/ss02 — their
    * scale paths dd03/ss04 exist and are asserted elsewhere), the
    * single-row query-vector attach in the ANN queries (a 1-row broadcast
    * at any corpus size), and the centroid-table attach in the k-means
    * assignment (|cells| rows — the coarse quantizer is small by
    * definition or it isn't a coarse quantizer). */
  private val bnljAllowed = Set(
    "dd02_ngram_jaccard", "ss02_neardup",
    // dd19's exact arm IS dd02's quadratic all-pairs (the audit's ground
    // truth has no sub-quadratic shortcut; sample the panel at scale)
    "dd19_lsh_recall_audit",
    // dd20 is that sampled panel: the exact-arm BNLJ is bounded by the
    // (perMille/1000)-sized panel, the LSH arm stays full-corpus banded
    "dd20_lsh_recall_sampled",
    "ss01_cosine_topk", "ss03_lsh_ann", "ss06_ivf_ann", "ss13_mips",
    // ss14's broadcast sides are the ONE-row max-norm aggregate and the
    // ONE-row augmented query vector — bounded at any corpus size
    "ss14_mips_bucketed",
    "ss07_kmeans_assign", "c03_semantic_curation",
    // c05 rides ss07's assignment — same bounded |cells| centroid
    // broadcast
    "c05_diverse_sample",
    // ss08's broadcast side is the QUERY BATCH — bounded by definition of
    // a batch (ivfKnnJoin is the equi-join path for unbounded query sets)
    "ss08_knn_join",
    // t11's broadcast side is the ONE-row quantile-cutoff frame
    "t11_quality_bins",
    // t13/t14/t19/t20's broadcast side is the ONE-row corpus-count /
    // census-totals frame (df / vocabulary / bucket tables join by key,
    // no hint)
    "t13_tfidf", "t14_unigram_logprob", "t19_dsir_weights",
    "t20_bigram_logprob",
    // t28's broadcast sides are the ONE-row unigram/bigram totals; the
    // census attaches are keyed equi-joins
    "t28_collocations",
    // sp15's broadcast side is the ONE-row max-group-size frame (the
    // temperature anchor); rate attaches are keyed broadcast equi-joins
    "sp15_temperature_mix",
    // the PQ/SQ probes attach the ONE-row query-norm frame (and ss11 the
    // query vector itself — 1 row); codebook, LUT, and per-dimension
    // stats attaches are keyed equi-joins, not BNLJ
    "ss10_pq_adc", "ss11_pq_rerank", "ss12_sq_adc",
    // ss18's broadcast side is the ONE-row query-norm frame (ss10's
    // shape); cell means, codebooks, and LUTs attach by keyed equi-joins
    "ss18_residual_pq_adc",
    // ss19's broadcast sides are t17's ONE-row BM25 stats frame and
    // ss01's ONE-row query vector — the fusion join itself is two
    // ≤ 50-row rank frames
    "ss19_rrf_fusion",
    // ss20's broadcast sides are the ONE-row query vector (the ss01
    // candidate cut) and the nCand-row pool (30 rows — the pair-dot
    // self-join is bounded by the operator constant at any corpus size)
    "ss20_mmr_diversify",
    // c06's broadcast side is the BENCHMARK embedding set — bounded by
    // definition of an eval suite (ivfKnnJoin is the escape hatch)
    "c06_embedding_decontaminate",
    // sp08's broadcast sides are the ONE-row corpus count and the
    // weights table (bounded by the source vocabulary)
    "sp08_weighted_mix",
    // t17's broadcast side is the ONE-row BM25 corpus-stats frame
    "t17_bm25",
    // q38's cross product is the hour spine × the type vocabulary — both
    // dimensions by construction (events are touched only in the count
    // aggregate before it)
    "q38_gap_fill",
    // sp13's broadcast side is the ONE-row DLT threshold τ, attached to
    // the k-row sample (both sides bounded by the sample size, never the
    // corpus — the corpus is reduced by TakeOrderedAndProject first)
    "sp13_priority_sample",
    // ss15's broadcast side is the ONE-row query vector (ss06's shape;
    // the filtered postings join is a keyed equi-join, not BNLJ)
    "ss15_filtered_ann",
    // ss16's broadcast side is the ONE-row (full + prefix) query vector —
    // bounded at any corpus size; the cheap pass is a plain scan
    "ss16_truncated_rerank",
    // ss17's broadcast side is the QUERY PANEL (5 rows) — the exact pass
    // is panel×corpus by definition of a recall audit; candidate joins
    // are keyed equi-joins on the bucket id
    "ss17_recall_audit",
    // c11's broadcast side is the ONE-row corpus count for the
    // per-mille share column (the fp census joins by key)
    "c11_dataset_card",
    // c13's broadcast side is the ONE-row snapshot-totals frame attached
    // to the ≤ 256-row per-cell frame — both bounded at any corpus size
    "c13_embedding_drift")

  test("no cartesian products anywhere; no unbounded nested-loop joins") {
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      if (!bnljAllowed(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin outside the allowed set")
    }
  }

  /** The map-only family's whole value is that NOTHING shuffles except the
    * presentation sort — hold that as a plan invariant, not prose. */
  private val mapOnly = Seq("t01_token_count", "t02_quality", "t03_langid",
    "t04_fingerprint", "t05_bpe_tokens", "t07_repetition", "t08_scrub",
    "t16_normalize", "t21_token_entropy", "m01_decode", "m02_frames",
    "m03_resize", "m04_phash", "m05_audio_fingerprint",
    "sp01_split_sample", "sp07_chunk_windows",
    "dd11_winnow", "dd18_self_scrub")

  test("map-only operators shuffle at most once (the presentation sort)") {
    for (name <- mapOnly) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      // count real Exchange operators only — a ReusedExchange re-reads an
      // existing shuffle's output and must not count as a second shuffle
      val exchanges = "(?<!Reused)Exchange".r.findAllIn(plan).size
      assert(exchanges <= 1,
        s"$name plans $exchanges exchanges — a shuffle crept into a map-only operator:\n$plan")
    }
  }

  test("q02: both predicates are pushed to the parquet scan") {
    val plan = Relational.q02PredicateScan(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"no pushdown section:\n$plan")
    assert(!plan.contains("PushedFilters: []"), s"empty pushdown:\n$plan")
    assert(plan.contains("EqualTo(l_returnflag,R)") &&
      plan.contains("GreaterThan(l_quantity,"), s"missing pushed filters:\n$plan")
  }

  test("sketch alternatives track their exact counterparts within bounds") {
    // q22/q24's scaladocs prescribe approx_count_distinct / approx_percentile
    // at 100 TB (mergeable sketches, bounded memory) — hold them to their
    // documented error bounds on the fixture so the recommendation is
    // load-bearing, not folklore
    import org.apache.spark.sql.functions._
    val events = graft.sources.Tables.t(spark, sf, "events")
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("u"),
        expr("percentile(value, 0.5)").as("p50"))
    val approx = events.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("ua"),
        expr("approx_percentile(value, 0.5, 1000)").as("p50a"))
    val joined = exact.join(approx, "event_type").collect()
    assert(joined.nonEmpty)
    for (r <- joined) {
      val (u, ua) = (r.getAs[Long]("u"), r.getAs[Long]("ua"))
      assert(math.abs(ua - u).toDouble / u <= 0.10,
        s"${r.getString(0)}: HLL++ distinct $ua vs exact $u")
      val (p, pa) = (r.getAs[Double]("p50"), r.getAs[Double]("p50a"))
      assert(math.abs(pa - p) <= 1.0,
        s"${r.getString(0)}: approx p50 $pa vs exact $p")
    }
  }

  test("rank-limited windows plan with WindowGroupLimit (partial top-k before the sort)") {
    // t06 partitions its window by LANGUAGE (very few distinct values):
    // without WindowGroupLimit each language's entire corpus would buffer
    // in one task; with it, every input partition pre-prunes to its own
    // top-k so the per-language task sees k x partitions rows
    val plan = graft.operators.TextAnalysis.t06QualityTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no partial top-k pruning:\n$plan")
    // q27's rank()<=5 must prune the same way (rank, not just row_number)
    val q27 = Relational.q27WindowRank(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q27.contains("WindowGroupLimit"), s"no partial top-k pruning:\n$q27")
    // sp02 partitions by SOURCE (a hot crawl domain is the norm, not the
    // exception) and ss08 by query id over the whole corpus scan — both
    // exist to avoid buffering a group per task, so both must prune
    for (name <- Seq("sp02_source_quota", "ss08_knn_join")) {
      val p = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit"), s"$name: no partial top-k pruning:\n$p")
    }
  }

  test("recall audits plan one Window per top-k arm behind a partial WindowGroupLimit") {
    // ss17 and the IVF index audit rank each arm with row_number() <= k
    // over qid alone: every input partition prunes to its own top k before
    // the one qid exchange, so an arm is ONE window (a (qid, shard) window
    // under the qid window would hash-partition twice per arm)
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.{WindowExec,
      WindowGroupLimitExec}
    import graft.operators.Similarity
    val aqe = new AdaptiveSparkPlanHelper {}
    def executedShape(df: DataFrame): (Int, Int) = {
      df.collect()
      val plan = df.queryExecution.executedPlan
      (aqe.collect(plan) { case w: WindowExec => w }.size,
        aqe.collect(plan) { case l: WindowGroupLimitExec => l }.size)
    }
    val (ss17Windows, ss17Limits) =
      executedShape(SparkEntry.queries("ss17_recall_audit")(spark, sf))
    // the exact arm and the approximate arm
    assert(ss17Windows == 2, s"ss17 plans $ss17Windows windows, want 2")
    assert(ss17Limits > 0, "ss17: no partial top-k pruning")
    val index = tmpDir("plan-audit-ivf")
    Similarity.buildIvfIndexOf(
      graft.sources.Tables.t(spark, sf, "embeddings")
        .select("vec_id", "embedding"), index, iters = 1, cells = 4)
    val (ivfWindows, ivfLimits) = executedShape(Similarity.auditIvfIndex(
      spark, index, Seq(0L, 1L, 2L), nprobe = 2, k = 3))
    // the per-query nprobe cell ranking, then the two arms
    assert(ivfWindows == 3, s"the IVF audit plans $ivfWindows windows, want 3")
    assert(ivfLimits > 0, "IVF audit: no partial top-k pruning")
  }

  test("t02's stopword scan is bound once — roundDiv guards must not replicate it") {
    // r14 regression pin: ExactPresent.roundDiv's overflow guards embed
    // their operands in several when/raise_error branches, and codegen
    // does not CSE across conditional branches — if the expensive
    // countIn(ws, stopwords) array scan is ever inlined into roundDiv
    // again (or a future CollapseProject starts folding the binding
    // projection away), the scan re-executes per row and t02/t06/sp02/
    // c05 pay 1.3-1.9x. Count the scan's expression directly.
    val plan = graft.operators.TextAnalysis.t02Quality(spark, sf)
      .queryExecution.optimizedPlan.toString
    val scans = "count_in_set".r.findAllMatchIn(plan).size
    assert(scans == 1,
      s"countIn's array scan appears $scans times in t02's optimized plan " +
        s"(want exactly 1 — the binding projection was collapsed):\n$plan")
    // and the hot projection must carry NO lambda (higher-order functions
    // have no doGenCode — one lambda drops the whole projection out of
    // whole-stage codegen; countIn is native precisely to avoid that)
    assert(!plan.contains("lambdafunction"),
      s"a lambda crept back into t02's plan:\n$plan")
  }

  test("q37 top-20 plans as TakeOrdered; sp11/sp12 windows are all partitioned") {
    // q37's limit(20) must fold into TakeOrderedAndProject — per-partition
    // top-20 then a driver merge of 20-row heaps, never a global sort of
    // every distinct path
    val p37 = Relational.q37SessionPaths(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p37.contains("TakeOrderedAndProject"),
      s"q37 top-20 fell back to a global sort:\n$p37")
    // the sp10-family guarantee as a plan gate: every Window these two
    // plan is PARTITIONED (source / (source, quality)) — the corpus never
    // flows through a single-task window; their tiny offset frames join
    // in via broadcast, not via an unpartitioned window over documents
    import org.apache.spark.sql.execution.window.WindowExec
    for (name <- Seq("sp11_token_budget", "sp12_interleave_mix")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
      val wins = plan.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$name: expected at least one window")
      assert(wins.forall(_.partitionSpec.nonEmpty),
        s"$name plans an unpartitioned window over the corpus")
    }
  }

  test("t29: the only unpartitioned window runs over the aggregated block table") {
    // the two-level prefix-sum guarantee as a plan gate: the corpus-sized
    // window is partitioned by block; the ONE unpartitioned window (the
    // cross-block cumulative) must consume an AGGREGATE (the #blocks-row
    // sum table), never the raw documents scan — that would be the
    // single-task global-cumsum trap this operator exists to avoid
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = SparkEntry.queries("t29_sequence_pack")(spark, sf)
      .queryExecution.sparkPlan
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "t29: expected windows")
    val (unpart, part) = wins.partition(_.partitionSpec.isEmpty)
    assert(part.nonEmpty, "t29: corpus window lost its block partitioning")
    assert(unpart.size == 1,
      s"t29: expected exactly one cross-block window, got ${unpart.size}")
    val belowUnpart = unpart.head.child.collect { case n => n.nodeName }
    assert(belowUnpart.exists(_.contains("HashAggregate")),
      s"t29: cross-block window does not read an aggregate: $belowUnpart")
    assert(!belowUnpart.exists(_.contains("Window")),
      "t29: window stacked below the cross-block window")
  }

  test("sp15: no sort-merge join — rates attach by broadcast") {
    // the |groups|-row rate table must broadcast onto the scan; a
    // sort-merge join here would shuffle the corpus by group (the skew
    // hazard temperature mixing is meant to correct, not create)
    val plan = SparkEntry.queries("sp15_temperature_mix")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"sp15: no broadcast join in plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"sp15: corpus-shuffling sort-merge join:\n$plan")
  }

  test("sp15b: driver-exact ppm table attaches as a broadcast local relation") {
    // the general-α path's rate table is a LITERAL local relation (exact
    // BigInt ppm computed on the driver) — it must broadcast onto the
    // corpus scan, never shuffle it; the acceptance predicate stays a
    // plain filter, so the only exchanges are the two |groups|-row
    // aggregations and the presentation sort
    val plan = SparkEntry.queries("sp15b_temperature_mix_alpha")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"sp15b: rate table does not broadcast:\n$plan")
    assert(plan.contains("LocalTableScan"),
      s"sp15b: rate table is not a driver-computed local relation:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"sp15b: corpus-shuffling join:\n$plan")
  }

  test("q01: column pruning reaches the scan (untouched columns unread)") {
    val plan = Relational.q01Scan(spark, sf)
      .queryExecution.executedPlan.toString
    // q01 projects 4 of lineitem's 11 columns; the scan must not read the
    // widest untouched ones
    assert(!plan.contains("l_extendedprice") && !plan.contains("l_shipdate"),
      s"scan reads pruned columns:\n$plan")
  }

  test("dd07/dd15: no text below any passage-hash shuffle (24 B arbitration)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.{DataType, StringType, ArrayType,
      StructType, MapType}
    def hasString(dt: DataType): Boolean = dt match {
      case StringType => true
      case a: ArrayType => hasString(a.elementType)
      case s: StructType => s.fields.exists(f => hasString(f.dataType))
      case m: MapType => hasString(m.keyType) || hasString(m.valueType)
      case _ => false
    }
    // AQE wraps the tree in AdaptiveSparkPlanExec, which hides the
    // exchanges from collect() until execution — pin it off for the
    // typed traversal (the invariant is about the static plan shape)
    val old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (name <- Seq("dd07_passage_dedup", "dd15_passage_scrub")) {
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan
        val phExchanges = plan.collect {
          case e: ShuffleExchangeExec
            if (e.outputPartitioning match {
              case h: HashPartitioning =>
                h.expressions.exists(_.references.exists(_.name == "ph"))
              case _ => false
            }) => e
        }
        // the arbitration shuffles must EXIST (count/min + join back)...
        assert(phExchanges.nonEmpty, s"$name: no ph-keyed exchange found")
        // ...and none may carry a string column: distinct passages ≈ the
        // corpus, so a text-bearing ph-shuffle moves the whole corpus by
        // hash — the round-8 dd15 wire-bill bug this test pins shut
        for (e <- phExchanges; attr <- e.child.output)
          assert(!hasString(attr.dataType),
            s"$name: ph-shuffle carries string column ${attr.name}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", old)
  }

  test("RAW-ROW lambda emissions stay inside the audited allowlist") {
    // r16 lambda sweep (graft.tools.LambdaAudit; SCALING.md §Round-16):
    // a higher-order function has no doGenCode, so one lambda drops its
    // whole projection out of whole-stage codegen onto the interpreted
    // per-row path — the r14 t02 regression mechanism. The two
    // highest-breadth seams were nativized (QuantizeMilli cleared the
    // ss/c13 family, NgramJoin the plain shingle builders); every
    // SURVIVING raw-row emission below is justified in SCALING.md
    // (fused native hash/struct inside the loop, or bounded per-row
    // token math). A NEW query appearing here — or a nativized one
    // regressing back — fails the suite until it is either nativized or
    // justified in the table.
    val allow = Set(
      "c09_benchmark_scrub", "dd07_passage_dedup", "dd09_duplicate_spans",
      "dd11_winnow", "dd13_cdc_chunks", "dd15_passage_scrub",
      "dd16_neardup_admit", "dd17_containment", "dd18_self_scrub",
      "t18_quality_rules", "t20_bigram_logprob", "t21_token_entropy",
      "t22_readability", "t23_hashed_features", "t28_collocations")
    val hot = graft.tools.LambdaAudit.audit(spark, sf)
      .filter(_.hot > 0).map(_.query).toSet
    val fresh = hot -- allow
    assert(fresh.isEmpty,
      s"new RAW-ROW lambda emissions (nativize or justify in SCALING.md " +
        s"§Round-16 and extend the allowlist): $fresh")
    // the nativized seams must STAY lambda-free on the raw-row path
    for (q <- Seq("ss01_cosine_topk", "ss02_neardup", "ss13_mips",
        "c13_embedding_drift", "t07_repetition", "t09_top_ngrams",
        "c04_decontaminate", "c07_contamination_report"))
      assert(!hot.contains(q), s"$q regressed to a RAW-ROW lambda")
  }
}
