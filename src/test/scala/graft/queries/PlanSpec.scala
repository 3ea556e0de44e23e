package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Plan-shape regression guards: the properties the engine is designed
  * around (broadcasts where a side is small, pushdown reaching the
  * scans, no accidental cartesian blowups) asserted on the physical
  * plans so a refactor can't silently regress them.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("t16: sample scan prunes to doc_id — text never leaves the reader") {
    // the hash threshold is over doc_id only; a scan that drags the
    // text column through a 100 TB corpus for a 20% id-sample is the
    // pruning failure this guards against
    val p = plan("t16_stratified_sample")
    assert(p.contains("ReadSchema") && !p.contains("text"),
      "t16 must not read the text column")
  }

  test("q10 star join: all dimension joins broadcast, none sort-merge") {
    val p = plan("q10_star_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dimensions must broadcast")
  }

  test("q2: filters and column pruning reach the parquet scan") {
    val p = plan("q2_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("ReadSchema: struct<l_quantity:double"))
    assert(!p.contains("l_orderkey"), "untouched columns must be pruned")
  }

  test("q4/q5: semi and anti joins stay semi/anti (no materialized inner)") {
    assert(plan("q4_semi_join").contains("LeftSemi"))
    assert(plan("q5_anti_join").contains("LeftAnti"))
  }

  test("v1: query side broadcasts; corpus side never shuffles") {
    val p = plan("v1_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]"))
  }

  test("v3: ANN probes join on the bucket (hash join, not cartesian)") {
    val p = plan("v3_ann_lsh")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("t7: signatures are map-only — band explodes only, fused sig kernel") {
    // signatures are one native minhash_sig call per document: no
    // shingle explode, no distinct, no groupBy(doc_id). The only
    // row-generating node left is the band explode, which the pre-AQE
    // plan shows once per reference to the banded subtree — four
    // since the bucket-cap size join (each self-join side carries the
    // bands branch + the sizes branch; at runtime exchange reuse
    // collapses them to ONE materialization, asserted by the
    // ReusedExchange test below). More than four means the shingle
    // explode crept back beside the band explode.
    val p = plan("t7_minhash_lsh")
    assert("Generate".r.findAllIn(p).length <= 4,
      "only the band explode may generate rows (once per subtree ref)")
    assert(p.contains("minhash_sig"),
      "signatures must come from the fused native kernel")
  }

  test("v9: learned-cell routing broadcasts; the corpus probe joins by cell, no cartesian") {
    // centroids (≤ k rows) and the routed queries (10 rows) must reach
    // the corpus as broadcasts — the corpus side never shuffles for
    // the probe, the property that holds the v4/v9 shape at 100 TB
    val p = plan("v9_ann_ivf_learned")
    assert(p.contains("BroadcastHashJoin"),
      "the in-cell probe must be a broadcast hash join on the cell id")
    assert(!p.contains("CartesianProduct"),
      "assignment/routing must ride broadcasts, not a cartesian")
  }

  test("t8: fused fingerprints leave the block join as the only exchange") {
    // simhash_fp removed the explode + groupBy(doc_id): fingerprinting
    // is now map-only, so the plan may contain no hash aggregation
    // exchange before the block self-join's
    val p = plan("t8_simhash_pairs")
    assert(p.contains("simhash_fp"))
    assert("(?m)Exchange hashpartitioning".r.findAllIn(p).length <= 3,
      "expected only the block-join + distinct exchanges")
    assert(!p.contains("partial_sum"),
      "the 32 conditional bit sums must not reappear as an aggregate")
  }

  test("q20: percentiles select distributedly — no whole-group sort on a 3-value key") {
    val p = plan("q20_percentiles")
    assert(p.contains("rangepartitioning(l_returnflag"),
      "pass 1 must range-partition on (group, value)")
    assert("windowspecdefinition\\(l_returnflag#\\d+, cell#\\d+".r.findFirstIn(p).isDefined,
      "the data-sized rank window must partition by (group, cell)")
    assert("windowspecdefinition\\(l_returnflag#\\d+, l_extendedprice#\\d+ ASC".r
      .findFirstIn(p).isEmpty,
      "a window partitioned by the 3-value flag alone sorts each whole group on one task")
    assert(!p.toLowerCase.contains("percentile"),
      "percentile() buffers the whole group in one aggregation buffer")
    assert(p.contains("BroadcastHashJoin"), "hot cells / targets / counts broadcast")
  }

  test("jh_summary_per_job: fleet summary runs explode-free (conditional LWW aggregates)") {
    // the round-6 rewrite replaced the all-attrs explode-merge (which
    // multiplied every task record ~10x) with fixed-key conditional
    // max_by aggregates — no Generate node may reappear
    val p = plan("jh_summary_per_job")
    assert(!p.contains("Generate"), "attrs explode crept back into the fleet summary")
  }

  /** The plan string AFTER execution — AQE rewrites the plan at
    * runtime, and `ReusedExchange` only materializes in the final
    * adaptive plan (`isFinalPlan=true`), so the query must be executed
    * before inspection. */
  private def finalPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q26: the range join runs as a bucketed hash equi-join, never a nested loop") {
    // a naive inequality join plans as BroadcastNestedLoopJoin —
    // O(n²) per user at scale; the bucket decomposition must keep the
    // range predicate riding a keyed hash join
    val p = plan("q26_range_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), "expected an equi-join on (user, bucket)")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the range predicate must not degrade the join to a nested loop")
  }

  test("t9: the Lloyd assignment materializes once — consumers reuse its exchange") {
    // the probe-assignment chain is map-only off its broadcasts; the
    // explicit repartition(cluster) exists so cell sizes and both
    // pair-join sides consume ONE materialization (measured 7.8 s vs
    // ~5 s warm at sf0.1 without it). A refactor that de-canonicalizes
    // the branches would re-derive the clustering per consumer.
    val p = finalPlan("t9_embedding_neardup")
    assert(p.contains("ReusedExchange"),
      "cell sizes / pair-join sides must reuse the clustering exchange")
  }

  test("q20: both percentile passes reuse ONE range exchange (correctness, not perf)") {
    // `ranged` (repartitionByRange + spark_partition_id) feeds both the
    // offset table and the pass-2 rank join. RangePartitioner SAMPLES
    // its boundaries per exchange materialization — if the two
    // consumers ever stop sharing one materialization (a refactor
    // de-canonicalizing the branches, exchange reuse disabled), they
    // can see DIFFERENT cell boundaries and the reconstructed global
    // ranks go silently wrong. Unlike the t9 assertion below this one
    // guards correctness, not cost.
    val p = finalPlan("q20_percentiles")
    assert(p.contains("ReusedExchange"),
      "offsets and pass-2 must consume one materialization of the range exchange")
  }

  test("t6/t7/t10: shared subtrees reuse one exchange (no persist needed)") {
    // DedupOps/TextOps removed their persist() calls on the grounds
    // that the expensive shared subtrees (shingle pipeline, signature
    // aggregation, digest dedup) canonicalize to the same exchange and
    // are computed once per execution. This is that claim, asserted:
    // a refactor that de-canonicalizes the branches (e.g. divergent
    // aliases on the two join sides) would recompute the shingle
    // pipeline per branch and this test would fail.
    //
    // t7 is special since the map-only signature rewrite: the band
    // table is small enough at test scale that AQE replaces the band
    // self-join's shuffle with a broadcast — no exchange left to
    // reuse, and the duplicated subtree is map-only (cheap by
    // construction). At corpus scale the same query exceeds the
    // broadcast threshold and falls back to the shuffle join, where
    // reuse fires. Either shape means "no persist needed"; a plan
    // with NEITHER a reused exchange NOR a broadcast would be the
    // recompute-per-branch regression this test exists to catch.
    // t30 rides the same rareShinglesOf exchange-reuse contract as t6;
    // t31's gram relation likewise feeds its df aggregate and join
    // from one gram-keyed materialization
    for (q <- Seq("t6_ngram_jaccard", "t7_minhash_lsh", "t10_clean_corpus",
        "t30_containment", "t31_novelty")) {
      val p = finalPlan(q)
      assert(p.contains("isFinalPlan=true"), s"$q: expected a final adaptive plan")
      assert(p.contains("ReusedExchange") || p.contains("BroadcastHashJoin"),
        s"$q: shared subtree no longer reuses its exchange nor broadcasts")
    }
  }

  test("t18/v5: per-row scrub and quantization stay map-only (no exchange before the sort)") {
    // both ops are single-scan folds; the only exchange permitted in
    // the whole plan is the final presentation orderBy's range
    // partitioning — a groupBy/join sneaking in would shuffle a
    // 100 TB corpus for a per-row statistic
    for (q <- Seq("t18_pii_scrub", "v5_quantize_int8")) {
      val p = plan(q)
      val exchanges = "(?m)Exchange \\w+".r.findAllIn(p).toList
      assert(exchanges.forall(_.contains("rangepartitioning")),
        s"$q: found a non-orderBy exchange: $exchanges")
      assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"))
    }
  }

  test("t19: bucket aggregate is map-side combined (partial before the exchange)") {
    val p = plan("t19_length_buckets")
    // partial_count/partial_sum appear below the exchange: the 100 TB
    // scan reduces to (#buckets x #tasks) rows before any shuffle
    assert("partial_".r.findAllIn(p).nonEmpty, "expected partial aggregation")
    assert(p.contains("ReadSchema: struct<text:string>"),
      "t19 needs only the text column — everything else must be pruned")
  }

  test("q22: as-of join is one window pass — a single hash exchange, no join node") {
    val p = plan("q22_asof_join")
    assert(!p.contains("Join"), "as-of must not be a join at all")
    val hashEx = "(?m)Exchange hashpartitioning".r.findAllIn(p).toList
    assert(hashEx.size == 1,
      s"expected exactly one user_id shuffle, got: $hashEx")
  }

  test("t22: the vocabulary reaches the scoring join as a broadcast") {
    // the corpus token stream must not shuffle to meet its own
    // vocabulary — word-like vocabularies are Zipf-bounded, the corpus
    // at 100 TB is not
    val p = plan("t22_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"),
      "vocab must broadcast into the scoring join")
    assert(!p.contains("SortMergeJoin"), "corpus must not sort-merge")
  }

  test("q23: cube computes all four grouping sets from ONE scan (a single Expand)") {
    val p = plan("q23_cube")
    assert("(?m)Expand".r.findAllIn(p).size == 1,
      "grouping sets must share one Expand, not re-scan")
    assert("(?m)FileScan".r.findAllIn(p).size == 1,
      "cube must read orders exactly once")
  }

  test("m5: perceptual hashing is map-only; the hash key is the only pre-result exchange") {
    // hash computation must not shuffle payloads; grouping shuffles
    // only the (doc_id, ahash) pairs
    val p = plan("m5_phash_dedup")
    val hashEx = "(?m)Exchange hashpartitioning".r.findAllIn(p).toList
    assert(hashEx.nonEmpty && hashEx.size <= 2,
      s"expected the ahash shuffle (plus at most the final join's), got: $hashEx")
    assert(!p.contains("SortMergeJoin") || !p.contains("payload"),
      "payload bytes must not reach a sort-merge join")
  }

  test("t24: the bloom prefilter survives optimization as a map-side filter") {
    // the whole point of t24 is that corpus grams die in a Filter fed
    // by the inlined sketch literal BEFORE any exchange; if a rewrite
    // ever dropped the predicate (result would still be correct — the
    // confirm join is exact) the operator silently degrades to t15's
    // shuffle volume, which is exactly what this guard catches
    val p = plan("t24_bloom_decontaminate")
    // the expression's prettyName is might_contain; the inlined sketch
    // renders as the (large) binary literal beside it
    assert(p.contains("Filter might_contain("),
      "bloom prefilter missing from the physical plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("v10: PQ encoding is one map-only pass — codebooks broadcast, corpus never hash-shuffles") {
    val p = plan("v10_pq_codes")
    // four one-row codebook relations arrive via broadcast; the only
    // non-broadcast exchange is the presentation sort's range
    // partitioning. A hashpartitioning exchange would mean the encode
    // path shuffled the corpus — the regression this pins against.
    assert(!p.contains("Exchange hashpartitioning"),
      "PQ encode must not shuffle the corpus")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("t23: the audit's exact-intersection joins are keyed — no cartesian anywhere") {
    val p = plan("t23_sketch_audit")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("v12: IVF-PQ probes via broadcast cell join — the index side never shuffles to meet queries") {
    val p = plan("v12_ann_ivfpq")
    // the routed-query/LUT side (10 rows) broadcasts onto the
    // cluster-keyed code scan; SortMergeJoin would mean the stored
    // index shuffled per query batch
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("v11: the ADC scan reads codes against a broadcast LUT — corpus side never sort-merges") {
    val p = plan("v11_pq_adc")
    // the 10-row query/LUT side must broadcast against the code scan;
    // a SortMergeJoin would mean the corpus shuffled to meet the
    // queries — the opposite of the ADC serving shape
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q27: grouping sets plan exactly the requested sets through one Expand") {
    val p = plan("q27_grouping_sets")
    // one scan, one Expand — not one aggregation subtree per set
    assert(p.contains("Expand"))
    assert(p.sliding("FileScan parquet".length)
      .count(_ == "FileScan parquet") === 1,
      "grouping sets must share a single scan")
  }

  test("t25: passage dedup is explode + ONE keyed aggregation — no join anywhere") {
    val p = plan("t25_passage_dedup")
    // a join-based formulation would grow O(df²) on boilerplate
    // passages; the aggregation formulation must survive refactors
    assert(!p.contains("Join"), "t25 must not join")
    assert(p.contains("Generate explode"))
  }

  test("t26: the shard manifest is ONE aggregation — no window, no join, no sort pass") {
    // the global-shuffle manifest must stay map-side combinable: a
    // per-shard window/rank formulation would pull whole 6 TB shards
    // through single tasks at 100 TB
    val p = plan("t26_shard_shuffle")
    assert(!p.contains("Window"), "t26 must not window")
    assert(!p.contains("Join"), "t26 must not join")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
  }

  test("q29: the salted join stays a SHUFFLED join — broadcast would defeat the salt") {
    // the whole point of salting is spreading one hot key across R
    // reducers of a shuffled join; if the dim auto-broadcasts the
    // salt is dead weight (and at 100 TB the dim that needs salting
    // is too big to broadcast after R× replication)
    val p = plan("q29_salted_join")
    assert(p.contains("ShuffledHashJoin"),
      "q29 must plan a shuffled hash join on (key, salt)")
    assert(!p.contains("BroadcastHashJoin"), "the dim must not broadcast")
    assert(p.contains("Generate explode"), "the dim must replicate R ways")
  }

  test("q31: the source filter prunes partitions at planning time") {
    // the filter must land in PartitionFilters (directory skip), not
    // merely PushedFilters (row-group skip after listing every file):
    // source is a partition column of the staged layout
    val p = plan("q31_partition_prune")
    assert(p.contains("PartitionFilters: [isnotnull(source"),
      s"expected a planning-time partition filter on source:\n$p")
    assert(p.contains("(source"), "the source predicate must prune")
  }

  test("q32: the bucketed join runs with NO shuffle exchange on either side") {
    // both sides are bucketed 8 ways on the join key, so the SMJ's
    // distribution requirement is satisfied by layout — an Exchange
    // BELOW the join means the bucket metadata was lost. (The tiny
    // post-join aggregation exchange is expected; scope the assert to
    // the join's subtree, which tree-printing places last in the
    // final-plan section.)
    val p = finalPlan("q32_bucketed_join")
    val finStart = p.indexOf("== Final Plan ==")
    val finEnd = p.indexOf("== Initial Plan ==")
    val fin = p.substring(math.max(finStart, 0),
      if (finEnd >= 0) finEnd else p.length)
    val smj = fin.indexOf("SortMergeJoin")
    assert(smj >= 0, s"q32 must plan a sort-merge join:\n$p")
    val joinSub = fin.substring(smj)
    assert(!joinSub.contains("Exchange"),
      s"bucketed join must not shuffle its inputs:\n$joinSub")
    assert(joinSub.contains("Bucketed: true"),
      "both scans must read the bucketed layout")
  }

  test("q37/q38/q39/m11/v21: lifecycle serves are artifact-only — the corpus never rejoins the plan") {
    // compaction and retraction change the artifact's READ side; the
    // published result must still come from the artifact alone (the
    // build/append/compact/retract side effects are maintenance-time,
    // not part of the served plan)
    for ((q, art, corpus) <- Seq(
        ("q37_partials_compact", "q37agg_rw", "events.parquet"),
        ("q39_agg_retract", "q39agg_rw", "events.parquet"),
        ("m11_media_tombstone_reelect", "media_members_m11",
          "documents.parquet"),
        ("v21_vector_forget", "vec_members_v21", "embeddings.parquet"),
        ("m14_media_takedown_external", "media_members_m14",
          "documents.parquet"),
        ("v24_vector_takedown_external", "vec_members_v24",
          "embeddings.parquet"))) {
      val p = plan(q)
      assert(p.contains(art), s"$q must read its persisted artifact:\n$p")
      assert(!p.contains(corpus), s"$q must never re-scan the corpus:\n$p")
    }
    // q38's GATE joins the exact full-table audit comparator (the t32
    // pattern), so the corpus-free pin applies to its maintenance
    // subplan alone
    val m = PartialsShelf.serve(spark, dir, PartialsShelf.q38)
      .queryExecution.executedPlan.toString
    assert(m.contains("q38hll_rw") && !m.contains("events.parquet"),
      s"q38's maintenance path must be artifact-only:\n$m")
  }

  test("t38/t39/t40/q41: policy serves are artifact-only; q40's maintenance path too") {
    // the round-17 policy verbs (age-off, external takedown,
    // auto-compact, sum age-off) are maintenance-time side effects —
    // their SERVED plans must read only the persisted artifacts
    for ((q, art, corpus) <- Seq(
        ("t38_index_ageoff", "band_members_t38", "documents.parquet"),
        ("t39_takedown_external", "band_members_t39", "documents.parquet"),
        ("t40_auto_compact", "band_index_t40", "documents.parquet"),
        ("m12_media_ageoff", "media_members_m12", "documents.parquet"),
        ("v22_vector_ageoff", "vec_members_v22", "embeddings.parquet"),
        ("t41_time_ageoff", "band_members_t41", "documents.parquet"),
        ("m13_media_time_ageoff", "media_members_m13", "documents.parquet"),
        ("v23_vector_time_ageoff", "vec_members_v23", "embeddings.parquet"),
        ("q41_agg_ageoff", "q41agg_rw", "events.parquet"),
        ("q44_agg_takedown", "q44agg_rw", "events.parquet"),
        ("t42_cc_incremental", "cc_index_t42", "documents.parquet"),
        ("t43_cc_forget", "cc_index_t43", "documents.parquet"),
        ("t44_cc_compact", "cc_index_t44", "documents.parquet"))) {
      val p = plan(q)
      assert(p.contains(art), s"$q must read its persisted artifact:\n$p")
      assert(!p.contains(corpus), s"$q must never re-scan the corpus:\n$p")
    }
    // q40's GATE carries the exact audit comparator (q34's pattern);
    // the corpus-free pin applies to the replacement-preferring
    // maintenance read alone — which must prefer via the persisted
    // key list, never by re-deriving the window from the corpus
    val m = PartialsShelf.serve(spark, dir, PartialsShelf.q40)
      .queryExecution.executedPlan.toString
    assert(m.contains("q40hll_rw") && m.contains("resketch_keys") &&
      !m.contains("events.parquet"),
      s"q40's maintenance path must be artifact-only:\n$m")
    // q42's maintenance read (post-resketch append composed in) obeys
    // the same rule on its own artifact copy
    val m2 = PartialsShelf.serve(spark, dir, PartialsShelf.q42)
      .queryExecution.executedPlan.toString
    assert(m2.contains("q42hll_rw") && m2.contains("resketch_keys") &&
      !m2.contains("events.parquet"),
      s"q42's maintenance path must be artifact-only:\n$m2")
    // the cluster shelf's replacement read: t43's serve must prefer
    // via the persisted relabel_nodes list; after t44's compaction the
    // anti-join disappears with it
    val f = plan("t43_cc_forget")
    assert(f.contains("relabel_nodes"),
      s"t43's serve must prefer the replacement via the key list:\n$f")
    val c = plan("t44_cc_compact")
    assert(!c.contains("relabel_nodes"),
      s"t44 must retire the key list and its anti-join:\n$c")
  }

  test("q33: the incremental query scans ONLY the delta — cut pushed down, no bounds re-scan") {
    // the cut point is maintenance state read from the history
    // artifact, so the events scan must carry the pushed ts > cut
    // filter and the plan must NOT contain a second full-table min/max
    // aggregate deriving the cut (a full-column scan at 100 TB)
    val p = plan("q33_incremental_agg")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"),
      s"the delta cut must push to the events scan:\n$p")
    assert(!p.contains("min(ts)") && !p.contains("max(ts)"),
      s"the cut must come from the artifact, not a bounds re-scan:\n$p")
    // the SQL-TEXT twin must plan the IDENTICAL pushed delta scan —
    // a text surface that lost the pushdown would full-scan at 100 TB
    val pSql = plan("q33_incremental_agg_sql")
    assert(pSql.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"),
      s"the SQL twin must push the same delta cut:\n$pSql")
    assert(!pSql.contains("min(ts)") && !pSql.contains("max(ts)"),
      s"the SQL twin must read the cut from the artifact:\n$pSql")
  }

  test("q34: the sketch refresh scans ONLY the delta — cut pushed, partials read back") {
    // the maintenance path must be the pushed delta scan + the
    // persisted partials; no bounds re-scan. (The full-table scan in
    // the plan is the EXACT audit comparator the gate hashes — the
    // t32 pattern — not the maintenance path; the merged-estimates
    // subplan alone is pinned below.)
    val p = plan("q34_incremental_distinct")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"),
      s"the delta cut must push to the events scan:\n$p")
    assert(!p.contains("min(ts)") && !p.contains("max(ts)"),
      s"the cut must come from the artifact, not a bounds re-scan:\n$p")
    val m = PartialsShelf.serve(spark, dir, PartialsShelf.q34)
      .queryExecution.executedPlan.toString
    assert(m.contains("q34_hll_"),
      "the history side must be the persisted partials")
    assert("events\\.parquet".r.findAllIn(m).size <= 1,
      s"maintenance must scan events once (the delta):\n$m")
  }

  test("t33: the label-index serve reads ONLY the artifact — no corpus rescan, no propagation") {
    // serving the cluster table must not re-derive anything from the
    // documents table (the MinHash pipeline + the propagation loop are
    // build-time): the plan is the labels scan + the size join only
    DedupOps.buildCcIndex(spark, dir)
    val p = plan("t33_cc_index_load")
    assert(!p.contains("documents.parquet"),
      s"t33 serve must not scan the corpus:\n$p")
    assert(p.contains("cc_index_"), "t33 serve must scan the label artifact")
  }

  test("t34: the incremental probe scans ONLY the delta — cut pushed, bucket relation probed") {
    // the artifact's _CUT watermark must reach the documents scan as a
    // pushed doc_id filter (the base tranche is never re-read), and
    // the base side must come from the pre-aggregated bucket artifact
    BucketShelf.build(spark, dir, BucketShelf.t34)
    val p = plan("t34_incremental_dedup")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,"),
      s"the delta cut must push to the documents scan:\n$p")
    assert(p.contains("band_index_"),
      "the base side must be the persisted bucket relation")
    // exactly one documents scan (the delta) — a second one would be
    // the base re-derivation this operator exists to avoid
    assert("documents\\.parquet".r.findAllIn(p).size <= 1,
      s"t34 must scan the corpus once (delta only):\n$p")
  }

  test("v20: tranche filters push to both embedding scans; pair join stays keyed") {
    // base and delta are disjoint pushed-filter scans (≤ cut / > cut);
    // the pair join is the (cluster, sub) equi-join — a cartesian
    // would mean the cell blocking fell out of the plan
    val p = plan("v20_knn_delta_append")
    assert(p.contains("LessThanOrEqual(vec_id,"),
      s"the base scan must carry the pushed ≤ cut filter:\n$p")
    assert(p.contains("GreaterThan(vec_id,"),
      s"the delta scan must carry the pushed > cut filter:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("v18: int8 codes score map-only off broadcasts; no corpus sort-merge or cartesian") {
    // stage 1 is the broadcast-queries × corpus-codes integer dot
    // (pure longs — no float in the cut's ordering); the two-level
    // cut fans each query across sub-bucket reducers; stage 2 fetches
    // ≤ 10 × Int8Keep survivors by broadcast joins
    val p = plan("v18_int8_rerank")
    assert(p.contains("BroadcastNestedLoopJoin"), "stage-1 pairing must broadcast")
    assert(p.contains("pmod"), "the local cut must fan out by sub-bucket")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("v15: both directions of the kNN edge union reuse ONE pair materialization") {
    // the directed union reads the deduped pair aggregate twice (once
    // per direction); the pair join + its map side must materialize
    // once and both branches consume the reused exchange — a refactor
    // that de-canonicalizes the branches re-runs the whole cell-pair
    // join (the expensive subtree) per direction
    val p = finalPlan("v15_knn_graph_scaled")
    assert(p.contains("ReusedExchange"),
      "the two union directions must share one pair-aggregate exchange")
    assert(!p.contains("CartesianProduct"), "pairs must stay cell-keyed")
  }

  test("v13: two-level stage-1 cut over thin triples; survivors fetch via broadcast") {
    // stage-1 scoring is map-only (queries broadcast against the
    // corpus scan); the cut must shuffle only (q_id, c_id, pcos)
    // triples AND fan each query across 64 sub-bucket reducers — a
    // single per-query window would sort a whole query's corpus-sized
    // stream in one task at 100 TB. Stage 2 re-joins the ≤50
    // surviving ids by broadcast, never a corpus shuffle.
    val p = plan("v13_prefix_rerank")
    assert(p.contains("BroadcastNestedLoopJoin"), "stage-1 pairing must broadcast")
    assert(p.contains("pmod"), "the local cut must fan out by (q_id, c_id mod 64)")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }
}
