package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the scale properties claimed in
  * SURVEY §6/§7 are asserted on the physical plans, so a future
  * change that silently loses a pushdown or broadcast fails CI.
  */
class PlanAuditSpec extends AnyFunSuite {
  import SparkTestBase._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString()

  private def shuffles(p: String): Int =
    p.linesIterator.count(_.contains("Exchange hashpartitioning"))

  test("b1: shipdate predicate reaches the parquet scan") {
    val p = plan("b1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("b1: scan is pruned to the referenced columns") {
    val p = plan("b1_agg")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"))
  }

  test("b2: all three dims broadcast, one grouping shuffle") {
    val p = plan("b2_join_broadcast")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 3)
    assert(shuffles(p) == 1)
  }

  test("a4: metadata dim broadcast, single shuffle") {
    val p = plan("a4_enrich_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(shuffles(p) == 1)
  }

  test("c1: tumbling window aggregates with a single shuffle") {
    assert(shuffles(plan("c1_tumbling_window")) == 1)
  }

  test("b7: global top-n plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("b7_topn_global")
    assert(p.contains("TakeOrderedAndProject"))
    assert(shuffles(p) == 0)
  }

  test("b6: bounded top-k is a partial-final aggregate, not a window sort") {
    val p = plan("b6_topk_group")
    assert(!p.contains("Window"))
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"))
  }

  test("a2: integrity predicate pushes to the scan as data filters") {
    val p = plan("a2_integrity_filter")
    assert(p.contains("PushedFilters: [IsNotNull(value)"))
  }

  test("d9: query set broadcast against the corpus scan") {
    assert(plan("d9_cosine_topk").contains("BroadcastNestedLoopJoin") ||
      plan("d9_cosine_topk").contains("BroadcastExchange"))
  }

  test("d19: centroids and probe set broadcast; no corpus self-shuffle join") {
    val p = plan("d19_ivf_ann")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"),
      "IVF search must not sort-merge-join the corpus")
  }

  test("d20: rates dim broadcasts and the scan skips the text-free columns") {
    val p = plan("d20_stratified_sample")
    assert(p.contains("BroadcastHashJoin"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"))
  }

  test("b16: sketches aggregate with partial + final over one shuffle") {
    val p = plan("b16_sketch_contract")
    assert(shuffles(p) <= 2) // grouping + the exact count-distinct expand
  }

  test("c18: range join is a hash equi-join, never a nested loop") {
    val p = plan("c18_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("c16: chunked EWMA is two bounded grouping shuffles, no window sort") {
    val p = plan("c16_ewma")
    // level 1 groups by (key, chunk), level 2 by key — never a
    // whole-key series in one aggregation group, never a Window sort
    assert(shuffles(p) == 2)
    assert(!p.contains("Window"))
    assert(p.linesIterator.exists(l =>
      l.contains("ObjectHashAggregate") && l.contains("__chunk")))
  }

  test("c20: interval overlap join is a hash equi-join, never a nested loop") {
    val p = plan("c20_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("d25: chunk expansion is scan + generate with zero shuffles") {
    val p = plan("d25_doc_chunk")
    assert(p.contains("Generate"))
    // the only exchange allowed is QueryUtil.spread's round-robin
    assert(shuffles(p) == 0)
  }

  test("d26: no corpus-wide single-partition window; block offsets broadcast") {
    val p = plan("d26_pack_sequences")
    // every Window over the corpus must partition by the block key;
    // the only global-order window is over per-block totals, which
    // arrive via the broadcast side
    assert(p.contains("BroadcastHashJoin"))
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.exists(_.contains("blk#")))
  }

  test("d29: top-k vocabulary is TakeOrdered and broadcasts; no global sort") {
    val p = plan("d29_lm_quality")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("d29: term joins consume the tf pre-aggregation, not raw tokens") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan}
    val lp = SparkEntry.queries("d29_lm_quality")(spark, sf)
      .queryExecution.optimizedPlan
    // a join input is "raw tokens" if the explode Generate is
    // reachable without passing through an Aggregate — the skewed
    // O(total tokens) shuffle shape d29 must never regress to
    def rawTokens(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false
      case _: Generate  => true
      case other        => other.children.exists(rawTokens)
    }
    val joins = lp.collect { case j: Join => j }
    assert(joins.nonEmpty)
    assert(joins.forall(j => !rawTokens(j.left) && !rawTokens(j.right)))
  }

  test("b19: cube is one Expand over a single grouping shuffle") {
    val p = plan("b19_cube")
    assert(p.contains("Expand"))
    assert(shuffles(p) == 1)
  }

  test("b23: grouping sets are one Expand over a single grouping shuffle") {
    val p = plan("b23_grouping_sets")
    assert(p.linesIterator.count(_.contains("Expand")) == 1)
    assert(shuffles(p) == 1)
  }

  test("d34: coverage pass is a broadcast semi-join, never a corpus re-shuffle") {
    val p = plan("d34_boilerplate_ngrams")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
      "frequent-gram set must broadcast into a semi-join")
    assert(!p.contains("SortMergeJoin"))
    // df aggregation is combiner-friendly: partial before the shuffle
    assert(p.contains("partial_count"))
  }

  test("d35: normalization dedup is a single hash shuffle, no candidate stage") {
    val p = plan("d35_norm_dedup")
    assert(shuffles(p) == 1, "one window shuffle on norm_hash, nothing else")
    assert(!p.contains("Join"), "no candidate generation exists in this plan")
  }

  test("d36: n_chars metadata predicate reaches the parquet scan") {
    val p = plan("d36_media_thumb")
    assert(p.contains("GreaterThanOrEqual(n_chars,4)"),
      "row-group pruning on typed metadata must precede any payload read")
  }

  test("d11: corpus hashed once per table; probe fan-out and q_vec broadcast separately") {
    // Since r14 the catalog entry is a recall AUDIT: it eagerly runs
    // the ANN operator, gates on recall, and RETURNS the exact-
    // reference rollup — so the plan to audit is the production
    // operator's own (annOrIvfTopK, the same call the entry makes),
    // not the returned audit frame.
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = graft.similarity.Similarity.annOrIvfTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 3)
      .queryExecution.executedPlan.toString()
    // hyperplaneBuckets evaluates at exactly two sites in the whole
    // plan: once on the corpus side (the posexplode Generate over
    // the tables array), once on the broadcast query side (a Project
    // whose probe masks are XOR arithmetic on that one evaluation,
    // not re-hashes). Filter/FileScan lines may echo the expression
    // as posexplode's pushed size()>0 predicate — those are not
    // evaluation sites of the per-row hash.
    assert(p.linesIterator.count(l =>
      l.contains("Generate") && l.contains("hyperplanebuckets(")) == 1,
      "corpus must be hashed in exactly one Generate")
    assert(p.linesIterator.count(l =>
      l.contains("Project") && l.contains("hyperplanebuckets(")) == 1,
      "query side must hash once, masks applied as arithmetic")
    // the probe rows broadcast carries (tbl, bkt) keys — and the
    // query vector arrives by its own q_id-keyed broadcast join, so
    // the mask fan-out never duplicates vector payloads
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin [tbl") && l.contains("bkt")))
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin [q_id")))
    // dedup happens after scoring: the (q_id, n_id) aggregate moves
    // cos doubles, not 64-double vectors
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(q_id") && l.contains("n_id") &&
        !l.contains("vec")))
  }

  test("d38: BPE token accounting is zero-shuffle scan arithmetic") {
    assert(shuffles(plan("d38_bpe_tokens")) == 0)
  }

  test("d41: hashed-linear scoring is zero-shuffle scan arithmetic") {
    assert(shuffles(plan("d41_hash_quality")) == 0)
  }

  test("d39: span ownership is a partial-aggregated min, not a window") {
    val p = plan("d39_span_dedup")
    // the first-owner step must partial-aggregate map-side (a
    // billion-repeat boilerplate span collapses per task before the
    // shuffle); a row_number window over span_key would hot-key
    assert(!p.contains("Window"),
      "span ownership must not be a window over span_key")
    assert(p.linesIterator.exists(l =>
      l.contains("partial_min") && l.contains("span_key")),
      "first-owner min must have a partial (map-side) phase")
  }

  test("d40: mixture report scans the corpus once; rates broadcast") {
    val p = plan("d40_source_mix")
    // the bounded bucket frame is collected eagerly (≤1000×#strata
    // rows) and both consumers run on the driver-local literal: the
    // RETURNED plan must not touch the corpus parquet at all — the
    // one corpus scan happened at build time — and nothing stays
    // cached (the pre-r12 persist leaked into long-lived sessions)
    assert(!p.contains("FileScan") && !p.contains("Scan parquet"),
      "report must derive from the collected bucket literal, not rescan")
    assert(!p.contains("InMemoryTableScan"),
      "no cache may outlive the call")
    assert(p.contains("BroadcastHashJoin") || p.contains("LocalTableScan"))
  }

  test("d42: clustering assigns via broadcast centroids, no corpus self-join") {
    val p = plan("d42_topic_cluster")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"),
      "cluster assignment must not sort-merge-join the corpus")
  }

  test("d43: balanced sampling broadcasts rates over the assignment") {
    val p = plan("d43_cluster_sample")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("d44: hash embedding is zero-shuffle scan arithmetic") {
    assert(shuffles(plan("d44_embed_text")) == 0)
  }

  test("d47: fate attribution reads the staged narrow artifact; rates broadcast; no raw-text rescan, no cache") {
    // Structural (tree, not string) check: the two legitimate
    // documents reads (pass-1 projection, span segmentation of norm
    // survivors) happen inside fullCurate's BUILD-time staging jobs —
    // the returned plan must read only the scratch-staged narrow
    // parquet, with no session cache left behind (r13: the persisted
    // frame + clearCache convention is retired).
    val exec = SparkEntry.queries("d47_full_curate")(spark, sf)
      .queryExecution.executedPlan match {
        // collect does not descend into the AQE wrapper's plan
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val fileScans = exec.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(!fileScans.exists(_.toString.contains("documents")),
      "the returned plan must not rescan the raw corpus")
    assert(fileScans.exists(_.toString.contains("graft_curate_")),
      "fate attribution must read the staged narrow artifact")
    val imts = exec.collect {
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => i }
    assert(imts.isEmpty,
      "fullCurate must leave no session-lifetime cache behind")
    assert(exec.toString().contains("BroadcastHashJoin"))
  }

  test("d45: curriculum staging returns a zero-shuffle literal-bounds projection") {
    val p = plan("d45_curriculum")
    // the histogram walk runs EAGERLY at build time (bounded frames
    // only) and the three boundaries come back as plan literals: the
    // returned frame is one corpus scan with pure column arithmetic —
    // no shuffle, no join, no cached corpus projection left behind
    // (the pre-r12 shape persisted (id, score) for the session's
    // lifetime)
    assert(shuffles(p) == 0)
    assert(!p.contains("InMemoryTableScan"),
      "staging must not pin a corpus-sized cache")
    assert(!p.contains("Window"), "no window may touch per-document rows")
  }

  /** Exchange counts of the similarity family's plans, pinned so a
    * refactor of the shared quantizer/probe helpers is shown not to
    * add, drop or move an exchange: (hash-partitioning exchanges,
    * broadcast exchanges) per catalog key at the test SF. The session
    * cache is cleared first: a persisted frame left by an earlier
    * call of the same key changes how the cached sub-plans print, so
    * the counts are taken on a cold cache whatever ran before.
    */
  private val similarityExchanges: Seq[(String, Int, Int)] = Seq(
    ("d19_ivf_ann", 9, 8),
    ("d37_ivf_index", 3, 3),
    ("d42_topic_cluster", 3, 2),
    ("d43_cluster_sample", 1, 3),
    ("d50_pq_ann", 2, 6),
    ("d51_ivfadc", 5, 6),
    ("d57_adc_rerank", 6, 8),
    ("d58_spann_ann", 6, 5))

  similarityExchanges.foreach { case (key, hash, bcast) =>
    test(s"$key: hash and broadcast exchange counts are pinned") {
      spark.catalog.clearCache()
      val p = plan(key)
      val got = (shuffles(p),
        p.linesIterator.count(_.contains("BroadcastExchange")))
      assert(got == ((hash, bcast)), s"$key (hash, broadcast) exchanges")
    }
  }
}
