package graft

import org.apache.spark.sql.functions.{col, lit}

/** Physical-plan shape pins for the declared queries: the properties
  * that make each plan scale — broadcast where a side is dim-sized,
  * TakeOrdered instead of a global sort, partial aggregation before
  * the exchange, pushed filters and pruned scans — asserted on the
  * EXECUTED plan string so a regression (a new Spark version flipping
  * a join strategy, an edit dropping a pushdown) fails a test instead
  * of silently multiplying shuffle bytes at scale.
  *
  * Counting operator occurrences in the plan string is deliberately
  * coarse: the pins state "no more than N exchanges" / "this strategy,
  * not that one", not byte-exact plans — they should survive cosmetic
  * Spark changes while catching structural ones.
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Executed-plan string after running the query (AQE FINAL plan).
    * The action must go through df's own QueryExecution — a
    * noop-sink write plans a separate execution and leaves
    * df.queryExecution stuck at isFinalPlan=false, so the pins would
    * read the pre-AQE initial plan.
    */
  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true") || !plan.contains("AdaptiveSparkPlan"),
      s"$name: expected the finalized adaptive plan:\n$plan")
    // the finalized string prints BOTH "== Final Plan ==" and
    // "== Initial Plan ==" sections — count operators in the final
    // section only or every pin double-counts
    plan.split("== Initial Plan ==").head
  }

  private def count(plan: String, op: String): Int =
    op.r.findAllIn(plan).length

  test("dq05_topk: TakeOrderedAndProject, no global sort") {
    val plan = planOf("dq05_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a bounded heap, not sort-the-world:\n$plan")
  }

  test("dq10_join_agg: dimension joins broadcast; no shuffle of the fact side for the join") {
    val plan = planOf("dq10_join_agg")
    assert(count(plan, "BroadcastHashJoin") >= 2,
      s"customer and nation should broadcast:\n$plan")
    assert(count(plan, "SortMergeJoin") == 0,
      s"no dim join should fall back to sort-merge at this scale:\n$plan")
  }

  test("ext_rel_star_join: all four dimensions broadcast") {
    val plan = planOf("ext_rel_star_join")
    assert(count(plan, "BroadcastHashJoin") >= 4,
      s"4-dim star join must broadcast every dimension:\n$plan")
    assert(count(plan, "SortMergeJoin") == 0, s"unexpected SMJ:\n$plan")
  }

  test("ext_rel_multi_distinct: ONE tagged Expand serves all three distinct streams, no joins") {
    val plan = planOf("ext_rel_multi_distinct")
    // Catalyst's multi-distinct rewrite expands each row once per
    // distinct argument and de-dups the tagged streams in one
    // pipeline; N separate scans / self-joins would be the regression
    assert(count(plan, "Expand") == 1,
      s"expected exactly one multi-distinct Expand:\n$plan")
    assert(!plan.contains("Join"),
      s"multi-distinct must not plan as self-joins:\n$plan")
  }

  test("ext_rel_grouping_sets: one Expand, scan read once") {
    val plan = planOf("ext_rel_grouping_sets")
    assert(count(plan, "Expand") == 1,
      s"grouping sets must expand one scan, not union three:\n$plan")
    assert(count(plan, "Scan parquet") == 1,
      s"the lineitem scan must be read once:\n$plan")
  }

  test("ext_rel_unpivot: zero-join Expand melt; no shuffle below the aggregation") {
    val plan = planOf("ext_rel_unpivot")
    assert(plan.contains("Expand"),
      s"unpivot should plan as a map-side Expand:\n$plan")
    // exactly the two required exchanges: partial→final agg and the
    // final orderBy's range partitioning — a melt that shuffled the
    // long rows before aggregating would triple the shuffle bytes
    assert(count(plan, "Exchange") <= 2,
      s"melt must not shuffle pre-aggregation rows:\n$plan")
    assert(!plan.contains("Join") && count(plan, "Scan parquet") == 1,
      s"one scan, no joins:\n$plan")
  }

  test("ext_graph_common_neighbors: equi wedge join — never nested-loop/cartesian") {
    val plan = planOf("ext_graph_common_neighbors")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the wedge join must stay an equi-join on the shared endpoint:\n$plan")
  }

  test("dq12_exact_dedup: the exchange partitions on the md5 hash, not raw text") {
    val plan = planOf("dq12_exact_dedup")
    // the md5 must be computed in the partial aggregate BELOW the
    // exchange so only 16-byte digests cross the wire; partitioning
    // directly on the text attribute would ship document bytes
    assert(plan.contains("hashpartitioning(md5"),
      s"expected the shuffle keyed on the map-side md5:\n$plan")
    assert(!"hashpartitioning\\(text#".r.findFirstIn(plan).isDefined,
      s"raw text column as shuffle key:\n$plan")
  }

  test("ext_pipeline_chunk: map-side generate — no exchange below the aggregation") {
    val plan = planOf("ext_pipeline_chunk")
    // exactly the two required exchanges: partial→final agg, and the
    // range partitioning for the final orderBy
    assert(count(plan, "Exchange") <= 2,
      s"chunking must not shuffle before aggregation:\n$plan")
    assert(plan.contains("Generate"), s"expected explode generate:\n$plan")
  }

  test("dq04_grep: predicate pushed into the parquet scan, schema pruned") {
    val df = SparkEntry.queries("dq04_grep")(spark, sfDir)
    df.collect()
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("Scan parquet")).getOrElse("")
    val full = df.queryExecution.toString
    assert(full.contains("PushedFilters: [IsNotNull(text)")
      || full.contains("StringContains"),
      s"contains-filter should push to the reader:\n$full")
    assert(!full.contains("n_chars") || !scan.contains("n_chars"),
      s"unused columns must prune from ReadSchema:\n$scan")
  }

  test("ext_pipeline_decontam: drop-list is a leaf, anti-join broadcasts it (no grams join inline)") {
    val plan = planOf("ext_pipeline_decontam")
    // the contaminated-id drop-list is a checkpointed artifact (its
    // grams⋈grams build runs ONCE in its own job — see
    // Curation.decontaminate), so the visible plan is exactly one
    // broadcast anti-join probing the leaf; the grams join must NOT
    // be inlined (Catalyst would push it through a Union-shaped
    // corpus, re-running it per branch — the @32 super-linearity)
    assert(count(plan, "BroadcastHashJoin") >= 1,
      s"final anti-join should broadcast the drop-list leaf:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no inline grams join may survive in the query plan:\n$plan")
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"drop-list must appear as a checkpointed leaf:\n$plan")
  }

  test("ext_sim_cosine_topk: one corpus scan, queries broadcast, no cartesian") {
    val plan = planOf("ext_sim_cosine_topk")
    assert(!plan.contains("CartesianProduct"),
      s"brute-force top-k must be broadcast, not cartesian:\n$plan")
    assert(count(plan, "BroadcastNestedLoopJoin") <= 1,
      s"at most the bounded query-panel loop join:\n$plan")
  }

  test("ext_dedup_incremental_lsh: band probe is an equi-join — no nested-loop, no cartesian") {
    val plan = planOf("ext_dedup_incremental_lsh")
    assert(!plan.contains("CartesianProduct"),
      s"band/signature probe must never go all-pairs:\n$plan")
    // the probe and verify joins must all be equi (hash) joins; the
    // single permitted nested loop is the final 1-row×1-row census
    // cross join
    assert(count(plan, "BroadcastNestedLoopJoin") <= 1,
      s"store probe must stay an equi hash join on (band, sig):\n$plan")
    assert(count(plan, "ShuffledHashJoin|BroadcastHashJoin|SortMergeJoin") >= 2,
      s"expected equi joins for band probe and shingle verification:\n$plan")
  }

  test("ext_dedup_incremental_simhash: segment probe is an equi-join — no nested-loop, no cartesian") {
    val plan = planOf("ext_dedup_incremental_simhash")
    assert(!plan.contains("CartesianProduct"),
      s"batch-vs-store probe must never go all-pairs:\n$plan")
    assert(count(plan, "BroadcastNestedLoopJoin") == 0,
      s"segment probe must stay an equi join on (seg, segv):\n$plan")
    assert(count(plan, "ShuffledHashJoin|BroadcastHashJoin|SortMergeJoin") >= 1,
      s"expected an equi join for the segment probe:\n$plan")
  }

  test("ext_dedup_substr: fingerprint semi-join stays equi; corpus dup scan partial-aggregates") {
    val plan = planOf("ext_dedup_substr")
    assert(!plan.contains("CartesianProduct"),
      s"gram duplicate detection must never go all-pairs:\n$plan")
    assert(count(plan, "BroadcastNestedLoopJoin") == 0,
      s"the dup-key semi-join must stay an equi join on the 16-byte fingerprint:\n$plan")
    // the corpus-wide fingerprint count must combine map-side: the
    // exchange carries one (h, h2, partial count) row per distinct
    // gram per partition, never one row per occurrence
    assert(plan.contains("partial_count"),
      s"expected map-side partial aggregation of gram fingerprints:\n$plan")
    // the two permitted Window ops are the per-doc interval merge's
    // lag + running sum (different frames, chained over ONE doc_id
    // exchange+sort); a third would be a gram-keyed verify — which
    // would serialize every occurrence of a hot boilerplate gram
    // into one sorted partition — sneaking back in
    assert(!plan.contains("SinglePartition, Window") &&
      count(plan, "Window") <= 2,
      s"expected only the per-doc interval-merge windows:\n$plan")
    // gram TEXT must never be a shuffle key (fingerprints only)
    assert("hashpartitioning\\([^)]*gram".r.findFirstIn(plan).isEmpty,
      s"gram strings must not cross an exchange:\n$plan")
  }

  test("ext_dedup_substr_cut: span application is one equi-join; token filter stays map-side") {
    val plan = planOf("ext_dedup_substr_cut")
    assert(!plan.contains("CartesianProduct") &&
      count(plan, "BroadcastNestedLoopJoin") == 0,
      s"span attachment must be an equi join on doc_id:\n$plan")
    // the cut itself is a higher-order array expression — no explode
    // of tokens back into rows after the spans are attached. The ≤3
    // allowance is the span DETECTION's gram explode, which plans
    // once per consumer of the (deliberately uncached, map-side)
    // grams relation; the CUT contributes zero Generates.
    assert(count(plan, "Generate") <= 3,
      s"token filtering must stay inside array expressions, not explode:\n$plan")
  }

  test("ext_dedup_canonical: id-join plus one struct-max aggregate, no text shuffle") {
    val plan = planOf("ext_dedup_canonical")
    assert(!plan.contains("CartesianProduct") &&
      count(plan, "BroadcastNestedLoopJoin") == 0,
      s"docs-to-labels assignment must be an equi join:\n$plan")
    // the survivor argmax must partial-aggregate before its exchange
    // (map-side combine: per-partition state is one struct per class)
    assert(plan.contains("partial_max") || plan.contains("partial_count"),
      s"expected map-side partial aggregation of the survivor struct:\n$plan")
  }

  test("ext_rel_range_join_left: outer path without localCheckpoint, banded equi-join (no BNLJ)") {
    val plan = planOf("ext_rel_range_join_left")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"banded rewrite must keep the range join equi-keyed:\n$plan")
    // the left-outer completion is a lazy anti-join on the natural
    // key — a localCheckpoint here would truncate lineage and pin
    // executor-local blocks, the thing the 100 TB path avoids
    assert(!plan.contains("localCheckpoint"),
      s"left-outer path must not materialize via localCheckpoint:\n$plan")
  }

  test("ext_multimodal_channels: codec work runs in one mapPartitions pass after the fixture repartition") {
    val plan = planOf("ext_multimodal_channels")
    assert(plan.contains("MapPartitions"),
      s"decode must be per-partition batch work:\n$plan")
    assert(count(plan, "ShuffledHashJoin|SortMergeJoin") == 0,
      s"no join belongs in a straight decode pass:\n$plan")
    // exchanges: the fixture's one explicit repartition (inside the
    // cached relation) + partial→final agg; anything more means a
    // shuffle crept between decode stages and would ship image BYTES
    assert(count(plan, "Exchange") <= 3,
      s"decode pipeline must not shuffle payload bytes:\n$plan")
  }

  test("ext_multimodal_frames: container parse + two decode passes, no shuffle of frame bytes") {
    val plan = planOf("ext_multimodal_frames")
    assert(count(plan, "MapPartitions") >= 2,
      s"gif sampling and png channel stats are both per-partition passes:\n$plan")
    assert(count(plan, "ShuffledHashJoin|SortMergeJoin") == 0,
      s"frame pipeline has no join work:\n$plan")
    assert(count(plan, "BroadcastNestedLoopJoin") <= 1,
      s"only the bounded 1-row×1-row census cross join may loop:\n$plan")
  }

  test("ext_multimodal_audio: wav decode is one mapPartitions pass over the cached fixture") {
    val plan = planOf("ext_multimodal_audio")
    assert(plan.contains("MapPartitions"),
      s"decode must be per-partition batch work:\n$plan")
    assert(count(plan, "Exchange") <= 3,
      s"audio bytes must not cross an extra shuffle:\n$plan")
  }

  test("ext_pipeline_decontam_bloom: gram probe is a map-side filter, never a join") {
    val plan = planOf("ext_pipeline_decontam_bloom")
    // the whole point of the bloom path: eval grams reach the train
    // side as a LITERAL filter probed in the scan pipeline — the only
    // hash join allowed is the final doc-id anti-join
    assert(plan.contains("might_contain"),
      s"bloom probe must appear as a map-side predicate:\n$plan")
    assert(count(plan, "BroadcastHashJoin") <= 1,
      s"only the final anti-join may hash-join:\n$plan")
    assert(count(plan, "SortMergeJoin") == 0, s"unexpected SMJ:\n$plan")
    // the train grams probed here are the SAME PlanCache'd relation
    // the exact decontamination path joins — the bloom query must
    // read it back, not re-scan and re-gram the corpus
    assert(plan.contains("InMemoryTableScan"),
      s"bloom probe must consume the shared train-gram relation:\n$plan")
  }

  test("ext_multimodal_features: featurizer is one mapPartitions pass, no join work") {
    val plan = planOf("ext_multimodal_features")
    assert(plan.contains("MapPartitions"),
      s"decode+featurize must be per-partition batch work:\n$plan")
    assert(count(plan, "ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin") == 0,
      s"no join belongs in the featurize pass:\n$plan")
    assert(count(plan, "Exchange") <= 3,
      s"image bytes must not cross an extra shuffle:\n$plan")
  }

  test("ext_pipeline_shard_export: read-back census is two exchanges, no join") {
    val plan = planOf("ext_pipeline_shard_export")
    assert(count(plan, "ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin") == 0,
      s"shard census is a straight groupBy over the read-back scan:\n$plan")
    assert(count(plan, "Exchange") <= 3,
      s"census needs only the groupBy and orderBy exchanges:\n$plan")
  }

  test("dq09_numeric_agg: long-cents sums, partial aggregation before the exchange") {
    val plan = planOf("dq09_numeric_agg")
    assert(plan.contains("partial_sum"),
      s"map-side combine missing:\n$plan")
    assert(!plan.toLowerCase.contains("decimal(38"),
      s"cents path must not fall back to wide decimal:\n$plan")
  }

  /** Executed-plan string (final AQE section) of an arbitrary frame —
    * for pinning operator sub-plans that are not whole declared
    * queries (write-side plans, probe sub-plans).
    */
  private def planOfFrame(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("ext_text_surprisal: vocabulary broadcasts; the token stream never shuffles by word") {
    val plan = planOf("ext_text_surprisal")
    // the token⋈vocabulary join must be a broadcast: the vocabulary is
    // Heaps-law bounded but hides behind an aggregate whose size
    // estimate is unreliable, and a sort-merge/shuffle fallback would
    // hash-partition the full token stream on the corpus's worst skew
    // key ("the")
    assert(count(plan, "BroadcastHashJoin") >= 1,
      s"vocabulary must broadcast to the token join:\n$plan")
    assert(count(plan, "SortMergeJoin|ShuffledHashJoin") == 0,
      s"token join fell back to a word-keyed shuffle join:\n$plan")
    // the only exchanges keyed on the word column are the vocabulary
    // aggregations' own (the count branch and the total branch — both
    // vocabulary-sized after partial agg; raw token rows are reduced
    // map-side before either exchange)
    assert(count(plan, "hashpartitioning\\(__w") <= 2,
      s"token rows must not hash-partition by word:\n$plan")
    assert(plan.contains("partial_count"),
      s"vocabulary count must partial-aggregate map-side:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must be a bounded heap:\n$plan")
  }

  test("ext_dedup_simhash: census consumes the shared signature relation") {
    val plan = planOf("ext_dedup_simhash")
    // the SimHash family (census, near-pairs, components) anchors on
    // ONE PlanCache'd (doc_id, simhash) relation — the census must
    // read it back, not re-run the corpus scan + per-bit aggregation
    assert(plan.contains("InMemoryTableScan"),
      s"census must read the shared cached signatures:\n$plan")
  }

  test("ext_stats_countmin: result is a bounded driver artifact; the probe is a heap top-k") {
    import org.apache.spark.sql.functions.{asc, col, desc, explode, lit, split}
    import org.apache.spark.sql.functions.{count => fcount}
    val plan = planOf("ext_stats_countmin")
    // the sketch builds via treeAggregate and only the finished probe
    // panel (top-10 + absent keys) returns — the result plan must be
    // driver-local rows, never a corpus scan
    assert(plan.contains("LocalTableScan"),
      s"probe panel should be bounded driver-local rows:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"the returned artifact must not embed a corpus scan:\n$plan")
    // the top-10 probe sub-plan (the query's only corpus-sized Spark
    // job besides the sketch build): one partial-aggregated exchange
    // keyed on the token, bounded-heap top-k — never a global sort
    val probe = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(fcount(lit(1)).as("true_cnt"))
      .orderBy(desc("true_cnt"), asc("w")).limit(10)
    val pplan = planOfFrame(probe)
    assert(pplan.contains("TakeOrderedAndProject"),
      s"probe must use a bounded heap:\n$pplan")
    assert(this.count(pplan, "Exchange") <= 1,
      s"probe needs only the token-count exchange:\n$pplan")
    assert(pplan.contains("partial_count"),
      s"token counts must partial-aggregate map-side:\n$pplan")
  }

  test("exportShards write plan: one hash exchange on (partCols, shard), local sort only") {
    import org.apache.spark.sql.functions.col
    val sp = graft.ext.Curation.shardPlan(
      Tables.documents(spark, sfDir).select("doc_id", "lang", "text"),
      Seq("lang"), "doc_id", shardsPerPart = 2)
    val plan = planOfFrame(sp)
    assert(plan.contains("hashpartitioning(lang"),
      s"export must shuffle once on (partition cols, shard):\n$plan")
    assert(count(plan, "Exchange") == 1,
      s"export is exactly one exchange:\n$plan")
    assert(count(plan, "Sort \\[[^\\]]*\\], true") == 0,
      s"files sort WITHIN partitions — a global sort would serialize the write:\n$plan")
    assert(count(plan, "Sort \\[") == 1,
      s"expected the single partition-local sort:\n$plan")
  }

  test("zorder write plan: one range exchange on the Morton code, local sort only") {
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"),
      (col("l_partkey") % 64).as("x"), (col("l_suppkey") % 64).as("y"))
    val zp = graft.ext.Layout.zOrderPlan(li, "x", "y", bits = 6, nFiles = 16)
    val plan = planOfFrame(zp)
    assert(plan.contains("rangepartitioning"),
      s"z-order layout must range-partition on the interleave:\n$plan")
    assert(count(plan, "Exchange") == 1,
      s"layout is exactly one exchange:\n$plan")
    assert(count(plan, "Sort \\[[^\\]]*\\], true") == 0,
      s"z-sort is partition-local — a global sort would serialize the rewrite:\n$plan")
    assert(count(plan, "Sort \\[") == 1,
      s"expected the single partition-local z sort:\n$plan")
  }

  test("runtime bloom-filter pruning fires on a selective fact-dim join at scale thresholds") {
    // At 100 TB the fact side of a selective dim join should be
    // row-filtered BEFORE its shuffle: Catalyst's InjectRuntimeFilter
    // builds a bloom filter from the filtered dim keys and plants a
    // might_contain probe on the fact scan. The rule is threshold-
    // gated (application side must exceed 10 GB by default), which is
    // why no fixture-scale plan shows it — this pin drops the size
    // gate and proves the rule FIRES on our join shape, so the
    // library's fact-dim joins inherit the pruning exactly where the
    // real deployment needs it.
    val conf = spark.conf
    val enabledKey = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val scanKey =
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val bcastKey = "spark.sql.autoBroadcastJoinThreshold"
    val before = (conf.get(enabledKey), conf.get(scanKey), conf.get(bcastKey))
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
    def agg() = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .agg(org.apache.spark.sql.functions.sum(col("l_quantity")).as("q"))
    // reference answer with the rule at its defaults (no probe)
    val exact = agg().collect().head.get(0)
    try {
      conf.set(enabledKey, "true")
      conf.set(scanKey, "0")
      // force the shuffle join the fact side has at 100 TB — the rule
      // only pays (and only fires) when the probe can shrink a
      // shuffle, not under a fixture-scale broadcast
      conf.set(bcastKey, "-1")
      val j = agg()
      assert(j.queryExecution.optimizedPlan.toString
          .contains("might_contain"),
        "InjectRuntimeFilter did not plant a bloom probe on the fact side:\n" +
          j.queryExecution.optimizedPlan.toString)
      // and the probed plan still computes the right answer
      assert(j.collect().head.get(0) == exact)
    } finally {
      conf.set(enabledKey, before._1)
      conf.set(scanKey, before._2)
      conf.set(bcastKey, before._3)
    }
  }

  test("sim serving rows run the native kernels, not interpreted HOF lambdas") {
    // a regression back to aggregate(zip_with(..)) would keep results
    // bit-identical (the kernels replicate the HOF summation order)
    // while silently re-paying ~1µs/element interpretation on every
    // (query, candidate) pair — only the plan shows the difference.
    // Traverse the analyzed tree: plan STRINGS truncate long project
    // lists, so a contains() check false-negatives.
    def uses(name: String, pred: org.apache.spark.sql.catalyst.expressions.Expression => Boolean): Boolean =
      SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.analyzed
        .collect { case p => p.expressions }.flatten
        .exists(_.exists(pred))
    assert(uses("ext_sim_quantized_topk",
        _.isInstanceOf[graft.functions.DotProductLong]),
      "quantized scan lost the native integer dot")
    assert(uses("ext_sim_pq_topk", _.isInstanceOf[graft.functions.LutSum]),
      "PQ ADC scoring lost the native lookup-sum kernel")
    assert(uses("ext_sim_cosine_topk",
        _.isInstanceOf[graft.functions.DotProduct]),
      "cosine scoring lost the native double dot")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // The other runtime guard the 100 TB design leans on: a hot join
    // key concentrates one shuffle partition; AQE's OptimizeSkewedJoin
    // must split it into parallel sub-reads instead of letting one
    // task hold the stage. Thresholds are scaled down in proportion to
    // the fixture so the rule triggers exactly as it would on a
    // multi-GB hot partition in production.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val before = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set(keys(0), "1.0")
      conf.set(keys(1), "64KB")
      conf.set(keys(2), "16KB")
      conf.set(keys(3), "-1") // force a sort-merge join (broadcast hides skew)
      conf.set(keys(4), "-1")
      import spark.implicits._
      // 60k rows on ONE key vs a uniform spread: one shuffle
      // partition dwarfs the rest, the shape the splitter must catch
      val skewed = spark.range(60000).select(lit(0L).as("k"),
          col("id").as("payload"))
        .union(spark.range(2000).select((col("id") % 32 + 1).as("k"),
          col("id").as("payload")))
      val dim = spark.range(64).select(col("id").as("k"),
        (col("id") * 2).as("v"))
      val j = skewed.join(dim, "k").agg(
        org.apache.spark.sql.functions.sum(col("payload") + col("v")).as("s"))
      val got = j.collect().head.getLong(0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the hot partition:\n$plan")
      // the split join still computes the exact aggregate
      val expect = (0L until 60000L).map(_ + 0L).sum +
        (0L until 2000L).map(i => i + (i % 32 + 1) * 2).sum
      assert(got == expect)
    } finally before.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("ext_pipeline_kanon: combo counts broadcast to a semi-join — the corpus never shuffles for the filter") {
    val plan = planOf("ext_pipeline_kanon")
    // BroadcastHashJoin specifically: 'LeftSemi, BuildRight' alone
    // would also match a ShuffledHashJoin, which shuffles the corpus
    // — the exact regression this pin exists to catch
    assert(count(plan, "BroadcastHashJoin [^\n]*LeftSemi, BuildRight") >= 1,
      s"the survivor filter must broadcast the combination list:\n$plan")
    assert(count(plan, "SortMergeJoin|ShuffledHashJoin") == 0,
      s"the corpus must not shuffle for a combination-bounded filter:\n$plan")
  }

  test("Changelog.mergeBatch: the store never shuffles — batch keys broadcast to BOTH joins") {
    // the 100 TB contract of the continuous CDC merge: per batch the
    // store crosses one broadcast anti-join (untouched rows) and one
    // broadcast semi-join (touched rows), both building on the
    // BATCH-keys side; the only hash exchange of store-derived rows
    // is the touched-keys max_by, which is batch-sized. A plan that
    // sort-merge- or shuffle-hash-joined the store would re-shuffle
    // the full corpus every microbatch.
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val store = Tables.customer(spark, sfDir).select(
      col("c_custkey"), col("c_name"), col("c_acctbal"),
      lit("U").as("op"), lit(0L).as("seq"))
    val batch = Tables.events(spark, sfDir).limit(200).select(
      (col("user_id") + 100).as("c_custkey"),
      concat(lit("u"), col("user_id")).as("c_name"),
      col("value").as("c_acctbal"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"),
      col("event_id").as("seq"))
    val m = graft.ext.Changelog.mergeBatch(store, batch, "c_custkey", "op", Seq("seq"))
    m.collect()
    val plan = m.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("LeftAnti, BuildRight"),
      s"untouched-store path must broadcast the batch keys:\n$plan")
    assert(plan.contains("LeftSemi, BuildRight"),
      s"touched-store path must broadcast the batch keys:\n$plan")
    assert(count(plan, "BroadcastHashJoin") >= 2)
    assert(count(plan, "SortMergeJoin|ShuffledHashJoin") == 0,
      s"the store side must never shuffle for the merge joins:\n$plan")
    // the batch-keys broadcast is built ONCE and reused by the second
    // join, not recomputed per consumer
    assert(plan.contains("ReusedExchange"),
      s"expected the batch-keys broadcast to be reused across the two joins:\n$plan")
  }

  test("Changelog.aggDelta: the store is touched only via a broadcast semi-join on batch keys") {
    // the incremental-matview 100 TB contract: refreshing the
    // aggregate costs a batch-keys broadcast against the store and
    // batch-sized aggregations — never a store shuffle, never a
    // corpus rescan (the store enters the plan once, semi-joined)
    import org.apache.spark.sql.functions.{col, concat, lit, round, when}
    val store = Tables.customer(spark, sfDir).select(
      col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100).cast("long").as("cents"),
      lit("U").as("op"), lit(0L).as("seq"))
    val batch = Tables.events(spark, sfDir).limit(200).select(
      (col("user_id") + 100).as("c_custkey"),
      col("event_type").as("c_mktsegment"),
      round(col("value") * 100).cast("long").as("cents"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"),
      col("event_id").as("seq"))
    val delta = graft.ext.Changelog.aggDelta(store, batch, "c_custkey", "op",
      Seq("seq"), Seq("c_mktsegment"), "cents", maxBroadcastKeys = 0L)
    delta.collect()
    val plan = delta.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(count(plan, "BroadcastHashJoin [^\n]*LeftSemi, BuildRight") >= 1,
      s"the pre-image probe must broadcast the batch keys:\n$plan")
    assert(count(plan, "SortMergeJoin|ShuffledHashJoin") == 0,
      s"the store must never shuffle for a view refresh:\n$plan")
  }

  test("Changelog.mergeAggMinMax: store enters via broadcast joins only — the key probe and the dim-pruned recompute") {
    // the min/max extension keeps aggDelta's contract: the store is
    // touched by (a) the batch-keys broadcast semi-join (pre-image +
    // winner, inside the checkpointed fold state) and (b) the
    // boundary recompute's ANTI join on the same broadcast keys +
    // LEFT SEMI on the broadcast affected-dim list — a dim-filtered
    // scan, never a store shuffle
    import org.apache.spark.sql.functions.{col, lit, round, udf, when}
    val store = Tables.customer(spark, sfDir).select(
      col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100).cast("long").as("cents"),
      lit("U").as("op"), lit(0L).as("seq"))
    val agg = graft.ext.Changelog.aggSnapshotMinMax(store, "op",
      Seq("c_mktsegment"), "cents").localCheckpoint(true)
    // a delete of an existing key forces the boundary-recompute branch
    // into the plan
    val batch = Tables.customer(spark, sfDir).limit(50).select(
      col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100).cast("long").as("cents"),
      lit("D").as("op"), lit(1L).as("seq"))
    val view = graft.ext.Changelog.mergeAggMinMax(agg, store, batch,
      "c_custkey", "op", Seq("seq"), Seq("c_mktsegment"), "cents",
      maxBroadcastKeys = 0L)
    view.collect()
    // the returned plan is the retraction path: checkpointed fold
    // state LEFT-joined with the dim-pruned recompute (the key-probe
    // broadcasts live inside the checkpoint's own executed plan)
    val plan = view.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(count(plan, "BroadcastHashJoin [^\n]*LeftSemi, BuildRight") >= 1,
      s"the dim-pruned recompute must broadcast the affected dims:\n$plan")
    assert(count(plan, "BroadcastHashJoin [^\n]*LeftAnti, BuildRight") >= 1,
      s"the recompute's untouched-keys side must anti-join the broadcast keys:\n$plan")
    assert(count(plan, "SortMergeJoin|ShuffledHashJoin") == 0,
      s"the store must never shuffle for a min/max view refresh:\n$plan")

    // and the scaladoc's no-retraction claim, pinned EXECUTION-EXACT
    // with a poisoned recompute source (same discipline as the sketch
    // pin below): an INSERT-only batch of brand-new keys retracts no
    // boundary, so the fold must commit without ever executing — or
    // even planning — the full-store recompute branch
    val boomMM = udf((_: Long) => {
      throw new IllegalStateException(
        "minmax recompute source executed on a no-retraction fold")
      true
    })
    val poisonedStore = store.where(boomMM(col("c_custkey")))
    val insBatch = Tables.customer(spark, sfDir).limit(50).select(
      (col("c_custkey") + 1000000L).as("c_custkey"), col("c_mktsegment"),
      lit(1L).as("cents"), lit("U").as("op"), lit(1L).as("seq"))
    val noRetract = graft.ext.Changelog.mergeAggMinMax(agg, store, insBatch,
      "c_custkey", "op", Seq("seq"), Seq("c_mktsegment"), "cents",
      maxBroadcastKeys = 0L, recomputeStore = Some(poisonedStore))
    noRetract.collect()
    val finalPlan = noRetract.queryExecution.executedPlan.toString
    assert(!finalPlan.contains("__rmn") && count(finalPlan, "Scan parquet") == 0,
      "a no-retraction fold must commit a plan with no recompute branch " +
        s"and no store scan at all:\n$finalPlan")
    // ...and the retracting fold must reach the (poisoned) source —
    // the gate is exactly the boundary test, not an AQE accident
    val e = intercept[Exception] {
      graft.ext.Changelog.mergeAggMinMax(agg, store, batch,
        "c_custkey", "op", Seq("seq"), Seq("c_mktsegment"), "cents",
        maxBroadcastKeys = 0L, recomputeStore = Some(poisonedStore)).collect()
    }
    def chainMM(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chainMM(x.getCause))
    assert(chainMM(e).exists(m => m != null && m.contains("no-retraction fold")),
      s"a boundary-retracting fold must read the recompute source: got $e")
  }

  test("sketched view maintenance: the full-store rebuild source executes ONLY on a drain") {
    // the scale claim that makes the sketch worth carrying: a trigger
    // whose boundary retractions stay inside every dim's sketch must
    // commit WITHOUT touching the full store (applyBatchMinMax pays a
    // full-store read on every retraction; the sketch makes it
    // drain-only). Pinned with a POISONED rebuild source — a UDF that
    // throws on the first row — so the pin is execution-exact: the
    // no-drain fold succeeds iff the full store was never read, and
    // the drain fold must reach it.
    import org.apache.spark.sql.functions.{concat, udf}
    import graft.streaming.{BucketStore, StreamMatview}
    val storeDir = java.nio.file.Files
      .createTempDirectory("graft_pssk_store").toString
    val aggDir = java.nio.file.Files
      .createTempDirectory("graft_pssk_agg").toString
    StreamMatview.seedSketch(spark.range(0, 64).select(
      col("id").as("k"), concat(lit("seg"), col("id") % 4).as("seg"),
      (col("id") * 10).as("cents"), lit("U").as("op"), lit(-1L).as("seq")),
      storeDir, aggDir, "k", "op", Seq("seg"), "cents", k = 4)
    val boom = udf((_: Long) => {
      throw new IllegalStateException(
        "full-store rebuild source executed on a no-drain trigger")
      true
    })
    val poisoned = BucketStore.read(spark, storeDir).get
      .where(boom(col("k")))
    val agg = BucketStore.read(spark, aggDir).get
    def fold(batch: org.apache.spark.sql.DataFrame) = {
      val touched = BucketStore.touchedBucketsAndKeys(batch, col("k"),
        BucketStore.DefaultBuckets)._1
      graft.ext.Changelog.mergeAggSketch(agg,
        BucketStore.read(spark, storeDir, Some(touched)).get, batch,
        "k", "op", Seq("seq"), Seq("seg"), "cents", k = 4,
        maxBroadcastKeys = 0L, recomputeStore = Some(poisoned))
    }
    import spark.implicits._
    // deleting seg0's max holder (k=60, 600) is a boundary retraction
    // — an in-sketch pop; the poisoned full store must never execute
    val popped = fold(Seq((60L, "seg0", 0L, "D", 1L))
      .toDF("k", "seg", "cents", "op", "seq"))
    assert(popped.where(col("seg") === "seg0")
      .select("max").as[Option[Long]].head() == Some(560L))
    // deleting ALL k tracked smallest of seg0 (0,4,8,12) drains the
    // min side — the rebuild MUST reach the full store (and trips the
    // poison, proving the lazy source is exactly the drain path)
    val e = intercept[Exception] {
      fold(Seq(0L, 4L, 8L, 12L).map(k => (k, "seg0", 0L, "D", 1L))
        .toDF("k", "seg", "cents", "op", "seq")).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m => m != null && m.contains("no-drain trigger")),
      s"the drain fold must read the (poisoned) full store: got $e")
    // and the same claim for the erasure twin: purging inside the
    // sketch never reads the full store; a draining purge must
    val pg = graft.ext.Changelog.purgeAggSketch(agg,
      BucketStore.read(spark, storeDir).get, Seq(60L).toDF("k"),
      "k", "op", Seq("seg"), "cents", k = 4, maxBroadcastKeys = 0L,
      recomputeStore = Some(poisoned))
    assert(pg.where(col("seg") === "seg0")
      .select("max").as[Option[Long]].head() == Some(560L))
    val e2 = intercept[Exception] {
      graft.ext.Changelog.purgeAggSketch(agg,
        BucketStore.read(spark, storeDir).get,
        Seq(0L, 4L, 8L, 12L).toDF("k"),
        "k", "op", Seq("seg"), "cents", k = 4, maxBroadcastKeys = 0L,
        recomputeStore = Some(poisoned)).collect()
    }
    assert(chain(e2).exists(m => m != null && m.contains("no-drain trigger")),
      s"the draining purge must read the (poisoned) full store: got $e2")
  }

  test("view folds: every flavour's fold plans ONE hash exchange keyed on the dims") {
    // the signed winner (+1) and pre-image (−1) rows meet the view state
    // in one union + groupBy by dims, the flavour's delta aggregates
    // riding along; grouping the signed rows by dims first (a separate
    // delta) and the view state again would plan two. The eager flavours
    // run their fold inside the checkpoint action, so the plans are
    // read from a QueryExecutionListener, with AQE off as in a trigger
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.functions.concat
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.ext.Changelog
    import spark.implicits._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val store = spark.range(0, 64).select(col("id").as("k"),
      concat(lit("seg"), col("id") % 4).as("seg"), (col("id") * 10).as("cents"),
      lit("U").as("op"), lit(-1L).as("seq")).localCheckpoint(true)
    // two new keys inside their dims' bounds: no flavour recomputes
    val batch = Seq((100L, "seg0", 5L, "U", 0L), (101L, "seg1", 15L, "U", 0L))
      .toDF("k", "seg", "cents", "op", "seq")
    val dimsExchange = "Exchange hashpartitioning\\(seg#\\d+"
    Seq(Changelog.CountSum("op", Seq("seg"), "cents"),
        Changelog.MinMax("op", Seq("seg"), "cents"),
        Changelog.Sketch("op", Seq("seg"), "cents", k = 4)).foreach { f =>
      val agg = f.snapshot(store).localCheckpoint(true)
      spark.listenerManager.register(listener)
      try {
        graft.Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
          Changelog.foldBatch(f, agg, store, batch, "k", Seq("seq"), 0L, () => store)
            .collect()
        }
        import scala.jdk.CollectionConverters._
        // the fold's plans union its rows (an earlier action's plan, a
        // view snapshot, may still be on its way to the listener)
        def folds = plans.asScala.toSeq.filter(p => p.contains("Union") &&
          count(p, dimsExchange) > 0)
        val deadline = System.currentTimeMillis + 10000
        while (folds.isEmpty && System.currentTimeMillis < deadline) Thread.sleep(10)
        assert(folds.nonEmpty, s"$f: no plan grouped by the dims: ${plans.asScala.toSeq}")
        folds.foreach(p => assert(count(p, dimsExchange) == 1,
          s"$f: the fold should plan one exchange on the dims:\n$p"))
      } finally {
        spark.listenerManager.unregister(listener)
        plans.clear()
      }
    }
  }

  test("correlated subqueries decorrelate to hash joins — never per-row plans or nested loops") {
    // the SQL-surface contract: EXISTS → hash LEFT SEMI, NOT EXISTS →
    // hash LEFT ANTI, a correlated scalar aggregate → ONE grouped
    // aggregate joined back on the correlation key. A
    // BroadcastNestedLoopJoin or CartesianProduct here is the
    // 100 TB death sentence these rows exist to rule out.
    val ex = planOf("ext_rel_exists")
    assert(count(ex, "Join [^\n]*LeftSemi") >= 1,
      s"EXISTS must decorrelate to a LEFT SEMI hash join:\n$ex")
    // sf0.001 leaves no churned customer, so AQE collapses the FINAL
    // plan to EmptyRelation — the decorrelation pin reads the INITIAL
    // plan (the shape Catalyst chose before runtime pruning)
    val nxDf = SparkEntry.queries("ext_rel_not_exists")(spark, sfDir)
    nxDf.collect()
    val nx = nxDf.queryExecution.executedPlan.toString
    assert(count(nx, "Join [^\n]*LeftAnti") >= 1,
      s"NOT EXISTS must decorrelate to a LEFT ANTI hash join:\n$nx")
    val sc = planOf("ext_rel_scalar_subq")
    // each correlated scalar aggregate becomes a grouped aggregate
    // whose result joins back — aggregates run once over the
    // relation, never once per outer row
    assert(count(sc, "HashAggregate") >= 2,
      s"correlated scalar aggregates must decorrelate to grouped aggregates:\n$sc")
    assert(count(sc, "BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin") >= 2,
      s"decorrelated scalars must join back, once per subquery:\n$sc")
    // correlated IN with a NON-EQUI correlated predicate: one hash
    // LEFT SEMI join — the nationkey membership hashes, the
    // acctbal inequality rides as residual join condition
    val in = planOf("ext_rel_in_subq")
    assert(count(in, "Join [^\n]*LeftSemi") >= 1,
      s"correlated IN must decorrelate to a LEFT SEMI hash join:\n$in")
    // EXISTS under a disjunction: the OR keeps non-matching rows
    // alive, so the right shape is an EXISTENCE join feeding the
    // disjunctive filter — still a hash join, one pass
    val or = planOf("ext_rel_exists_or")
    assert(count(or, "ExistenceJoin") >= 1,
      s"EXISTS under OR must plan as an existence hash join:\n$or")
    // NOT IN over a NULLABLE subquery column: the classic
    // three-valued-logic shape must plan as a single-column NULL-AWARE
    // broadcast hash anti-join — the optimizer's dedicated NAAJ path —
    // never the BroadcastNestedLoopJoin the unoptimized rewrite
    // produces (a per-outer-row scan of the subquery at 100 TB)
    val ni = planOf("ext_rel_not_in_null")
    assert(count(ni, "BroadcastHashJoin [^\n]*LeftAnti, BuildRight") >= 1,
      s"nullable NOT IN must plan as a null-aware hash anti-join:\n$ni")
    Seq("ext_rel_exists" -> ex, "ext_rel_not_exists" -> nx,
        "ext_rel_scalar_subq" -> sc, "ext_rel_in_subq" -> in,
        "ext_rel_exists_or" -> or, "ext_rel_not_in_null" -> ni)
      .foreach { case (n, p) =>
      assert(count(p, "BroadcastNestedLoopJoin|CartesianProduct") == 0,
        s"$n: correlated subquery fell back to a nested-loop plan:\n$p")
    }
  }
}
