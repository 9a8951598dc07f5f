package graft

/** Physical-plan audits (SURVEY.md §6): the properties that make these
  * plans survive a 100x scale-up, asserted so regressions fail CI.
  *
  *  - projections/filters reach the parquet scan (column pruning +
  *    predicate pushdown → row-group pruning at scale),
  *  - dimension joins broadcast (no shuffle of the fact side),
  *  - global top-k plans as TakeOrderedAndProject (per-partition
  *    k-heaps, no full sort shuffle),
  *  - aggregations are partial (map-side combine) before the exchange.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** (windowCount, allPartitioned) for a query's OPTIMIZED LOGICAL
    * plan: a Window with an empty partitionSpec serializes its whole
    * input through one task at scale, which is the hazard these
    * audits pin. Inspecting `Window.partitionSpec` directly replaces
    * an earlier executed-plan-string heuristic (bracket-group
    * counting) that both elided empty argument lists and depended on
    * simpleString rendering staying stable across Spark versions. */
  private def windowsPartitioned(name: String): (Int, Boolean) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val ws = SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    (ws.size, ws.forall(_.partitionSpec.nonEmpty))
  }

  test("load_project: column pruning reaches the scan") {
    val p = plan("load_project")
    assert(p.contains("ReadSchema"), p.take(500))
    assert(!p.contains("l_extendedprice"), "scan should not read unused columns")
  }

  test("filter_select: predicates pushed to parquet") {
    val p = plan("filter_select")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)") ||
      p.contains("LessThan(l_quantity"), p.take(800))
  }

  test("join5_broadcast: all dims broadcast, fact never shuffled for dims") {
    val p = plan("join5_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    // customer/supplier/nation/region joins must all be broadcast:
    // the only SortMergeJoin allowed is lineitem-orders (fact-fact)
    val smj = "SortMergeJoin".r.findAllIn(p).length
    assert(smj <= 1, s"expected <=1 SortMergeJoin (fact-fact), got $smj")
  }

  test("sort_limit and topk_heavy: TakeOrderedAndProject, no global sort") {
    assert(plan("sort_limit").contains("TakeOrderedAndProject"))
    assert(plan("topk_heavy").contains("TakeOrderedAndProject"))
  }

  test("groupby_agg: partial aggregation before the exchange") {
    val p = plan("groupby_agg")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(800))
  }

  test("histogram1d: shuffle carries bins, not rows (partial agg on bin id)") {
    val p = plan("histogram1d")
    assert(p.contains("partial_count"))
  }

  test("range_assign: join-free binary-search band lookup") {
    val p = plan("range_assign")
    assert(p.contains("graft_band_index"), p.take(800))
    assert(!p.contains("Join"), "band assignment should not plan a join")
  }

  test("group_quantity_join: dim quantity broadcast onto fact") {
    assert(plan("group_quantity_join").contains("BroadcastHashJoin"))
  }

  test("asof_join: ONE exchange total — range by key, local output sort") {
    val p = plan("asof_join")
    // the union enters the as-of window range-partitioned by user_id
    // (satisfies the window's clustering), and the display order is a
    // LOCAL sort over that layout — one shuffle for the whole query
    val ex = "Exchange ".r.findAllIn(p).length
    assert(ex == 1, s"as-of should shuffle exactly once, got $ex:\n${p.take(1200)}")
    assert(p.contains("Exchange rangepartitioning(user_id"), p.take(1200))
    assert(p.linesIterator.filter(_.contains("Sort ["))
      .forall(_.contains("false, 0")), // global=false ⇒ local sorts only
      "only local sorts expected:\n" + p.take(1200))
  }

  test("sessionize: windows AND rollup share one range exchange on the key") {
    val p = plan("sessionize")
    // lag-window, cumsum-window, and the session groupBy all cluster
    // on user_id — all satisfied by the single range exchange
    val ex = "Exchange ".r.findAllIn(p).length
    assert(ex == 1, s"sessionize should shuffle once, got $ex:\n${p.take(1200)}")
    assert(p.contains("Exchange rangepartitioning(user_id"), p.take(1200))
  }

  test("group_offsets: two-phase prefix sum — range buckets, no window, no join") {
    val p = plan("group_offsets")
    // buckets are Spark's own range partitioning (its sample job runs
    // inside the consuming action — no separate driver quantile pass)
    assert(p.contains("rangepartitioning"), p.take(1200))
    // the cumsum is a narrow per-bucket streaming pass (mapPartitions
    // with row-stamped bucket bases) — NO window anywhere (a window
    // partitioned by the bucket stamp re-exchanges because Catalyst
    // can't see the stamp IS the partitioning; measured 12 jobs), and
    // no join bringing prefixes back
    assert(!p.contains("Window"),
      "prefix sum must not plan a window:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "bucket prefixes ride the task closure, never a join:\n" + p.take(1200))
    // ordered output comes from the range layout + a LOCAL sort above
    // the streaming pass — never a second global (sampled) sort: the
    // consumer-side plan (everything above the cached range layout)
    // must be exchange-free, and every sort in it local
    val top = p.linesIterator.takeWhile(!_.contains("InMemoryRelation")).toSeq
    assert(!top.exists(_.contains("Exchange")),
      "no exchange above the cached range layout:\n" + top.mkString("\n"))
    assert(top.filter(_.contains("Sort [")).forall(_.contains("false, 0")),
      "only local sorts above the prefix pass:\n" + top.mkString("\n"))
  }

  test("subhalo_offsets: every window partitioned (no one-task catalog scan)") {
    // local offsets window on the parent group, prefix-sum window on
    // the range bucket — a global Window.orderBy would serialize the
    // whole subhalo catalog into a single task at 1e8 halos
    val (nw, ok) = windowsPartitioned("subhalo_offsets")
    assert(nw > 0, "expected window nodes in the plan")
    assert(ok, "unpartitioned window in subhalo_offsets")
  }

  test("grouped_chain: one key shuffle into sorted mapGroups") {
    val p = plan("grouped_chain")
    assert(p.contains("MapGroups"), p.take(800))
    // the chain's data path shuffles exactly once (on the group key);
    // the only other exchange is the final presentation ORDER BY
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" + p.take(1200))
  }

  test("cosmo_physical / unit_algebra: conversion factors are literals") {
    // unit/cosmology conversion must be a codegen'd literal multiply,
    // never a join or per-row lookup
    val p1 = plan("cosmo_physical")
    assert(!p1.contains("Join"), p1.take(800))
    val p2 = plan("unit_algebra")
    assert(!p2.contains("Join"), p2.take(800))
    assert(p2.contains("0.677") || p2.contains("E-29") || p2.contains("e-29"),
      "expected the registry-derived factor inlined:\n" + p2.take(1200))
  }

  test("whole-stage codegen active in scan-side stages") {
    // AQE only reveals the final (codegen-annotated) plan after THIS
    // df's own plan instance has run (write/count would re-plan)
    val df = SparkEntry.queries("groupby_agg")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd stages print as "*(n) Operator" in the plan string
    assert(p.contains("*(") , p.take(800))
  }

  test("dedup_ngram_jaccard: no window sort; native shingles; one Generate verify barrier") {
    val p = plan("dedup_ngram_jaccard")
    // prefix ranking is a hash aggregate, not a per-doc window sort
    assert(!p.contains("Window"), "prefix ranking must not plan a window")
    // shingling is the codegen'd native expression, not interpreted HOFs
    assert(p.contains("graft_shingles"), p.take(800))
    assert(!p.contains("zip_with"), "no interpreted HOF shingling in the hot path")
    // the verify intersection is computed once behind a Generate
    // barrier — exactly one array_intersect in the whole plan
    val n = "array_intersect".r.findAllIn(p).length
    assert(n <= 2, s"intersection must not be re-inlined per consumer (found $n)")
  }

  test("sketch_distinct: single-binary-buffer sketch aggregate (no register-column blowup)") {
    val p = plan("sketch_distinct")
    // DataSketches HLL state is one binary object per sketch →
    // ObjectHashAggregate; HLL++ at rsd=0.01 would plan a
    // HashAggregate over ~2,700 Long buffer columns per sketch
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    assert(p.contains("hllsketchagg") || p.contains("hll_sketch_agg"), p.take(800))
  }

  test("ann_ivf: assignment is one map-side pass (no iterative ML stages, no shuffle join)") {
    val p = plan("ann_ivf")
    assert(p.contains("graft_nearest_centroid"), p.take(800))
    // the recall-verdict wrapper adds broadcast joins (semi vs exact
    // top-k, the query-vector cross); cell ASSIGNMENT must still be
    // join-free — no shuffle join anywhere in the plan
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "cell assignment must not plan a shuffle join:\n" + p.take(1200))
    assert(p.contains("TakeOrderedAndProject"), "probe top-k must be a k-heap")
  }

  test("pack_sequences: stream offsets via bucketed prefix sum, no global window") {
    val p = plan("pack_sequences")
    // token start offsets come from the bucketed two-phase prefix
    // sum — a narrow streaming pass over range buckets; a global
    // Window.orderBy(doc_id) would serialize the whole corpus into
    // one task
    assert(!p.contains("Window"),
      "prefix sum must not plan a window:\n" + p.take(1200))
    assert(p.contains("rangepartitioning"),
      "bucketing must be a range exchange (sampled inside the action)")
  }

  test("sample_budget: per-stratum fill via bucketed prefix sum, no stratum window") {
    val p = plan("sample_budget")
    // budget fill runs on the per-GROUP bucketed prefix sum; a
    // PARTITION BY lang window would serialize each whole language
    // into one task at corpus scale
    assert(!p.contains("Window"),
      "budget fill must not plan a window:\n" + p.take(1200))
    assert(p.contains("rangepartitioning"),
      "bucketing must be a range exchange (sampled inside the action)")
    // the lang IN (...) budget filter reaches the parquet scan
    assert(p.contains("PushedFilters: [In(lang") ||
      p.contains("In(lang,"), p.take(1200))
  }

  test("dedup_minhash: signatures finish map-side (no explode aggregate before banding)") {
    val p = plan("dedup_minhash")
    assert(p.contains("graft_minhash"),
      "signatures must be the native one-pass expression:\n" + p.take(1200))
    // the first aggregate in the plan must be candidate-side (band
    // keys / pair dedup), never a 64-buffer per-doc signature agg
    assert(!p.contains("min(xxhash64"),
      "per-seed min aggregates mean the explode formulation came back:\n" + p.take(1500))
  }

  /** Every physical operator of the final plans that `body`'s actions
    * executed — including the plans that materialized cached frames —
    * each operator once. */
  private def executedOperators(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = "plan_audit_marker"
    def markerSeen = qes.toArray(Array.empty[QueryExecution])
      .exists(_.analyzed.output.exists(_.name == marker))
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once the marker's is in, so
      // are those of every action `body` ran
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "query execution events did not arrive")
    } finally spark.listenerManager.unregister(listener)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case r: ReusedExchangeExec => walk(r.child)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    qes.forEach(qe => walk(qe.executedPlan))
    seen.toArray(Array.empty[SparkPlan]).toSeq
  }

  test("dedup_minhash, dedup_clusters: the MinHash kernel runs in ONE Generate") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
    import org.apache.spark.sql.execution.GenerateExec
    import graft.functions.expressions.{MinHashBands, MinHashSig}
    def kernel(e: Expression) = e.exists {
      case _: MinHashSig | _: MinHashBands => true
      case _ => false
    }
    for (name <- Seq("dedup_minhash", "dedup_clusters")) {
      val ops = executedOperators(
        CacheScope.withScope(SparkEntry.queries(name)(spark, sfDir).collect()))
      val evaluating = ops.filter(_.expressions.exists(kernel))
      // one Generate exploding the fused kernel, and no Filter: a
      // transform lambda over the signature, or a filter pushed over
      // it, would evaluate the signature once more per band / filter
      assert(evaluating.map(_.getClass) == Seq(classOf[GenerateExec]),
        s"$name evaluates the kernel in:\n${evaluating.map(_.simpleString(400)).mkString("\n")}")
      assert(!evaluating.head.expressions.exists(_.exists {
        case l: LambdaFunction => kernel(l)
        case _ => false
      }), s"$name references the kernel inside a lambda")
    }
  }

  test("dedup_substring: positional hashes native; spans reuse the doc partitioning") {
    val p = plan("dedup_substring")
    assert(p.contains("graft_pos_shingles"), p.take(1200))
    // exactly two data exchanges: by shingle hash (cross-doc window)
    // and by doc (islands); the final span aggregate must NOT add a
    // third (it reuses the doc hash partitioning)
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size <= 2,
      s"span merge must reuse the doc partitioning:\n${exchanges.mkString("\n")}")
  }

  test("multimodal_decode: codec output materialized once before the sort") {
    val p = plan("multimodal_decode")
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      "sortBarrier must cache the decoded frame (else range sampling " +
        "re-runs the codec loop):\n" + p.take(1200))
  }

  test("boxcut: scans the z-ordered at-rest copy with the box pushed to parquet") {
    val p = plan("boxcut")
    assert(p.contains("graft_zpart"),
      "boxcut must scan the Z-order clustered copy:\n" + p.take(800))
    // the box predicate must reach the scan so tight z-clustered
    // row-group stats can prune at the source
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(p_size"),
      p.take(1500))
  }

  test("sketch probes are native: no ScalaUDF in bloom-prefilter or CM-estimate plans") {
    // the broadcast-sketch probes must be the codegen'd expressions,
    // not interpreter-barrier UDFs (ADVICE r4 item 9)
    val pb = plan("dedup_incremental_bloom")
    assert(!pb.contains("ScalaUDF") && !pb.contains("BatchEvalPython"),
      "bloom probe regressed to a UDF:\n" + pb.take(1200))
    assert(pb.contains("graft_bloom_might_contain"), pb.take(1200))
    val pc = plan("sketch_freq")
    assert(!pc.contains("ScalaUDF") && !pc.contains("BatchEvalPython"),
      "CM probe regressed to a UDF:\n" + pc.take(1200))
    assert(pc.contains("graft_cm_estimate"), pc.take(1200))
  }

  test("dedup_embcos: cosine rides inside the cell join stage — no pre-verify distinct of candidates") {
    val p = plan("dedup_embcos")
    // the cell self-join must evaluate cosine+threshold in its own
    // stage; a HashAggregate BELOW the dot-product projection would
    // mean the old shape (distinct-shuffle millions of id pairs, then
    // join vectors back) regressed. The surviving-pair distinct above
    // the filter is fine — it sees only thresholded rows.
    val dotIdx = p.indexOf("graft_dot")
    assert(dotIdx >= 0, "cosine must use the native dot expression:\n" + p.take(1200))
    // plan strings print parents first: everything after the cosine
    // projection is its input subtree — scans and the cell join only
    assert(!p.substring(dotIdx).contains("HashAggregate"),
      "candidate distinct crept below the cosine stage:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("salted_join: hot set is a collected literal — no sample/detection subtree in either branch") {
    val p = plan("salted_join")
    // hot-key detection runs ONCE at build time as a bounded
    // Space-Saving tree-aggregate (FrequencySketch.heavyHitters) and
    // enters the plan as a literal In/InSet predicate; a Sample node
    // (the old sampled-groupBy detector) or any detection aggregate
    // inside the executed join would mean each branch re-evaluates
    // detection and the branches can race to disagree on the hot
    // set, silently dropping rows
    assert(!p.contains("Sample"),
      "sample subtree leaked into the join plan:\n" + p.take(1500))
    // the join itself is a shuffle-HASH join (no sort-merge: the
    // salted build side is bounded per partition by construction),
    // fed by an aggregate pushed BELOW the join on the fact side
    assert(p.contains("ShuffledHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "salted join must not sort to merge:\n" + p.take(1200))
  }

  test("dedup_semantic: native cosines in the cell join, anti-join survivors, no window") {
    val p = plan("dedup_semantic")
    // survivors = corpus minus dominated rows — a LeftAnti against
    // the (small) dominated set, never a ranking window over the
    // corpus (which would one-task at scale)
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(!p.contains("Window"),
      "semdedup must not plan a window:\n" + p.take(1200))
    assert(p.contains("graft_cosine"),
      "pair + centroid cosines must be the native expression:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("shuffle_export: bucketed prefix sum feeds a partial-agg manifest, no window") {
    val p = plan("shuffle_export")
    // the shard cut is PrefixSum's range layout + streaming pass —
    // a global cumsum window would serialize the corpus at 100 TB
    assert(p.contains("rangepartitioning"), p.take(1200))
    assert(!p.contains("Window"),
      "shard assignment must not plan a window:\n" + p.take(1200))
    // the per-shard manifest combines map-side before its exchange
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(1200))
  }

  test("ann_batch: query table broadcast; top-k window fed by the survivor filter only") {
    val p = plan("ann_batch")
    // the scoring join must broadcast the QUERY table over the corpus
    // scan (map-side cosines) — never shuffle or cartesian the corpus
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the exact ranking window sees only GroupTopK's survivors (the
    // per-partition first-k stream filter, a MapPartitions node below
    // the window), and is always partitioned by query id
    val wIdx = p.indexOf("Window")
    assert(wIdx >= 0, p.take(800))
    assert(p.substring(wIdx).contains("MapPartitions"),
      "window must rank survivors, not the full scored set:\n" + p.take(1500))
    assert(windowsPartitioned("ann_batch")._2,
      "unpartitioned window in ann_batch")
  }

  test("substring_scrub: keeper window on the hash key, anti join, no cartesian") {
    val p = plan("substring_scrub")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // keeper resolution must window on the high-cardinality shingle
    // hash — a doc-keyed window here would serialize whole documents'
    // occurrence lists through single tasks at corpus scale
    val (nw, ok) = windowsPartitioned("substring_scrub")
    assert(nw > 0 && ok, "unpartitioned window in substring_scrub")
    assert(p.contains("LeftAnti"), p.take(1200))
  }

  test("interval_join: bucketed rewrite plans a hash equi-join, never a nested loop") {
    val p = plan("interval_join")
    // the whole point of RangeJoin: a BETWEEN join must NOT fall back
    // to BroadcastNestedLoopJoin/CartesianProduct — at 100 TB neither
    // side broadcasts and a loop join is O(points x intervals). The
    // rewrite gives the optimizer EQUI-keys (key, bucket); at test
    // scale stats pick BroadcastHashJoin, at scale the same keys
    // shuffle into SMJ/SHJ — either is the partition-parallel shape.
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "expected an equi-join on (key, bucket):\n" + p.take(1200))
    // the containment predicate survives as the join's post-condition
    assert(p.contains(">= v_start") && p.contains("<= v_end"), p.take(1200))
    // the per-click rollup combines map-side before its exchange
    assert(p.contains("partial_count"), p.take(1200))
  }

  test("tfidf_topterms: exchange-free map-side top-k against the broadcast df dictionary") {
    val p = plan("tfidf_topterms")
    // steady state (df dictionary memoized as a broadcast literal):
    // ONE document scan feeding the native graft_tfidf_topk generate —
    // no joins, no windows, no exchanges beyond the output coalesce
    assert(p.contains("graft_tfidf_topk"), p.take(1200))
    assert(!p.toLowerCase.contains("join"), p.take(1200))
    assert(windowsPartitioned("tfidf_topterms")._1 == 0,
      "per-doc top-k must fold inside the expression, not a window")
    assert(!p.contains("Exchange"),
      "map-side only — the scan stage emits final (doc, term, score) rows:\n"
        + p.take(1200))
  }

  test("histogram_equidepth: memoized boundaries — steady state is the one-pass CASE") {
    // first execution may pay the ExactQuantiles boundary derivation
    // (range-sort + two bounded driver jobs) to warm the per-(dataset,
    // column) memo; every execution AFTER must be just the CASE +
    // O(bins) count — the table-statistic contract
    SparkEntry.queries("histogram_equidepth")(spark, sfDir).collect()
    val sc = spark.sparkContext
    sc.setJobGroup("equidepth-audit", "steady-state job count", false)
    try SparkEntry.queries("histogram_equidepth")(spark, sfDir).collect()
    finally sc.clearJobGroup()
    val jobs = sc.statusTracker.getJobIdsForGroup("equidepth-audit")
    // 4 = AQE's stage-per-job for CASE+partial → final agg → tiny
    // orderBy → collect; the boundary derivation added 3 more (range
    // sort + two driver value jobs), so >4 means it leaked back
    assert(jobs.length <= 4,
      s"steady-state histogram_equidepth ran ${jobs.length} jobs — " +
        "boundary derivation is leaking back into the query path")
    // and the plan itself carries the boundaries as CASE literals:
    // no join, no subquery against a quantile table
    val p = plan("histogram_equidepth")
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("partial_count"), p.take(800))
  }

  test("ann_radius: one map-side cosine pass — no shuffle of the corpus") {
    val p = plan("ann_radius")
    // the query vector rides as a broadcast one-row cross; the corpus
    // is scanned once, filtered map-side, and only the (small) result
    // pays the final sort
    assert(p.contains("graft_cosine"), p.take(800))
    val exchanges = "Exchange".r.findAllIn(p).length
    // broadcast exchange for the query vector + the result's range
    // exchange — never a corpus-wide hash shuffle
    assert(exchanges <= 3, s"ann_radius plans $exchanges exchanges:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the query vector")
  }

  test("dedup_containment: hash-keyed equi-join, partial-agg counts, no cartesian") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // candidate generation keys on xxhash64 token ids
    assert(p.contains("xxhash64"), p.take(800))
    // pair counts combine map-side before their exchange
    assert(p.contains("partial_count"), p.take(1200))
  }

  test("dedup_clusters_incremental: base labels broadcast-joined, never shuffled") {
    // the O(batch) merge contract: the persisted base label table
    // rides the STREAMED side of broadcast joins (endpoint resolve +
    // relabel apply); every SortMergeJoin in the plan belongs to the
    // batch pair-generation side, never to a base-label scan. The
    // projected-graph CC ran on the driver (union-find fast path), so
    // no iterative join stages appear at all.
    val df = SparkEntry.queries("dedup_clusters_incremental")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // locate base-label parquet scans: they read the graft_ccbase
    // artifact; none may sit under a shuffle exchange on its own path
    assert(p.contains("graft_ccbase"),
      "build must read the persisted base label artifact:\n" + p.take(1200))
    val lines = p.linesIterator.toSeq
    val scanIdx = lines.zipWithIndex.filter(_._1.contains("graft_ccbase")).map(_._2)
    scanIdx.foreach { i =>
      // walk upward at decreasing indentation: the first join above a
      // base-label scan must be a BroadcastHashJoin
      def indent(s: String) = s.prefixLength(c => !c.isLetterOrDigit)
      var j = i - 1
      var found = ""
      while (j >= 0 && found.isEmpty) {
        val l = lines(j)
        if (indent(l) < indent(lines(i)) && l.contains("Join")) found = l
        j -= 1
      }
      assert(found.isEmpty || found.contains("BroadcastHashJoin"),
        s"base-label scan must feed a broadcast join, got: $found")
    }
  }

  test("ann_batch_ivf: probe list broadcast onto the corpus, no corpus cross") {
    // audit the BENCH build: the pure IVF path (the Verify build also
    // carries the exact-cross recall gate, which crosses by design)
    val p = SparkEntry.benchQueries("ann_batch_ivf")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the (query, cell) probe list meets the corpus through a
    // broadcast EQUI-join on cell — never a cross/nested-loop over
    // all queries, never a corpus hash shuffle for the queries
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the IVF path must not cross queries with the whole corpus:\n" + p.take(800))
  }

  test("cluster_assign: one map-side codegen'd assignment pass, no join") {
    val p = SparkEntry.benchQueries("cluster_assign")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the codebook rides as a literal inside the projection — the
    // whole assignment is scan → project; any join/aggregate means
    // the quantizer leaked into the data path
    assert(p.contains("graft_nearest_centroid"), p.take(800))
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "assignment must be a pure map pass:\n" + p.take(800))
  }

  test("ann_radius_ivf: bench probe is a partition-pruned scan of the cell layout") {
    val p = SparkEntry.benchQueries("ann_radius_ivf")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the isin(probed cells) predicate must land on the PARTITION
    // column of the at-rest layout — pruning file groups, not rows
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      "probe must prune cell partitions:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("ann_delta_search: bench = pruned base partitions + map-side delta scan") {
    val p = SparkEntry.benchQueries("ann_delta_search")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the persisted base must partition-prune on cell; the delta
    // branch is a plain filtered scan — no join, no shuffle anywhere
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      "base probe must prune cell partitions:\n" + p.take(1200))
    assert(!p.toLowerCase.contains("exchange"),
      "index+delta search is scan+union — nothing shuffles:\n" + p.take(1200))
    assert(p.contains("Union"), p.take(600))
  }

  test("embedding_quantize: stats broadcast, quantization a pure map pass — no data shuffle") {
    val p = plan("embedding_quantize")
    // per-dim min/max combine map-side into ONE row (the 128-expr agg
    // list is TRUNCATED in the plan string, so check partial_min only)
    // and ride back as a 1-row IdentityBroadcast cross — the ONLY
    // exchanges are that broadcast, the stats SinglePartition, and the
    // result's range sort: ZERO hash exchanges means the corpus is
    // never shuffled at any scale
    assert(p.contains("partial_min"), p.take(1200))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 0, s"quantization planned $hashEx hash exchanges:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "corpus must meet the 1-row stats frame via broadcast only:\n" + p.take(800))
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val ws = SparkEntry.queries("embedding_quantize")(spark, sfDir)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(ws.isEmpty, "quantization must not plan a window")
  }

  test("ngram_lm_score: partial-agg counts, equi-joins only, no windows") {
    val (nWin, _) = windowsPartitioned("ngram_lm_score")
    assert(nWin == 0, "LM scoring must not plan a window")
    val p = plan("ngram_lm_score")
    // bigram/unigram counts combine map-side before their exchanges;
    // the lookup meets the occurrence stream through a bg equi-join
    // (the one BroadcastNestedLoopJoin is the 1-row V frame's cross —
    // a broadcast of one row, not a data-path cross)
    assert(p.contains("partial_count"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "bg lookup must be an equi-join:\n" + p.take(800))
  }

  test("dedup_keep_best: keep selection windows per cluster, never globally") {
    val (nWin, allPart) = windowsPartitioned("dedup_keep_best")
    assert(nWin >= 1, "keep policy is a per-cluster rank window")
    assert(allPart, "every window must be partitioned (by cluster)")
  }

  test("source_stats: one partial-agg pass at scan speed") {
    val p = plan("source_stats")
    assert(p.contains("partial_count"), p.take(1200))
    assert(!p.contains("Join"), "rollup must not plan a join")
  }

  test("bpe_tokens: steady-state tokenization is a pure codegen'd map pass") {
    val p = SparkEntry.benchQueries("bpe_tokens")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the rank table rides as a broadcast handle inside the
    // expression — the apply pass is scan → project → local sort,
    // with no join, no aggregate, no exchange of the corpus
    assert(p.contains("graft_bpe_count"), p.take(800))
    assert(!p.contains("Join") && !p.contains("HashAggregate") &&
      !p.contains("Exchange"),
      "tokenization must not shuffle the corpus:\n" + p.take(800))
  }

  test("kmeans_step: map-side assignment + partial-agg update, no joins") {
    val p = SparkEntry.benchQueries("kmeans_step")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the codebook is a plan literal; the update's shuffle carries
    // (cell, dim) partial sums, never raw vectors
    assert(p.contains("graft_nearest_centroid"), p.take(800))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(1200))
    assert(!p.contains("Join"), "the Lloyd step must not plan a join:\n" + p.take(800))
  }

  test("dedup_phash: hash map-side, group table broadcast back — no corpus SMJ") {
    val p = SparkEntry.benchQueries("dedup_phash")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "group stats must broadcast onto the hash frame:\n" + p.take(800))
  }

  test("catalog_attach: auto-discovered catalog broadcast onto particles") {
    val p = plan("catalog_attach")
    // the Group table (dimension-scale) broadcasts; the particle scan
    // is never shuffled for it — add_groupquantity_to_particles' shape
    // survives the auto-discovery wiring
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // both-side aggregates combine map-side before their exchanges
    assert(p.contains("partial_count"), p.take(1200))
  }

  test("paircount_2pt: cell-key equi-join, never a product; O(bins) partial agg") {
    val p = plan("paircount_2pt")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "pair discovery must be the grid equi-join:\n" + p.take(800))
    assert(p.contains("partial_count"), p.take(1200))
  }

  test("density_cic: deposition is scan -> explode -> one partial agg, join-free") {
    val p = plan("density_cic")
    assert(!p.toLowerCase.contains("join"), p.take(800))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(1200))
  }

  test("pca_power_iter: one scan, no join, 64-key partial agg") {
    val p = plan("pca_power_iter")
    assert(!p.toLowerCase.contains("join"),
      "the matvec must not plan a join:\n" + p.take(800))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(1200))
    // exactly one pass over the embeddings
    assert("Scan parquet".r.findAllIn(p).length <= 1, p.take(800))
  }

  test("progenitor_match: argmax window partitioned; particles aggregate first") {
    val (nw, allPart) = windowsPartitioned("progenitor_match")
    assert(nw == 1 && allPart,
      "the rank window must partition by halo_a (catalog-sized input)")
    val p = plan("progenitor_match")
    assert(p.contains("partial_count"), p.take(1200))
  }

  test("bloom_join: codegen'd bloom probe prefilters the fact scan stage") {
    val p = plan("bloom_join")
    assert(p.contains("graft_bloom_might_contain"),
      "the runtime filter must sit in the plan as the native probe:\n" + p.take(800))
    // the probe must apply BEFORE the join (in the lineitem branch),
    // not after: index of the probe < index of the join operator
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && p.indexOf("graft_bloom_might_contain") > joinIdx,
      "probe filter must be below (printed after) the join:\n" + p.take(1500))
  }

  test("winsorize: boundary-literal clamp, one partial-agg pass, no join/window") {
    val p = plan("winsorize")
    assert(!p.toLowerCase.contains("join"),
      "boundaries are literals — no join:\n" + p.take(800))
    assert(windowsPartitioned("winsorize")._1 == 0)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(1200))
  }

  test("group_sample: two-phase topk aggregate, no per-group window") {
    val p = plan("group_sample")
    assert(p.contains("graft_topk_rows"), p.take(800))
    assert(windowsPartitioned("group_sample")._1 == 0,
      "per-group sampling must not plan a raw-row window")
  }

  test("interval_union: per-key windows partitioned; no re-exchange for islands") {
    val (nw, allPart) = windowsPartitioned("interval_union")
    assert(nw == 2 && allPart,
      "both sweep windows must partition by user_id")
    val p = plan("interval_union")
    // HashPartitioning(user_id) satisfies the (user_id, island) and
    // user_id groupings — one hash exchange total (plus the final
    // range exchange for the output orderBy)
    val hashEx = "hashpartitioning".r.findAllIn(p.toLowerCase).length
    assert(hashEx <= 1, s"expected one user_id hash exchange, got $hashEx:\n" + p.take(1500))
  }

  test("bfs_step: frontier expansion is equi-joins + partial min, never a product") {
    val p = plan("bfs_step")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
    assert(p.contains("partial_min"), p.take(1200))
    // the symmetrized edge set crosses its exchange as bit_or'd
    // adjacency words, never as row-per-edge distinct rows
    assert(p.contains("partial_bit_or"), p.take(1200))
    assert(p.contains("graft_bit_positions"), p.take(1200))
  }

  test("logreg_predict: weights broadcast onto the feature frame; margins partial-agg") {
    val p = plan("logreg_predict")
    // the 32-row model must broadcast (training's gradient path also
    // carries broadcasts, so assert the count stays small and no
    // cartesian/nested-loop leaks in beyond the scalar n_docs cross)
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      "only the scalar n_docs cross may nest-loop:\n" + p.take(1200))
    assert(p.contains("partial_sum"), p.take(1200))
    assert(windowsPartitioned("logreg_predict")._1 == 0)
  }

  test("pack_sequences_bpe: PrefixSum shape — no global window, counts map-side") {
    val p = plan("pack_sequences_bpe")
    assert(windowsPartitioned("pack_sequences_bpe")._1 == 0,
      "a global running-sum window would serialize the corpus into one task")
    assert(p.contains("graft_bpe_count"),
      "token counting must be the codegen'd broadcast-handle expression:\n"
        + p.take(1200))
    assert(!p.toLowerCase.contains("join"),
      "the tokenizer rides as a plan literal, never a vocab join:\n"
        + p.take(800))
  }

  test("dedup_substring_maximal: bounded per-hash aggregates; chain windows partitioned") {
    val p = plan("dedup_substring_maximal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
    // partner stats are aggregates (skew-safe O(1) state per hash),
    // never per-occurrence windows over the hash partitioning
    assert(p.contains("partial_min") || p.contains("partial_count"),
      p.take(1200))
    val (nw, allPart) = windowsPartitioned("dedup_substring_maximal")
    assert(nw == 1 && allPart,
      "exactly the per-(doc, partner, diagonal) chain window, partitioned")
  }

  test("pagerank_step: word-bitmap edge exchange; no row-per-edge distinct") {
    val p = plan("pagerank_step")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
    // the distinct edge set rides the (src, word) bit_or aggregate;
    // outdegrees are popcounts, contributions re-expand via the
    // codegen'd decoder — map-side partial combine everywhere
    assert(p.contains("partial_bit_or"), p.take(1200))
    assert(p.contains("bit_count"), p.take(1200))
    assert(p.contains("graft_bit_positions"), p.take(1200))
    assert(p.contains("partial_sum"), p.take(1200))
  }

  test("rouge_overlap: overlap is a (pair,bigram) equi-join; sizes partial-agg") {
    val p = plan("rouge_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
    assert(p.contains("partial_count"), p.take(1200))
  }

  test("power_spectrum: literal-table DFT — explode+partial agg, no join, no trig") {
    val p = plan("power_spectrum")
    assert(!p.toLowerCase.contains("join"),
      "k-probes ride as an exploded literal, not a join:\n" + p.take(800))
    assert(p.contains("partial_sum"), p.take(1200))
    assert(!p.toUpperCase.contains("COS("),
      "no engine trig in the data path — the literal table is the point")
  }

  test("anomaly_zscore: two partial-agg passes into the native stats expression — no windows, no joins") {
    val p = plan("anomaly_zscore")
    // the r9 form spent 4 partitioned windows + 3 broadcast joins on a
    // 5-row result; the robust stats now fold inside ONE expression
    // over each type's collected histogram
    assert(windowsPartitioned("anomaly_zscore")._1 == 0,
      "median/MAD must come from graft_hist_robust_stats, not windows")
    assert(!p.toLowerCase.contains("join"), p.take(800))
    assert(p.contains("partial_"),
      "the raw scan must partial-agg into the (type, value) histogram:\n" + p.take(1200))
    // the expression rides in the aggregate's resultExpressions, which
    // executedPlan.simpleString elides — assert on the logical plan
    assert(SparkEntry.queries("anomaly_zscore")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
      .contains("graft_hist_robust_stats"), p.take(1200))
  }

  test("window_rolling: one partitioned window, deterministic total order") {
    val (nw, allPart) = windowsPartitioned("window_rolling")
    assert(nw == 1 && allPart)
  }

  test("surface_density: z-collapse in grid key space — no join, partial aggs") {
    val p = plan("surface_density")
    assert(!p.toLowerCase.contains("join"), p.take(800))
    assert(p.contains("partial_sum"), p.take(1200))
  }

  test("triangle_count: 62KB adjacency masks broadcast; no wedge materialization") {
    val p = plan("triangle_count")
    assert(p.contains("BroadcastHashJoin"),
      "the mask table must broadcast onto the edges:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_sum"), p.take(1200))
    // edges ride the bit_or word exchange (probe side re-expands via
    // graft_bit_positions) and the intersection popcount is the
    // codegen'd loop, not an interpreted zip_with/aggregate fold
    assert(p.contains("partial_bit_or"), p.take(1200))
    assert(p.contains("graft_bit_positions"), p.take(1200))
    assert(p.contains("graft_and_popcount"), p.take(1200))
    assert(!p.contains("zip_with"), p.take(1200))
  }

  test("rank_match: ranks come from PrefixSum — no global window anywhere") {
    assert(windowsPartitioned("rank_match")._1 == 0,
      "a global row_number window would serialize the catalog into one task")
    val p = plan("rank_match")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("lsh_bucket_stats: bucket stats are two partial-agg passes, no window") {
    val p = plan("lsh_bucket_stats")
    assert(p.contains("partial_count"), p.take(1200))
    assert(windowsPartitioned("lsh_bucket_stats")._1 == 0)
  }

  test("vocab_coverage: vocab broadcast semi-join; coverage is partial aggs") {
    val p = plan("vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "the top-k vocab must broadcast as a semi-join:\n" + p.take(1200))
  }

  test("cooc_lift: integer lift ordering, equi-joins only, TakeOrdered top-k") {
    val p = plan("cooc_lift")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("CartesianProduct"),
      "only the 1-row total may cross in (as broadcast NLJ):\n" + p.take(800))
    assert(p.contains("partial_count"), p.take(1200))
  }

  test("bpe_pair_counts: corpus pass is the word count; top-20 is TakeOrdered") {
    val p = plan("bpe_pair_counts")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("partial_count"),
      "word counting must map-side combine:\n" + p.take(1200))
    assert(!p.toLowerCase.contains("join"), p.take(800))
  }

  test("dedup_lines: strip is ONE map-side pass — boiler rides as a plan literal, the corpus never shuffles") {
    // the >=minDocs statistic runs as its own bounded action (the
    // quantilesOf discipline); the RETURNED plan is scan → strip
    // expression → filter → output sort, with no join, no explode,
    // and no hash exchange at all
    val df = SparkEntry.queries("dedup_lines")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // join OPERATORS, not the string "join" (array_join appears in the
    // fixture expression text)
    for (op <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "CartesianProduct", "BroadcastNestedLoop"))
      assert(!p.contains(op), s"unexpected $op:\n" + p.take(1200))
    // exactly ONE Generate: the 1-element barrier explode that keeps
    // the isNotNull filter from re-inlining the strip below the
    // projection — NOT a per-line corpus explode
    assert("Generate".r.findAllIn(p).length == 1,
      "expected only the barrier Generate:\n" + p.take(1200))
    assert(!p.toLowerCase.contains("hashpartitioning"),
      "nothing about the corpus may shuffle (only the output range sort):\n" + p.take(1500))
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_strip_lines"),
      p.take(1200))
  }

  test("ann_filtered: the metadata predicate reaches the parquet scan") {
    val p = plan("ann_filtered")
    // pre-filter semantics require the label predicate BEFORE the
    // cosine — pushed into the scan, not applied post-ranking
    assert(p.contains("PushedFilters") && p.contains("EqualTo(label,1)"),
      "label predicate must push to the scan:\n" + p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("rrf_fusion: both branches end in top-k; fusion never sorts a corpus") {
    val p = plan("rrf_fusion")
    // lexical (BM25) and semantic (cosine) branches both reduce to
    // TakeOrdered top-k before fusion — the only windows are the two
    // rank windows over those <= 20-row frames
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      "both retrieval branches must end in TakeOrdered:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(windowsPartitioned("rrf_fusion")._1 == 2,
      "exactly the two bounded rank windows")
  }

  test("sample_diverse: assignment map-side, top-k two-phase — one bounded window") {
    val p = plan("sample_diverse")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // GroupTopK: per-partition first-k stream filter, then ONE window
    // over the <= partitions x cells x k survivors — partitioned
    val (nw, allPart) = windowsPartitioned("sample_diverse")
    assert(nw == 1 && allPart,
      s"expected GroupTopK's single partitioned survivor window, got $nw")
  }

  test("pipeline_funnel: one aggregate row unpivoted — no windows, no cartesian") {
    val p = plan("pipeline_funnel")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(windowsPartitioned("pipeline_funnel")._1 == 0,
      "funnel counts are aggregates, never windows")
    // the finish is ONE global aggregate row fanned out by stack
    assert(p.contains("Generate") || p.contains("stack"), p.take(1200))
  }

  test("perplexity_bucket: tercile thresholds broadcast back; windows partitioned by lang") {
    val p = plan("perplexity_bucket")
    // the 5-row threshold table must broadcast onto the scored frame,
    // and the LM's V scalar may nest-loop — nothing else
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the scalar V cross is the only conditionless join, and it lives
    // INSIDE the cached score subtree — the visible logical plan must
    // carry none (string-counting BNLJ is brittle: InMemoryRelation
    // reprints its cached child once per referencing branch, and the
    // reprint count depends on suite-order cache state)
    val condless = SparkEntry.queries("perplexity_bucket")(spark, sfDir)
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.isEmpty => j
      }
    assert(condless.isEmpty,
      s"no conditionless join outside the cached score subtree: $condless")
    // both cumulative windows run over the aggregate-sized histogram,
    // partitioned by lang — never over raw docs
    val (nw, allPart) = windowsPartitioned("perplexity_bucket")
    assert(nw == 2 && allPart,
      s"expected the two per-lang histogram windows, got $nw (partitioned=$allPart)")
  }
}
