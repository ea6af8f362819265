package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan regression guards: the scale-critical plan shapes
  * (pushdown, broadcast, top-k, partial aggregation) must survive
  * refactors — a correct-but-full-scan plan is a regression even when
  * results match. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString

  private def q(id: String): DataFrame = SparkEntry.queries(id)(spark, sf0001)

  /** The Query API over a date-partitioned SpanSchema parquet store (the
    * FIXTURES.md §B trace), read back the way users read one: the
    * registry's t* entries run the same methods over computed columns,
    * which no filter can reach the scan through. */
  private lazy val store: graft.spans.TraceService = {
    val dir = SparkSpec.tempDir("plan-spans")
    graft.spans.OtlpIngest.writeSpans(SpanFixtures.spans(spark), dir + "/s")
    new graft.spans.TraceService(
      graft.spans.OtlpIngest.readSpans(spark, dir + "/s"))
  }

  test("equality filters reach the parquet scan (PushedFilters)") {
    // TraceService.serviceTraces, the t02 entry's method
    val p = plan(store.serviceTraces("db"))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(scope_name,db)"), p)
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    // TraceService.topSlowTraces, the t01 entry's method
    val p = plan(store.topSlowTraces())
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("dim joins broadcast (no shuffle of the fact side)") {
    val p = plan(q("c3_dim_join"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("grouped aggregation is partial -> final (map-side combine)") {
    // the PLAN body: the registered t04 entry is a PlanMemo wrapper
    // whose read side is a parquet scan
    val p = plan(graft.operators.Relational
      .endpointLatenciesPlan(spark, sf0001))
    assert(p.contains("partial_"), p)
  }

  test("scan prunes columns to what the query reads") {
    val p = plan(q("b1_projection"))
    // only the three projected columns reach ReadSchema
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_shipdate"), p)
    assert(!p.contains("l_returnflag"), p)
  }

  test("q3 does not broadcast the barely-filtered orders side") {
    // orders retains ~97% of rows after the date filter: a forced
    // broadcast is fact-sized and OOMs at 100x. AQE may still choose a
    // broadcast from RUNTIME stats at tiny SF — what must be gone is the
    // static ResolvedHint-driven exchange, so assert on the pre-AQE plan.
    val df = graft.operators.Relational.shippingPriority(spark, sf0001)
    val analyzed = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan.toString
    assert(!analyzed.contains("ResolvedHint"), analyzed)
    assert(!analyzed.toLowerCase.contains("broadcast"), analyzed)
  }

  test("q1 is one pass: pushed date filter, partial->final agg, no " +
    "join, no window, no extra exchange") {
    val p = plan(q("q1_pricing_summary"))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("q17 decorrelates to ONE per-part window over the broadcast-" +
    "filtered join — no aggregate-join-back, no second fact scan") {
    val p = plan(q("q17_small_quantity"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // one scan of lineitem only — count SCAN NODES whose location is
    // the lineitem table (raw substring frequency was brittle against
    // plan-format changes and could admit two differently-spelled scans)
    val lineitemScans = p.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1, p)
  }

  test("q21 decorrelates the double EXISTS to one fact pass: single " +
    "lineitem scan, top-k compiled, dims broadcast") {
    val p = plan(q("q21_waiting_suppliers"))
    val lineitemScans = p.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("t08 computes per-trace avg with ONE exchange (window, no broadcast)") {
    // TraceService.traceList, the t08 entry's method
    val p = plan(store.traceList())
    assert(!p.contains("BroadcastExchange"), p)
    // window on trace_id + groupBy on trace_id share one hash partitioning
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n$p")
  }

  test("v14/v15 windows over raw documents never partition by source alone") {
    // a source-only window funnels an entire source (terabytes at 100x)
    // through ONE task; the only admissible source-only windows are the
    // ones over frames that are small BY CONSTRUCTION — i.e. sitting on
    // top of an Aggregate (the 4096-bucket histogram, the per-shard
    // totals). Check the logical plan: every Window whose subtree has no
    // Aggregate below it is over raw documents rows and must carry a
    // second partition key (bucket / shard).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
    // raw-scale = some path from the window down to a leaf never crosses
    // an Aggregate (so full input rows flow into it); a window whose
    // every input path passes an Aggregate is over a reduced frame
    def rawBelow(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false
      case n if n.children.isEmpty => true
      case n => n.children.exists(rawBelow)
    }
    Seq("v14_sample_mix", "v15_token_packing").foreach { id =>
      val lp = q(id).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.optimizedPlan
      val rawWindows = lp.collect {
        case w: LWindow if rawBelow(w.child) => w
      }
      assert(rawWindows.nonEmpty, s"$id: expected a raw-data window")
      rawWindows.foreach { w =>
        assert(w.partitionSpec.size >= 2,
          s"$id: raw-data window partitions by ${w.partitionSpec} only")
      }
    }
  }

  test("v17 bucketed join carries no exchange on either fact side") {
    // at 100 TB neither side broadcasts, so pin the non-broadcast
    // regime: with broadcast off, the bucketed layout alone must make
    // the join exchange-free (the only shuffle is the 5-group agg)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(graft.operators.LayoutOps.bucketedJoin(spark, sf0001))
      assert(p.contains("SortMergeJoin"), p)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1,
        s"expected only the aggregate exchange, got $exchanges\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("w1 as-of join is one window shuffle, zero join operators") {
    val p = plan(q("w1_asof_join"))
    assert(!p.contains("Join"), p) // union+window form: no join at all
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one user_id exchange, got $exchanges\n$p")
  }

  test("w2 range join is a hash/merge join on the bucket key, not BNLJ") {
    val p = plan(q("w2_range_join"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("w3 merge is union + one key-window: no join, one hash exchange") {
    val p = plan(q("w3_merge_upsert"))
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one key exchange, got $exchanges\n$p")
  }

  test("w4 rollup rides ONE scan/shuffle with Expand + partial agg") {
    val p = plan(q("w4_rollup_agg"))
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one group exchange, got $exchanges\n$p")
  }

  test("w13 cube rides ONE scan/shuffle with Expand + partial agg") {
    val p = plan(q("w13_cube"))
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one group exchange, got $exchanges\n$p")
  }

  test("w5 explicit-values pivot is the two-stage keyed aggregate " +
    "(no join, no distinct-values discovery job)") {
    // Spark plans pivot as (day,type) count -> pivotfirst on (day):
    // both exchanges are keyed and map-side combined, and the second
    // moves only days x types rows. The explicit value list is what
    // keeps a separate distinct-values collect job out entirely.
    val p = plan(q("w5_pivot"))
    assert(!p.contains("Join"), p)
    assert(p.contains("pivotfirst"), p)
    assert(p.contains("partial_"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected the two pivot exchanges, got $exchanges\n$p")
  }

  test("v19 bm25 is top-k (TakeOrderedAndProject) with broadcast " +
    "df/totals — no sort-merge join of the corpus") {
    val p = plan(q("v19_bm25_search"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("v22 substring pair join is a keyed join, never nested-loop") {
    // PLAN bodies (the registered entries are PlanMemo readers)
    import graft.dedup.DedupOps
    Seq("v22" -> DedupOps.substringDupsPlan(spark, sf0001, 5),
        "v22b" -> DedupOps.substringDupsWinnowedPlan(spark, sf0001))
      .foreach { case (id, df) =>
        val p = plan(df)
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$id\n$p")
        assert(!p.contains("CartesianProduct"), s"$id\n$p")
      }
  }

  test("v18 quantization is a zero-exchange linear projection") {
    val p = plan(q("v18_embedding_quantize"))
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("v2d exact pair join is block-partitioned, not a nested-loop broadcast") {
    val p = plan(q("v2d_embedding_neardup"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    // build side must be the blocked side (N/B rows per task), never the
    // replicated side whose every block holds the full table
    assert(p.contains("BuildLeft"), p)
  }

  test("v26 winsorize broadcasts the fence table back, never a shuffle " +
    "join of events against 5 rows") {
    val p = plan(q("v26_winsorize"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("v28 hash split is a pure map + one partial/final aggregate " +
    "(no join, no window)") {
    val p = plan(q("v28_hash_split"))
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(p.contains("partial_"), p)
  }

  test("u6 conversion lag pays exactly ONE join (the purchase-vs-" +
    "first-view probe) — first_view rides the aggregate, no re-join") {
    val p = plan(q("u6_conversion_lag"))
    assert("Join".r.findAllIn(p).length === 1, p)
  }

  test("w9 path mining is a lead-window, never a per-user self-join") {
    val p = plan(q("w9_path_ngrams"))
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("v27 rare-bigrams joins occurrences to counts on the bigram " +
    "KEY (hash join; broadcast at test SF, keyed shuffle beyond it)") {
    val p = plan(q("v27_rare_bigrams"))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("v35/w12 windows run over domain-bounded aggregates, never raw " +
    "event rows") {
    // same guard as v14/v15: a Window whose subtree reaches a leaf
    // without crossing an Aggregate sees data-sized partitions — these
    // two must aggregate onto the bin/hour grid FIRST. A Range leaf is
    // the domain-bounded calendar frame, not raw data.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Range => LRange, Window => LWindow}
    def rawBelow(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false
      case _: LRange => false
      case n if n.children.isEmpty => true
      case n => n.children.exists(rawBelow)
    }
    Seq("v35_drift", "w12_gap_fill", "v40_token_budget").foreach { id =>
      val lp = q(id).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.optimizedPlan
      val windows = lp.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"$id: expected a window")
      windows.foreach(w => assert(!rawBelow(w.child),
        s"$id: window over raw event rows\n$w"))
    }
  }

  test("w11 trend is join-light power sums: no window, partial->final " +
    "aggregation, and the day-frame joins never go nested-loop on the " +
    "fact side") {
    val p = plan(q("w11_trend"))
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("w15 trailing-distinct expansion is an explode, never a " +
    "nested-loop range join against the calendar frame") {
    val p = plan(q("w15_stickiness"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), p) // the sequence-explode fan-out
  }

  test("v36 MAD broadcasts both fence tables back, never a shuffle " +
    "join of events against 5 rows") {
    val p = plan(q("v36_mad_outliers"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("w13b leaf-reaggregate cube carries NO Expand — one scan, " +
    "subtotals from the bounded leaf frame") {
    val p = plan(q("w13b_cube_leaf_reagg"))
    assert(!p.contains("Expand"), p)
    assert(p.contains("partial_"), p)
  }

  test("v66 curation DAG: each stage scans its own input once — the " +
    "composite never rescans a stage's table, and the entry runs off " +
    "the one materialized ledger") {
    // the LEDGER's plan: composition may only add the base doc scan to
    // each stage's own registered scan budget (gates 1 + v16's 2 for
    // documents; v16b's 2 + v50's 3 for embeddings)
    val lp = plan(graft.nlp.CurationDagOps.verdictLedger(spark, sf0001))
    val docScans = lp.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("documents"))
    assert(docScans <= 4, s"documents scanned $docScans times\n$lp")
    val embScans = lp.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("embeddings"))
    assert(embScans <= 7, s"embeddings scanned $embScans times\n$lp")
    // the ENTRY's plan: packing windows, provenance aggregate and mix
    // totals all read the checkpointed ledger — zero raw-table rescans
    val ep = plan(q("v66_curation_dag"))
    val rawScans = ep.linesIterator.count(l =>
      l.contains("Scan parquet") &&
        (l.contains("documents") || l.contains("embeddings")))
    assert(rawScans == 0, s"entry rescans raw tables\n$ep")
  }

  test("v65 shard manifest plans no global sort: shard identity comes " +
    "from the bucketed prefix-sum, not a range-partitioned order-by") {
    val p = plan(q("v65_shard_manifest"))
    // a global sort materializes as an Exchange rangepartitioning
    // below a Sort; the final ORDER BY on the ≤|shards| manifest frame
    // is the only admissible range exchange
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(p).length
    assert(rangeEx <= 1, s"expected at most the final ORDER BY, got $rangeEx\n$p")
    // and the prefix-sum windows are keyed, never constant-partitioned
    // over raw rows (the global sweep also guards this)
    assert(p.contains("Window"), p)
  }

  test("v69 benchmark scrub probes via a broadcast semi-join — the " +
    "corpus side never shuffles against the benchmark hash set") {
    val p = plan(q("v69_benchmark_scrub"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("v70 erasure downdate is union + re-aggregate: no join, " +
    "map-side combined") {
    val p = plan(q("v70_erasure_downdate"))
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_"), p)
  }

  test("w23 rank prefix sums run two-level: every window is keyed or " +
    "sits on the bounded bucket-total aggregate, never a single-task " +
    "pass over the value frame") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
    val lp = q("w23_mann_whitney")
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan
    val windows = lp.collect { case w: LWindow => w }
    assert(windows.size === 2, s"expected the two-level pair\n$lp")
    // constant-partitioned windows admissible only over a frame that
    // re-aggregates (the bucket totals); the value-frame window must
    // carry the bucket key
    def aggDepth(p: LogicalPlan): Int = {
      val self = p match { case _: Aggregate => 1; case _ => 0 }
      self + (if (p.children.isEmpty) 0 else p.children.map(aggDepth).max)
    }
    windows.foreach { w =>
      if (w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable))
        // the offset window: its input must be the bucket-total
        // re-aggregate (two Aggregates below: value-frame + bucket)
        assert(aggDepth(w.child) >= 2, s"offset window over raw frame\n$w")
      else
        assert(w.partitionSpec.nonEmpty, w.toString)
    }
  }
}
