package graft

import graft.queries.Catalog

/** Plan-shape regression tests: the scale properties OPERATORS.md and
  * SCALE.md claim are asserted here against the actual physical plans,
  * so an accidental change that un-pushes a filter, loses a broadcast,
  * or adds a shuffle fails the suite instead of surfacing at 100 TB.
  * (sf0.001 inputs — plan shape, not timing.)
  */
class PlanAssertionsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Catalog.byName(name).run(spark, dir).queryExecution.executedPlan.toString

  private def countOf(haystack: String, needle: String): Int =
    haystack.sliding(needle.length).count(_ == needle)

  test("q01: filters push to the parquet scan; schema is pruned") {
    val p = plan("q01_filter_project")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("l_shipdate"), "shipdate filter not pushed")
    // pruned read: the scan must not materialize unprojected columns
    assert(!p.contains("l_returnflag"), "scan reads columns the query never uses")
  }

  test("q04: dimension chain joins are broadcast, not shuffled") {
    val p = plan("q04_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), "dim join fell back to SMJ")
  }

  test("q03: exactly two hash exchanges, both over pre-aggregated data") {
    val p = plan("q03_join_topk")
    assert(countOf(p, "Exchange hashpartitioning") == 2,
      s"expected 2 hash exchanges:\n${p.take(3000)}")
    assert(p.contains("TakeOrderedAndProject"), "top-k lost its TakeOrdered rewrite")
  }

  test("q40: both window passes and the aggregate share one hash exchange") {
    val p = plan("q40_sessionize")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"sessionize should shuffle once on user_id:\n${p.take(3000)}")
  }

  test("q44: candidate join is broadcast-pruned hash join, big side scans once") {
    val p = plan("q44_ivf_ann")
    assert(p.contains("BroadcastHashJoin"), "IVF candidate join must be broadcast hash")
    // the only non-hash join allowed is the intentional 10x10
    // query-by-centroid cross; the corpus-sized side must never SMJ
    assert(!p.contains("SortMergeJoin"), "candidate join fell back to SMJ")
    assert(countOf(p, "BroadcastNestedLoopJoin") <= 1,
      "unexpected second nested-loop join")
  }

  test("q47: the full ranking/analytic family runs in a single Window operator") {
    val p = plan("q47_analytic_windows")
    // exactly one Window node — all seven analytics (lag/lead/ntile/
    // percent_rank/cume_dist/running sum/first) share the (partition,
    // order) pair, so a second Window appearing means the frames split
    assert(countOf(p, "Window ") == 1,
      s"expected exactly 1 Window operator:\n${p.take(3000)}")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"analytic windows should shuffle once:\n${p.take(3000)}")
  }

  test("q52: PII redaction is shuffle-free row-local work up to the final sort") {
    val p = plan("q52_pii_redact")
    assert(!p.contains("Exchange hashpartitioning"),
      s"redaction pass must not shuffle:\n${p.take(3000)}")
  }

  test("q55: PMI joins vocab and totals by broadcast; only the two counting aggs shuffle") {
    val p = plan("q55_pmi_bigrams")
    assert(!p.contains("SortMergeJoin"),
      s"vocab/totals joins must broadcast, not SMJ:\n${p.take(3000)}")
    // bigram counts + unigram counts (x2 reuse) + totals: every
    // hashpartitioning exchange must come from a counting aggregate,
    // never from a join
    assert(p.contains("BroadcastHashJoin"), "unigram join-back lost its broadcast")
  }

  test("q60: bloom prefilter evaluates the sketch once and filters before the join") {
    val p = plan("q60_bloom_join")
    // the sketch is a scalar subquery (executed once, driver-side
    // reuse), not a per-row join; the fact-side filter must sit below
    // the join so the shuffle sees only probable matches
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      s"bloom sketch lost its scalar-subquery shape:\n${p.take(3000)}")
    assert(p.contains("might_contain"), "bloom pre-filter missing from the plan")
    assert(!p.contains("SortMergeJoin"),
      s"selective dim join should broadcast after prefilter:\n${p.take(3000)}")
  }

  test("q68: time-range rolling window shuffles once on user_id") {
    val p = plan("q68_time_rollavg")
    assert(countOf(p, "Window ") == 1,
      s"avg+count must share one Window operator:\n${p.take(3000)}")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"rolling window should shuffle once:\n${p.take(3000)}")
  }

  test("q72: rolling distinct users expands map-side — no range join, no SMJ") {
    val p = plan("q72_rolling_distinct")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"day expansion must stay an equi/semi join:\n${p.take(3000)}")
    assert(p.contains("Generate explode") || p.contains("Generate"),
      "map-side day expansion (explode) missing")
  }

  test("q78: top-k aggregate splits partial/final — map side reduces before the exchange") {
    val p = plan("q78_topk_agg")
    assert(p.contains("partial_topkaggregator"),
      s"TopKAggregator lost its partial (map-side) phase:\n${p.take(3000)}")
    // partial must sit BELOW the hash exchange in the plan text
    // (executed plans print top-down: final agg, exchange, partial)
    val exch = p.indexOf("Exchange hashpartitioning")
    val part = p.indexOf("partial_topkaggregator")
    assert(exch >= 0 && part > exch,
      s"partial aggregation did not run before the shuffle:\n${p.take(3000)}")
  }

  test("q80: lateral LIMIT decorrelates to WindowGroupLimit with a map-side partial limit") {
    val p = plan("q80_lateral_topn")
    // Catalyst must rewrite the correlated LIMIT'd subquery into a
    // rank-limited window (DomainJoin decorrelation), not a per-outer-
    // row re-execution: no nested-loop join over customer allowed.
    assert(p.contains("WindowGroupLimit"),
      s"lateral top-n lost its WindowGroupLimit rewrite:\n${p.take(3000)}")
    // partial (map-side) group-limit must run below the exchange, so
    // the shuffle carries at most k rows per (region) group per map
    val exch = p.indexOf("Exchange hashpartitioning")
    val part = p.lastIndexOf("WindowGroupLimit")
    assert(exch >= 0 && part > exch,
      s"no partial WindowGroupLimit before the shuffle:\n${p.take(3000)}")
  }

  test("q82: BM25 df/stats join by broadcast; only counting aggregates shuffle") {
    val p = plan("q82_bm25")
    assert(!p.contains("SortMergeJoin"),
      s"df/corpus-stats joins must broadcast:\n${p.take(3000)}")
    assert(p.contains("TakeOrderedAndProject"), "top-20 lost its TakeOrdered rewrite")
  }

  test("q85: winsorize broadcasts the percentile frame over the facts") {
    val p = plan("q85_winsorize")
    assert(p.contains("BroadcastHashJoin"), "percentile join-back must broadcast")
    assert(!p.contains("SortMergeJoin"), s"fact side must not SMJ:\n${p.take(3000)}")
  }

  test("q86: grid and cell joins stay broadcast; facts shuffle only for the cell aggregate") {
    val p = plan("q86_dense_grid")
    assert(!p.contains("SortMergeJoin"),
      s"grid/cell joins must broadcast, not SMJ:\n${p.take(3000)}")
  }

  test("catalog-wide: NO query plans an unpartitioned WindowExec") {
    // The standing invariant of docs/probes/windowscan_r16.txt: every window in
    // every catalog query carries a DEFINED partition spec — real keys
    // for corpus-grain windows, WindowPins.gpin for intentionally
    // single-group windows over bounded (grain-collapsed) frames. An
    // empty spec is either a corpus-grain single-task funnel (a scale
    // bug) or a missing pin (re-introduces the WindowExec warning that
    // buries real regressions) — both fail here, naming the query.
    // AQE off for the scan only: AdaptiveSparkPlanExec is a leaf
    // wrapper that collect() cannot see through; window partitioning
    // is decided before AQE, so the verdict is identical.
    import org.apache.spark.sql.execution.window.WindowExec
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val offenders = Catalog.all.flatMap { q =>
        val bare = q.run(spark, dir).queryExecution.executedPlan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        if (bare.isEmpty) Nil else Seq(s"${q.name} (${bare.size})")
      }
      assert(offenders.isEmpty,
        s"unpartitioned WindowExec in: ${offenders.mkString(", ")}")
    } finally spark.conf.set(key, prev)
  }

  test("dup-span family: no window ever partitions by the gram hash") {
    // The skew-safety claim of q174-q177 (OPERATORS.md/SCALE.md): the
    // duplicate predicates are AGGREGATIONS on the gram hash (map-side
    // combinable under any skew), and windows run only at document
    // grain — a window partitioned by `h` would put a boilerplate
    // gram's every occurrence into ONE task, the exact single-task
    // funnel this family is designed around.
    import org.apache.spark.sql.execution.window.WindowExec
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      for (name <- Seq("q174_dupspan_coverage", "q175_dupspan_dedup",
                       "q176_source_leakage", "q177_incremental_dupspan",
                       "q178_dupspan_apply")) {
        val windows = Catalog.byName(name).run(spark, dir)
          .queryExecution.executedPlan.collect { case w: WindowExec => w }
        assert(windows.nonEmpty, s"$name: expected the interval-union window")
        // Positive allowlist, not a hash-name blacklist: a renamed or
        // cast-wrapped hash key would dodge a literal `h#NN` match,
        // but it can never pass "every partition key is one of the
        // document-grain attributes".
        val allowed = Set("doc_id", "src", "src_other")
        windows.foreach { w =>
          val names = w.partitionSpec.map(e =>
            e.toString.takeWhile(c => c != '#'))
          assert(names.contains("doc_id"),
            s"$name: window not at document grain: ${names.mkString(",")}")
          names.foreach { n =>
            assert(allowed(n),
              s"$name: window partitioned outside the document grain: $n")
          }
        }
      }
    } finally spark.conf.set(key, prev)
  }

  test("q89: rank/cumsum windows run over the TakeOrdered top-40, never the full vocabulary") {
    val p = plan("q89_vocab_coverage")
    // the query consumes ranks <= 40 only, so the top-40 must come out
    // of a distributed sort+limit (per-partition top-40, one bounded
    // merge) — NOT a rank-then-filter over every token type (heavy-
    // tailed: billions of types on a web corpus, one task)
    assert(p.contains("TakeOrderedAndProject(limit=40"),
      s"top-40 must be a distributed TakeOrdered:\n${p.take(3000)}")
    // exactly one Window, and it must carry a DEFINED partition spec
    // (the constant g): an unpartitioned window here means the
    // full-vocab single-task rank regression came back
    assert(countOf(p, "Window [") == 1, s"expected one Window:\n${p.take(3000)}")
    assert(p.contains("], [g#"),
      s"coverage window lost its defined partition spec:\n${p.take(3000)}")
    // executed plans print top-down: the Window must consume the
    // TakeOrdered frame, i.e. appear ABOVE it in the same subtree
    assert(p.indexOf("Window [") < p.indexOf("TakeOrderedAndProject"),
      s"window does not read the TakeOrdered frame:\n${p.take(3000)}")
    // the grand total rides a broadcast onto 8 checkpoint rows
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross") ||
           p.contains("BroadcastExchange IdentityBroadcastMode"),
      s"one-row total must broadcast, not shuffle:\n${p.take(3000)}")
  }

  test("q121: vocab id window runs over the TakeOrdered top-1000, never the full token-type frame") {
    val p = plan("q121_vocab_encode")
    assert(p.contains("TakeOrderedAndProject(limit=1000"),
      s"vocab must be a distributed top-1000, not rank-then-filter:\n${p.take(3000)}")
    assert(countOf(p, "Window [") == 1, s"expected one Window:\n${p.take(3000)}")
    assert(p.contains("], [g#"),
      s"vocab id window lost its defined partition spec:\n${p.take(3000)}")
    assert(p.indexOf("Window [") < p.indexOf("TakeOrderedAndProject"),
      s"window does not read the TakeOrdered frame:\n${p.take(3000)}")
    // the 1000-row vocab must broadcast back over the exploded corpus
    assert(p.contains("BroadcastHashJoin"), "vocab join-back must broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"corpus side must not SMJ on tok:\n${p.take(3000)}")
  }

  test("q90: bigram count joins broadcast back over the exploded corpus") {
    val p = plan("q90_bigram_nll")
    assert(!p.contains("SortMergeJoin"),
      s"bigram/unigram count joins must broadcast:\n${p.take(3000)}")
  }

  test("q59: salted join replicates the small side without a wide-side extra shuffle") {
    val p = plan("q59_salted_join")
    // (key, salt) equi-join: the big side shuffles once for the join
    // and once for the final aggregate at most; the replicated small
    // side must stay broadcast-or-small
    assert(countOf(p, "Exchange hashpartitioning") <= 2,
      s"salted join added unexpected shuffles:\n${p.take(3000)}")
  }

  test("q110: pair counting runs at vocab grain — two aggs, no join") {
    val p = plan("q110_bpe_merge")
    assert(!p.contains("Join"), s"BPE merge step must not join:\n${p.take(3000)}")
    // corpus→vocab agg + pair agg; the top-20 is TakeOrdered, not a sort
    assert(countOf(p, "Exchange hashpartitioning") == 2, p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), "top-20 lost its TakeOrdered rewrite")
  }

  test("q112: group stats broadcast back over the facts — no SMJ, no second fact shuffle") {
    val p = plan("q112_zscore_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "stats join fell back to SMJ")
  }

  test("q115: CMS probe reads the sketch as one scalar subquery, no join") {
    val p = plan("q115_cms_heavy_hitters")
    assert(!p.contains("Join"),
      s"probe path must not join the sketch:\n${p.take(3000)}")
    assert(p.contains("Subquery"), "sketch should attach as a scalar subquery")
  }

  test("q117: centroids broadcast back; only positional/label aggs shuffle") {
    val p = plan("q117_embedding_dispersion")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "centroid join-back fell back to SMJ")
  }

  test("q119: six-table star join — facts SMJ once, every dimension broadcasts") {
    val p = plan("q119_local_supplier_rev")
    // lineitem⋈orders is the only shuffle join; region/nation/customer/
    // supplier chains all broadcast with their filters pushed
    assert(countOf(p, "SortMergeJoin") <= 1, s"extra shuffle join:\n${p.take(3000)}")
    assert(countOf(p, "BroadcastHashJoin") >= 2, p.take(3000))
    assert(p.contains("PushedFilters"), "dim filters not pushed to scans")
  }

  test("q150: both snapshots come out of ONE keyed aggregate — single hash exchange, no window") {
    val p = plan("q150_snapshot_diff")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"snapshot diff must shuffle once on user_id:\n${p.take(3000)}")
    assert(!p.contains("Window "),
      s"the naive two-window spelling crept back in:\n${p.take(3000)}")
  }

  test("q145: PCA projection is map-only — no hash exchange, no window") {
    // the moments pass runs inside Pca.fit (its own job); the RETURNED
    // plan is the projection, which must stay a pure map stage up to
    // the final presentation sort (one range exchange, nothing keyed)
    val p = plan("q145_pca_project")
    assert(!p.contains("Exchange hashpartitioning"),
      s"PCA projection must not shuffle by key:\n${p.take(3000)}")
    assert(!p.contains("Window "), p.take(3000))
  }

  test("q151: threshold table broadcasts back; no window over document rows") {
    val p = plan("q151_quality_calibrate")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source thresholds must broadcast, not shuffle the docs:\n${p.take(3000)}")
    assert(!p.contains("Window "),
      s"calibration must be agg+join, not a per-source rank window:\n${p.take(3000)}")
  }

  test("q152: boilerplate detection is pure hash-aggregates — distinct-expand shuffles, no join") {
    // count(DISTINCT source) legitimately plans as (digest, source)
    // pre-agg then digest agg: two hash exchanges, both partial-agg'd
    val p = plan("q152_boilerplate_prefix")
    assert(countOf(p, "Exchange hashpartitioning") == 2,
      s"expected the two distinct-expand exchanges only:\n${p.take(3000)}")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n${p.take(3000)}")
  }

  test("q153: redundancy accounting is two cascaded aggs — two exchanges, no join/window") {
    val p = plan("q153_ngram_redundancy")
    assert(countOf(p, "Exchange hashpartitioning") == 2,
      s"expected (source,digest) then (source) exchanges only:\n${p.take(3000)}")
    assert(!p.contains("Join") && !p.contains("Window "), p.take(3000))
  }

  test("q154: decay scoring is one fact shuffle — reference agg broadcasts, top-k rewrite kept") {
    val p = plan("q154_decay_score")
    // the 1-row reference instant joins via BroadcastNestedLoopJoin
    // (legitimate: one row), the per-user agg is the only fact shuffle
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"decay scoring must shuffle once on user_id:\n${p.take(3000)}")
    assert(p.contains("TakeOrderedAndProject"), "top-50 lost its TakeOrdered rewrite")
    assert(!p.contains("Window "), "no window belongs in this plan")
  }

  test("q155: MaxSim is two cascaded aggs over a broadcast interaction — no SMJ") {
    val p = plan("q155_maxsim")
    assert(countOf(p, "Exchange hashpartitioning") == 2,
      s"expected (vec,qi) then (vec) agg exchanges only:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"query sub-vectors must broadcast:\n${p.take(3000)}")
    assert(p.contains("TakeOrderedAndProject"), "top-10 lost its TakeOrdered rewrite")
  }

  test("q156: Mahalanobis stats broadcast back onto the exploded frame") {
    val p = plan("q156_mahalanobis_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"the |labels|x64 moments table must broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(countOf(p, "Exchange hashpartitioning") == 2,
      s"moments agg + per-vector agg are the only exchanges:\n${p.take(3000)}")
  }

  test("q157: CDF windows run at (source, score) grain through PrefixScan") {
    val p = plan("q157_cdf_normalize")
    // round 8: cume_dist decomposed — the cumulative runs over the
    // (source, score) GRAIN keyed by (source, PrefixScan pid); no
    // |sources|-partition window over fact-scale rows remains
    assert("windowspecdefinition\\(source#\\d+, __ps_pid#\\d+, score#\\d+ ASC".r
      .findFirstIn(p).isDefined,
      s"grain cumulative is not partition-parallel:\n${p.take(3000)}")
    assert(!p.contains("cume_dist"),
      "fact-scale cume_dist window reappeared")
    // the group-total annotate-back must stay a broadcast — a lost
    // hint would silently SMJ the null-safe join at fact scale
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"CumeDist total join lost its broadcast:\n${p.take(3000)}")
    assert(countOf(p, "Exchange SinglePartition") == 0, p.take(3000))
  }

  test("q70: ntile decomposed — rank windows run at (lang, pid) grain through PrefixScan") {
    val p = plan("q70_decile_stats")
    // round 8: the per-lang ntile is a closed form over a PrefixScan
    // rank; the cumulative must be keyed by (lang, pid), never a bare
    // |languages|-partition window over the corpus
    // (n_chars, doc_id) ordering: n_chars drives the pid, doc_id is
    // the tie-break — no composite-key arithmetic in the plan
    assert(("windowspecdefinition\\(lang#\\d+, __ps_pid#\\d+, " +
      "n_chars#\\d+L ASC NULLS FIRST, doc_id#\\d+L ASC").r
      .findFirstIn(p).isDefined,
      s"rank cumulative is not partition-parallel:\n${p.take(3000)}")
    assert(!p.contains("ntile"), "fact-scale ntile window reappeared")
    // the group-size annotate-back must stay a broadcast
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"Ntile size join lost its broadcast:\n${p.take(3000)}")
    assert(countOf(p, "Exchange SinglePartition") == 0, p.take(3000))
  }

  test("q77: packing cumsum runs at (lang, pid) grain through PrefixScan") {
    val p = plan("q77_sequence_pack")
    // a bare (lang)-keyed running sum holds a whole language stream in
    // ONE task — the q160-class funnel this round removed
    assert("windowspecdefinition\\(lang#\\d+, __ps_pid#\\d+, doc_id#\\d+L ASC".r
      .findFirstIn(p).isDefined,
      s"packing cumsum is not partition-parallel:\n${p.take(3000)}")
    assert(countOf(p, "Exchange SinglePartition") == 0, p.take(3000))
  }

  test("q170: epoch-shard layout — md5 placement map-side, one (epoch, shard) exchange serves window AND agg") {
    val p = plan("q170_epoch_shuffle")
    // position window keyed by (epoch, shard) — width is the
    // shard-size knob, and the manifest agg reuses its clustering
    assert("windowspecdefinition\\(epoch#\\d+L?, shard#\\d+L?, h#\\d+ ASC".r
      .findFirstIn(p).isDefined,
      s"position window must key on (epoch, shard):\n${p.take(3000)}")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"manifest agg must reuse the (epoch, shard) clustering:\n${p.take(3000)}")
    assert(countOf(p, "Exchange SinglePartition") == 0, p.take(3000))
  }

  test("q159: gap islands — lag, running sum and BOTH aggs share one user shuffle") {
    val p = plan("q159_gap_islands")
    // chg feeds island (dependent window exprs -> two Window nodes),
    // but partition/order are identical and hashpartitioning(user_id)
    // satisfies both downstream aggs' distributions: one exchange total
    assert(countOf(p, "Window ") == 2, p.take(3000))
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"islands must not re-shuffle after the window pass:\n${p.take(3000)}")
  }

  test("catalog-wide: no CartesianProduct — every cross is a broadcast of a bounded frame") {
    // BroadcastNestedLoopJoin over a tiny aggregate (corpus totals,
    // one-row size frames) is fine; a shuffled CartesianProduct means
    // a cross join whose BOTH sides the planner thinks are large —
    // always a mistake in this catalog, and the kind that only shows
    // at scale. (Static plans: AQE may further improve joins at
    // runtime, but a static CartesianProduct is already a bug.)
    Catalog.all.foreach { q =>
      val p = q.run(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"${q.name}: CartesianProduct in plan:\n${p.take(2000)}")
    }
  }

  test("catalog-wide: every unpartitioned window runs over an aggregated frame") {
    // The aggregate-then-window discipline, asserted as an invariant
    // over EVERY catalog query: an ordered window with no partition
    // keys is a single-task stage, so it may only ever see a frame an
    // aggregate has already collapsed to bounded grain (vocab, days,
    // partition maxima...) — never scan/join output, whose width grows
    // with the corpus. This is the class of regression that made q105
    // and q160 round-7 weak-list items.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // round 8 closed the last exception: q84's exact global ntile now
    // runs through Ntile.closed (PrefixScan rank + closed-form bucket
    // rule), so the invariant holds with NO exceptions.
    val allowed = Set.empty[String]
    // a ReusedExchange is a leaf pointing at the original exchange —
    // look through it or the aggregate behind a reused shuffle hides
    def hasAgg(p: SparkPlan): Boolean = p.exists {
      case _: BaseAggregateExec => true
      case r: ReusedExchangeExec => hasAgg(r.child)
      case _ => false
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Catalog.all.filterNot(q => allowed(q.name)).foreach { q =>
      val p = q.run(spark, dir).queryExecution.executedPlan
      p.foreach {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          assert(hasAgg(w.child),
            s"${q.name}: unpartitioned window over a non-aggregated frame:\n" +
              w.treeString.take(2000))
        case _ =>
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q105: skyline prefix max is partition-parallel; only the P-row merge is global") {
    val p = plan("q105_skyline")
    // the big ordered window must be keyed by PrefixScan's
    // quantile-derived pid — a bare Window.orderBy(price) here is a
    // single-task WindowExec over every distinct price. (Round 8
    // replaced repartitionByRange+spark_partition_id with the
    // value-derived pid: the sampled range bounds were only consistent
    // between the local and carry branches while the planner reused
    // the exchange.)
    assert("windowspecdefinition\\(__ps_pid#\\d+, sk_c#\\d+ ASC".r.findFirstIn(p).isDefined,
      s"grain prefix max is not partition-parallel:\n${p.take(3000)}")
    assert(p.contains("hashpartitioning(__ps_pid"),
      "grain is not partitioned by the quantile pid")
    assert(!p.contains("rangepartitioning(sk_c"),
      "sampled range partitioning of the grain reappeared — pid must be value-derived")
    // NOTHING in the presented plan is single-partition: the P-row
    // prefix-max merge runs in PrefixScan's bounded carry collect (a
    // separate ≤P-row action), and its result enters the plan as a
    // literal map lookup, not a join
    assert(countOf(p, "Exchange SinglePartition") == 0,
      s"the carry merge must not run in the main plan:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), "annotate-back join must broadcast")
    assert(!p.contains("SortMergeJoin"), "annotate-back join fell back to SMJ")
  }

  test("q160: weighted median windows over the collapsed grain, not the fact table") {
    val p = plan("q160_weighted_median")
    // the cumulative window must be keyed by (flag, PrefixScan pid):
    // a bare (flag)-keyed window holds |distinct prices per flag| rows
    // in ONE task per flag — near-continuous values at scale make that
    // the same funnel the grain collapse removed from the fact table.
    // (The grain agg itself materializes in PrefixScan's pinned
    // checkpoint job, upstream of this plan.)
    assert(("windowspecdefinition\\(l_returnflag#\\d+, __ps_pid#\\d+, " +
        "v#\\d+ ASC").r.findFirstIn(p).isDefined,
      s"grain cumulative is not partition-parallel:\n${p.take(3000)}")
    // group totals broadcast back — not a whole-partition window; the
    // carry enters as PrefixScan's literal map lookup, not a join
    assert(countOf(p, "BroadcastHashJoin") >= 1,
      s"totals join must broadcast:\n${p.take(3000)}")
    assert(countOf(p, "Exchange SinglePartition") == 0,
      s"nothing in this plan may be single-partition:\n${p.take(3000)}")
    // the old row-level spelling sorted the window by (price,
    // orderkey, linenumber); the grain form never reads the tiebreak
    // columns at all
    assert(!p.contains("l_orderkey"),
      "fact-table tiebreak columns reached the plan — window is row-level again")
    // the only joins are PrefixScan's broadcast carry + the broadcast
    // group totals — nothing shuffles for a join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a shuffled join crept into the grain plan")
  }

  test("q161: dedup savings is survivor-window + one source agg, no join") {
    val p = plan("q161_dedup_savings")
    assert(countOf(p, "Window ") == 1, p.take(3000))
    assert(countOf(p, "Exchange hashpartitioning") == 2,
      s"fingerprint window + source agg are the only exchanges:\n${p.take(3000)}")
    assert(!p.contains("Join"), "no join belongs in this plan")
  }

  test("q162: all five regression stats share ONE Window pass") {
    val p = plan("q162_rolling_slope")
    // a withColumn chain left 5 Window nodes here (interleaved
    // Projects block CollapseWindow); the single-select spelling is
    // one node, one exchange — this pin keeps it that way
    assert(countOf(p, "Window ") == 1,
      s"n/sx/sy/sxy/sxx must share one Window node:\n${p.take(3000)}")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"rolling slope must shuffle once on user_id:\n${p.take(3000)}")
  }

  test("sweep: no headline query plans a non-broadcast cartesian product") {
    // CartesianProductExec is the plan shape that cannot survive a
    // 100 TB input on either side: both sides fully materialize and
    // pair per-partition. Broadcast variants (BroadcastNestedLoopJoin
    // over a scalar/one-row frame) are legitimate and NOT flagged.
    val offenders = Catalog.headline.flatMap { q =>
      val p = Catalog.byName(q.name).run(spark, dir)
        .queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"non-broadcast cartesian products in: ${offenders.mkString(", ")}")
  }
}
