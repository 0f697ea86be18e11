package graft

import org.apache.spark.sql.functions._

/** Scale-behavior smoke: replicate sf0.1 lineitem/orders 10x (~6 M /
  * 1.5 M rows) with shifted keys — NOT an oracle input, purely a
  * plan-behavior probe — and time the agg / join / window shapes.
  * Near-linear scaling vs the sf0.1 bench numbers means the plans
  * have no accidental O(n^2) or single-task bottleneck; AQE handles
  * partition sizing.
  *
  * Usage: runMain graft.ScaleSmoke [factor] [probeSubstring...]
  * With substrings, only probes whose tag contains one of them run
  * (dev iteration / high-factor spot probes — e.g. `30 pack ntile`
  * runs the packing and ntile shapes at 30x without paying for the
  * quadratic-by-nature probes at that factor).
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    // a non-numeric first arg is a probe filter at the default factor
    // (the usage string shows factor as optional)
    val factor = args.headOption
      .flatMap(a => scala.util.Try(a.toInt).toOption).getOrElse(10)
    val only: Seq[String] =
      (if (args.headOption.exists(a => scala.util.Try(a.toInt).isSuccess))
         args.drop(1) else args).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Graft.session(s"local[$cpus]", cpus.toInt)
    import spark.implicits._

    val dir = "/root/testdata/sf0.1"
    def replicate(df: org.apache.spark.sql.DataFrame, keyCols: Seq[String]) = {
      val shifted = df.withColumn("__rep", explode(sequence(lit(0), lit(factor - 1))))
      keyCols.foldLeft(shifted) { (d, k) =>
        d.withColumn(k, col(k) + col("__rep") * lit(100000000L))
      }.drop("__rep")
    }
    // cache the replicated inputs so the timings measure the query,
    // not the on-the-fly data generation. LAZY: a filtered run builds
    // only the inputs its probes touch — at factor 100 eagerly caching
    // every input (~150 M rows across six frames) creates exactly the
    // block-manager pressure the canary exists to flag, and skews the
    // few probes the filter selected (measured round 9: join_agg at
    // 154 s under all-inputs pressure vs 27 s in the full round-8 run)
    def cached(name: String)(build: => org.apache.spark.sql.DataFrame) = {
      lazy val d = {
        val df = build.cache()
        println(s"SCALE inputs $name=${df.count()}")
        df
      }
      () => d
    }
    val liF = cached("lineitem")(
      replicate(graft.sources.Tables.lineitem(spark, dir), Seq("l_orderkey")))
    val ordF = cached("orders")(
      replicate(graft.sources.Tables.orders(spark, dir), Seq("o_orderkey", "o_custkey")))
    def li = liF(); def ord = ordF()

    // Host-state canary (the bench's q02 discipline brought to the
    // probe tables): q02's scan+agg+exchange shape over the
    // UNREPLICATED sf0.1 lineitem — constant work at EVERY factor —
    // re-timed after each probe, so a probe table is self-describing
    // about host state (docs/SCALE.md's 100x rows were measured under
    // the same contention the bench canary flags). Reading a table:
    // a probe whose adjacent canary ratio is >~4 moved because the
    // HOST moved, not the plan.
    val liBase = graft.sources.Tables.lineitem(spark, dir).cache()
    liBase.count()
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      liBase.groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity"), avg($"l_extendedprice")).count()
      (System.nanoTime() - t0) / 1e9
    }
    // Second flavor: a WIDE-ROW repartition of the same cached base —
    // every column travels through one real exchange (shuffle write +
    // read of ~tens of MB), so this one senses DISK/shuffle-bandwidth
    // contention that the cached-CPU agg canary is blind to (measured
    // round 9: global-rank and window probes read 2× round-8 values
    // while the agg canary sat at 0.88-1.11 — the host's disk, not
    // the plans, had moved).
    def canaryShuffleOnce(): Double = {
      val t0 = System.nanoTime()
      liBase.repartition(32, $"l_orderkey")
        .groupBy($"l_linenumber").agg(count(lit(1))).count()
      (System.nanoTime() - t0) / 1e9
    }
    canaryOnce(); canaryShuffleOnce() // warm (janino)
    var canaryMin = canaryOnce()
    var canaryShMin = canaryShuffleOnce()
    println(f"SCALE canary_base $canaryMin%.2f s shuffle_base $canaryShMin%.2f s")
    def canaryCheck(): Unit = {
      val s = canaryOnce()
      val sh = canaryShuffleOnce()
      println(f"SCALE canary $s%.2f s ratio=${s / math.max(canaryMin, 1e-3)}%.2f " +
        f"shuffle $sh%.2f s ratio=${sh / math.max(canaryShMin, 1e-3)}%.2f")
      canaryMin = math.min(canaryMin, s)
      canaryShMin = math.min(canaryShMin, sh)
    }

    // Single-shot timer — used directly for stateful merges, where a
    // second identical run would hit the replay fence
    // (SnapshotDiffView) or re-append (WinnowIngest).
    def timeOnce(tag: String)(f: => Long): Unit =
      if (only.isEmpty || only.exists(tag.contains)) {
        val t0 = System.nanoTime(); val n = f
        println(f"SCALE $tag rows=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
        canaryCheck()
      }

    def time(tag: String)(f: => Long): Unit = if (only.isEmpty || only.exists(tag.contains)) {
      f // warm (janino)
      // quiesce point: the warm run's plan-pinned checkpoints
      // (PrefixScan/CosinePairs.clustered) are fully consumed — drop
      // them so probes measure their own work, not accumulation
      graft.operators.Checkpoints.releaseAll()
      timeOnce(tag)(f)
      graft.operators.Checkpoints.releaseAll()
    }

    time(s"agg_${factor}x") {
      li.groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity"), sum($"l_extendedprice" * (lit(1.0) - $"l_discount")))
        .count()
    }
    time(s"join_agg_${factor}x") {
      li.groupBy($"l_orderkey").agg(sum($"l_extendedprice").as("rev"))
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_custkey").agg(sum($"rev"))
        .count()
    }
    // Hot-key SKEW shapes (the brief's "skewed keys -> salting or AQE
    // skew-join", measured): 20% of the fact side collapsed onto ONE
    // order key, then (a) the direct fact⋈dim join — one SMJ partition
    // would hold that 20% alone; AQE skew-join must split it at
    // runtime — and (b) the same join through SkewJoin.saltedInner,
    // the explicit spread for non-AQE contexts. Compare both against
    // join_agg_<f>x for the absorbed-skew premium. The groupBy-first
    // spelling is deliberately NOT probed as "skew": map-side partial
    // aggregation already collapses a hot GROUP key before the
    // shuffle, which is why agg skew needs no salting at all.
    def hotLi = li.withColumn("l_orderkey",
      when(pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(5)) === 0, lit(7L))
        .otherwise($"l_orderkey"))
    time(s"skew_join_aqe_${factor}x") {
      hotLi.join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_custkey").agg(sum($"l_extendedprice")).count()
    }
    time(s"skew_join_salted_${factor}x") {
      graft.operators.SkewJoin.saltedInner(
          hotLi.select($"l_orderkey", $"l_extendedprice"),
          ord.select($"o_orderkey", $"o_custkey"),
          "l_orderkey", "o_orderkey", buckets = 8)
        .groupBy($"o_custkey").agg(sum($"l_extendedprice")).count()
    }
    // The HYBRID pattern SkewJoin's doc recommends: detect the hot
    // keys (here known: key 7), salt ONLY those — the replicated right
    // side is |hot keys| rows, not |right| — and plain-join the rest.
    time(s"skew_join_hybrid_${factor}x") {
      val l = hotLi.select($"l_orderkey", $"l_extendedprice")
      val r = ord.select($"o_orderkey", $"o_custkey")
      val cold = l.filter($"l_orderkey" =!= 7L)
        .join(r, $"l_orderkey" === $"o_orderkey")
      val hot = graft.operators.SkewJoin.saltedInner(
        l.filter($"l_orderkey" === 7L), r.filter($"o_orderkey" === 7L),
        "l_orderkey", "o_orderkey", buckets = 32)
      cold.unionByName(hot)
        .groupBy($"o_custkey").agg(sum($"l_extendedprice")).count()
    }
    time(s"window_${factor}x") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc)
      ord.withColumn("rn", row_number().over(w)).filter($"rn" <= 3).count()
    }
    // gap-sessionization shape — the SAME operator as q40
    // (operators.Sessionize), on 15x its row count
    time(s"sessionize_${factor}x") {
      // o_orderdate reads as TIMESTAMP_NTZ here; session TZ is pinned
      // UTC so the cast is an identity relabel
      graft.operators.Sessionize.stats(
        ord.select($"o_custkey",
          unix_millis($"o_orderdate".cast("timestamp")).as("tms"), $"o_orderkey"),
        keyCol = "o_custkey", tmsCol = "tms", tieCol = "o_orderkey",
        gapMs = 30L * 86400000L)
        .count()
    }
    // IVF-probe shape — the SAME operator as q44 (operators.IvfAnn):
    // centroid build + broadcast-pruned candidate join, ~nprobe/nlist scan
    val embF = cached("embeddings")(
      replicate(graft.sources.Tables.embeddings(spark, dir), Seq("vec_id"))
        .withColumn("label", pmod(xxhash64($"vec_id"), lit(10)).cast("int")))
    def emb = embF()
    time(s"ivf_ann_${factor}x") {
      import graft.functions.{VectorFunctions => VF}
      graft.operators.IvfAnn.topK(
        emb.select($"vec_id", $"label", VF.asDouble($"embedding").as("v")),
        isQuery = $"vec_id" < 10, nprobe = 2, k = 5)
        .count()
    }
    // top-k aggregate shape — the SAME operator as q78: the shuffle
    // after partial aggregation carries O(groups x k) rows however
    // large the fact side grows
    time(s"topk_agg_${factor}x") {
      val topk = udaf(new graft.functions.TopKAggregator(3))
      ord.groupBy(pmod($"o_custkey", lit(5000)).as("g"))
        .agg(topk($"o_totalprice", $"o_orderkey").as("top"))
        .select(posexplode($"top")).count()
    }
    // clustered semantic-dedup shape — CosinePairs.clustered (the
    // SemDeDup ≥10⁹-vector route) on the replicated embeddings:
    // k-means blocks cut the pair arithmetic ~k-fold vs the exact
    // kernel, so 10x rows stay far from 100x pair time
    time(s"semdedup_clustered_${factor}x") {
      import graft.functions.{VectorFunctions => VF}
      graft.operators.CosinePairs.clustered(
        emb.select($"vec_id", VF.asDouble($"embedding").as("v"))
          .as[(Long, Array[Double])],
        threshold = 0.4, k = 64, iters = 2).count()
    }
    // skyline shape — the SAME operator as q105 on 10x orders: local
    // prefix max parallel across range partitions, the only global
    // ordered pass is the P-row partition-maxima merge — time follows
    // the grain agg, not a single-task window over distinct prices
    time(s"skyline_${factor}x") {
      graft.operators.Skyline.frontier(
        ord.select($"o_orderkey", $"o_totalprice", $"o_orderdate"),
        cost = $"o_totalprice", gain = $"o_orderdate").count()
    }
    // fuzzy-join shape — the SAME operator as q61 on a 10x supplier
    // dimension: candidate volume follows signature collisions, not n^2
    val supF = cached("supplier")(replicate(
      graft.sources.Tables(spark, dir, "supplier"), Seq("s_suppkey")))
    def sup = supF()
    time(s"fuzzy_join_${factor}x") {
      graft.operators.FuzzyJoin
        .editDistance1SelfJoin(sup, "s_suppkey", "s_name").count()
    }
    // chunk-dedup shape — the SAME plan as q81 on a replicated corpus:
    // one shuffle keyed by chunk text; replication multiplies the
    // duplicate rate (every chunk now exists >= factor times), which
    // is the worst case for the survivorship window's skew
    val docsF = cached("documents")(replicate(
      graft.sources.Tables.documents(spark, dir), Seq("doc_id")))
    def docs = docsF()
    time(s"chunk_dedup_${factor}x") {
      import org.apache.spark.sql.expressions.Window
      val ch = docs
        .select($"doc_id", split($"text", " ").as("ts"))
        .select($"doc_id", posexplode(expr(
          """transform(sequence(0, cast(ceil(size(ts)/10.0) as int) - 1),
             i -> array_join(slice(ts, i*10+1, 10), ' '))""")).as(Seq("pos", "chunk")))
      val w = Window.partitionBy($"chunk").orderBy($"doc_id", $"pos")
      ch.withColumn("rn", row_number().over(w))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n"), sum(when($"rn" === 1, 1L).otherwise(0L)).as("kept"))
        .count()
    }
    // BM25 shape — q82's plan: tf explode pruned to query terms BEFORE
    // the shuffle, df/corpus stats broadcast back
    time(s"bm25_${factor}x") {
      val tok = docs.select($"doc_id", graft.functions.TextFunctions.tokens($"text").as("ts"))
      val dl = tok.select($"doc_id", size($"ts").cast("double").as("dl"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n"), avg($"dl").as("avgdl"))
      val tf = tok.select($"doc_id", explode($"ts").as("term"))
        .filter($"term".isin("spark", "join", "merge"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).cast("double").as("tf"))
      val df = tf.groupBy($"term").agg(count(lit(1)).cast("double").as("df"))
      tf.join(broadcast(df), "term").join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("contrib",
          log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) * $"tf" * 2.2 /
            ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")))
        .groupBy($"doc_id").agg(sum($"contrib")).count()
    }
    // global-rank shape — the SAME operator as q118's rankings: a
    // range-partitioned sort + zipWithIndex, no single-partition
    // WindowExec however large the input
    time(s"global_rank_${factor}x") {
      graft.operators.GlobalRank
        .withRank(ord.select($"o_orderkey", $"o_totalprice"),
          "rk", $"o_totalprice".desc, $"o_orderkey")
        .count()
    }
    // skip-gram shape — q124's plan: the ×2 pair expansion happens
    // inside the scan (transform-with-index), only pair counts shuffle
    time(s"skipgram_${factor}x") {
      val pairCols = (1 to 2).map { d =>
        expr(s"""transform(slice(toks, 1, greatest(size(toks) - $d, 0)),
                (x, i) -> named_struct(
                  'w1', least(x, element_at(toks, i + 1 + $d)),
                  'w2', greatest(x, element_at(toks, i + 1 + $d))))""")
      }
      docs.withColumn("toks", graft.functions.TextFunctions.tokens(lower($"text")))
        .select(explode(concat(pairCols: _*)).as("p"))
        .filter($"p.w1" =!= $"p.w2")
        .groupBy($"p.w1", $"p.w2").agg(count(lit(1)))
        .count()
    }
    // equi-depth sketch shape — q84's production spelling
    // (EquiDepth.approxHistogram): percentile sketch partials + one
    // agg shuffle, no global sort
    time(s"equidepth_approx_${factor}x") {
      graft.operators.EquiDepth
        .approxHistogram(ord.select($"o_totalprice"), col("o_totalprice"), 10)
        .count()
    }
    // equi-depth EXACT shape — q84's oracle contract through
    // Ntile.closed (round 8): PrefixScan rank instead of the
    // single-partition global ntile window; replica-shifted order
    // keys keep the tie-break total
    time(s"equidepth_exact_${factor}x") {
      graft.operators.EquiDepth
        .exactHistogram(ord, col("o_totalprice"), col("o_orderkey"), 10)
        .count()
    }
    // KS-drift shape — q129's plan on a 10x corpus: the cumulative
    // windows run over the (source x distinct-value) grid, which does
    // NOT grow with replication — only the counting scan does
    time(s"ks_drift_${factor}x") {
      import org.apache.spark.sql.expressions.Window
      val c = docs.groupBy($"source", $"n_chars".as("v")).agg(count(lit(1)).as("n"))
      val tot = c.groupBy($"v").agg(sum($"n").as("nv"))
      val grid = docs.select($"source").distinct()
        .crossJoin(broadcast(tot))
        .join(c, Seq("source", "v"), "left").na.fill(0L, Seq("n"))
      val wc = Window.partitionBy($"source").orderBy($"v")
      val wp = Window.partitionBy($"source")
      grid.withColumn("cs", sum($"n").over(wc)).withColumn("ct", sum($"nv").over(wc))
        .withColumn("ns", sum($"n").over(wp)).withColumn("nt", sum($"nv").over(wp))
        .groupBy($"source")
        .agg(max(abs($"cs".cast("double") / $"ns" -
          ($"ct" - $"cs").cast("double") / ($"nt" - $"ns"))))
        .count()
    }
    // PQ ANN shape — the SAME operator as q139 (operators.PqAnn):
    // Lloyd training + encode scale linearly in corpus x codebook;
    // the ADC scan carries m code rows per corpus vector and the
    // exact rescore touches only the shortlist
    time(s"pq_ann_${factor}x") {
      import graft.functions.{VectorFunctions => VF}
      graft.operators.PqAnn.topK(
        emb.select($"vec_id", VF.asDouble($"embedding").as("v")),
        isQuery = $"vec_id" < 10, m = 8, subDim = 8, k = 5)
        .count()
    }
    // blocked-ER shape — q138's plan with the block key salted by the
    // replica id: models corpus growth at CONSTANT block granularity
    // (the design lever at scale — block sizes stay bounded, total
    // pairs grow linearly with block count, never |corpus|^2)
    val partsF = cached("part") {
      val p = graft.sources.Tables(spark, dir, "part")
        .withColumn("__rep", explode(sequence(lit(0), lit(factor - 1))))
      p.withColumn("p_partkey", $"p_partkey" + $"__rep" * lit(100000000L))
        .withColumn("p_brand", concat($"p_brand", lit("#r"), $"__rep"))
        .drop("__rep")
    }
    def parts = partsF()
    time(s"jw_block_${factor}x") {
      val blocked = parts.withColumn("blk",
        concat($"p_brand", lit("|"), split($"p_name", " ").getItem(0)))
      val a = blocked.select($"p_partkey".as("k1"), $"p_name".as("n1"), $"blk")
      val b = blocked.select($"p_partkey".as("k2"), $"p_name".as("n2"),
                             $"blk".as("blk2"))
      a.join(b, $"blk" === $"blk2" && $"k1" < $"k2" && $"n1" =!= $"n2")
        .withColumn("jw", graft.functions.JaroWinkler($"n1", $"n2"))
        .filter($"jw" >= 0.88)
        .count()
    }
    // triangle shape — q140's oriented wedge join on a graph that
    // replicates as `factor` disjoint copies (order AND part keys
    // shifted): wedge volume scales with edges x degree, linear here
    val lp2F = cached("lp")(
      replicate(graft.sources.Tables.lineitem(spark, dir),
                Seq("l_orderkey", "l_partkey"))
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct())
    def lp2 = lp2F()
    time(s"triangles_${factor}x") {
      val e = lp2.as("a").join(lp2.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
        .groupBy($"a.p".as("u"), $"b.p".as("v"))
        .agg(count(lit(1)).as("c")).filter($"c" >= 2)
        .select($"u", $"v")
      e.as("e1").join(e.as("e2"), $"e2.u" === $"e1.v")
        .join(e.as("e3"), $"e3.u" === $"e1.u" && $"e3.v" === $"e2.v")
        .count()
    }
    // winnow shape — q149's plan: gram hashing + trailing-window min
    // are per-doc map/window work; replication multiplies every
    // fingerprint's df by `factor`, so this measures the df ≤ 20
    // hot-key guard holding the pair join bounded under the WORST
    // case (every doc duplicated `factor` times)
    time(s"winnow_${factor}x") {
      val sel = graft.operators.Winnow
        .selectFingerprints(docs, "text", "doc_id")
      graft.operators.Winnow
        .overlapPairs(sel, "doc_id", minShared = 3L, maxDf = Some(20L))
        .count()
    }
    // label-prop shape — q147's one round with the SAME 10 k suppliers
    // but `factor`x customers: supplier degree grows with factor, the
    // hub-skew case the node-keyed shuffles + AQE must absorb
    time(s"label_prop_${factor}x") {
      val edges = li.select($"l_orderkey", $"l_suppkey")
        .join(ord.select($"o_orderkey", $"o_custkey"), $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".cast("long").as("src"),
                ($"o_custkey" + 1000000000L).as("dst"))
        .distinct()
      val seeds = edges.select($"src".as("node")).distinct()
        .withColumn("lbl", pmod($"node", lit(25)))
      graft.operators.LabelPropagation.propagate(edges, seeds, maxRounds = 1).count()
    }
    // PCA moments shape — q145's fit on the full-width 64-dim
    // embeddings: the shuffle carries one d + d(d+1)/2 buffer per map
    // partition however many rows feed it
    time(s"pca_fit_${factor}x") {
      import graft.functions.{VectorFunctions => VF}
      graft.operators.Pca.fit(
        emb.select(VF.asDouble($"embedding").as("v")), $"v", dim = 64, k = 4).n
    }
    // MaxSim shape — q155's late-interaction rescorer on the factor-x
    // corpus: the 8 query sub-vectors broadcast, the 64-dot
    // interaction matrix is map-side, both aggs partial-combine —
    // cost is one linear corpus pass however many vectors
    time(s"maxsim_${factor}x") {
      import graft.functions.{VectorFunctions => VF}
      val e = emb.select($"vec_id", VF.asDouble($"embedding").as("e"))
      def subs = array((0 until 8).map(i => slice($"e", i * 8 + 1, 8)): _*)
      val docSubs = e.filter($"vec_id" =!= 1)
        .select($"vec_id", posexplode(subs)).toDF("vec_id", "dj", "dsub")
      val qSubs = e.filter($"vec_id" === 1)
        .select(posexplode(subs)).toDF("qi", "qsub")
      docSubs.crossJoin(broadcast(qSubs))
        .select($"vec_id", $"qi", graft.functions.VectorFunctions.dot($"dsub", $"qsub").as("d"))
        .groupBy($"vec_id", $"qi").agg(max($"d").as("m"))
        .groupBy($"vec_id").agg(sum($"m").as("s"))
        .orderBy($"s".desc).limit(10).count()
    }
    // winnow-offsets shape — q158's full plan: the span-pair flagging
    // (same guarded overlap join as the winnow probe above) PLUS the
    // two position-attach joins. Replication is the worst case for the
    // df ≤ 20 guard (every fingerprint's df multiplies by `factor`),
    // and the position joins must stay proportional to |flagged pairs|,
    // never corpus-wide — that proportionality is what this times.
    time(s"winnow_offsets_${factor}x") {
      val W = graft.operators.Winnow
      val selP = W.selectedPositions(docs, "text", "doc_id")
      val sel = selP.select($"doc_id", $"h").distinct()
      val ok = sel.groupBy($"h").agg(count(lit(1)).as("df"))
        .filter($"df" <= 20).select($"h")
      val pairs = W.overlapPairs(sel, "doc_id", minShared = 3L, maxDf = Some(20L))
        .select($"doc_a", $"doc_b")
      pairs
        .join(selP.join(ok, "h")
          .select($"doc_id".as("doc_a"), $"pos".as("pa"), $"h"), Seq("doc_a"))
        .join(selP
          .select($"doc_id".as("doc_b"), $"pos".as("pb"), $"h"), Seq("doc_b", "h"))
        .count()
    }
    // weighted-median shape — q160's production spelling
    // (WeightedQuantile.exact): value-grain collapse FIRST, then the
    // cumulative window over (flag, price) grain. Replication adds NO
    // new prices, so the window's partitions hold the same ~|distinct
    // prices per flag| rows at any factor — only the collapsing scan
    // grows. Sub-linear scaling here is the point of the round-8 fix
    // (the old spelling funneled a third of the fact table per task).
    time(s"weighted_median_${factor}x") {
      graft.operators.WeightedQuantile.exact(
          li, Seq("l_returnflag"), $"l_extendedprice", $"l_quantity", q = 0.5)
        .count()
    }
    // sequence-packing shape — q77's production spelling: the running
    // sum goes through PrefixScan's (lang, quantile-pid) local windows
    // + bounded carry merge. Replication multiplies every language
    // stream by `factor`; the probe times the claim that no task ever
    // holds a whole stream (the retired per-lang window's failure mode).
    time(s"seq_pack_${factor}x") {
      graft.operators.PrefixScan.scan(
          docs.select($"doc_id", $"lang",
            graft.functions.TextFunctions.tokenCount($"text").as("ntok")),
          Seq("lang"), "doc_id", "ntok", "cum", "sum", 32)
        .select((($"cum" - $"ntok") / 2048).cast("long").as("b")).count()
    }
    // closed-form ntile shape — q70's decomposition, through the SAME
    // operators.Ntile.closed the query runs (one bucket formula, one
    // place): PrefixScan rank over n_chars with doc_id tie-break +
    // broadcast group sizes + the bucket rule in arithmetic.
    time(s"ntile_closed_${factor}x") {
      graft.operators.Ntile.closed(
          docs.select($"lang", $"n_chars", $"doc_id"),
          Seq("lang"), "n_chars", Seq("doc_id"), 10, "decile", 32)
        .groupBy($"lang", $"decile").agg(count(lit(1)))
        .count()
    }
    // CDF-normalize shape — q157's decomposition: (source, score)-grain
    // tie counts, PrefixScan cumulative over the GRAIN, broadcast
    // totals. Replication multiplies tie counts but adds no new scores,
    // so the cumulative's input does not grow — only the counting scan
    // and the annotate-back join do.
    time(s"cdf_normalize_${factor}x") {
      val toks = graft.functions.TextFunctions.tokens($"text")
      val sc = docs.select($"doc_id", $"source",
        (size(array_distinct(toks)).cast("double") / size(toks)).as("score"))
      graft.operators.CumeDist.annotate(sc, Seq("source"), "score", "cs", "nr", 32)
        .select(least(floor($"cs" / $"nr" * 10), lit(9L)).as("decile"))
        .groupBy($"decile").agg(count(lit(1)))
        .count()
    }
    // epoch-shard layout shape — q170's plan with the shard count
    // scaled WITH the corpus (nshards = 8 x factor): the per-(epoch,
    // shard) position window's width is the shard-size knob, so 10x
    // docs across 10x shards must hold per-task width flat — the
    // design claim that distinguishes this window from the
    // fixed-cardinality funnels the PrefixScan sweep removed.
    time(s"epoch_shard_${factor}x") {
      import org.apache.spark.sql.expressions.Window
      val nSh = 8 * factor
      val e = docs.select($"doc_id")
        .withColumn("epoch", explode(sequence(lit(0L), lit(2L))))
        .withColumn("h", md5(concat($"epoch".cast("string"), lit(":"),
          $"doc_id".cast("string"))))
        .withColumn("shard",
          conv(substring($"h", 1, 4), 16, 10).cast("long") % nSh)
      val w = Window.partitionBy($"epoch", $"shard").orderBy($"h", $"doc_id")
      e.withColumn("pos", row_number().over(w).cast("long"))
        .groupBy($"epoch", $"shard")
        .agg(count(lit(1)).as("n_docs"), max($"pos").as("max_pos"))
        .count()
    }
    // phash near-dup shape — q164's plan on a corpus where every
    // replica's payload is PERTURBED (a per-replica suffix shifts the
    // aHash sample grid), so growth means new distinct hashes — the
    // realistic corpus-growth case for the 16-bit-block bucketing, as
    // opposed to byte-identical copies, which would measure the
    // degenerate all-replicas-collide bucket instead of the join.
    time(s"phash_${factor}x") {
      val docsP = docs.withColumn("text",
        concat($"text", lit(" x"), floor($"doc_id" / 100000000L).cast("string")))
      val media = graft.multimodal.Multimodal.fromDocuments(
        docsP.select($"doc_id", $"text"))
      val hashed = graft.multimodal.Multimodal.avgHash64(media)
      val blocks = hashed.select($"doc_id", $"phash",
        explode(array((0 until 4).map(b => struct(lit(b).as("blk"),
          shiftright($"phash", b * 16).bitwiseAND(lit(65535L)).as("key"))): _*)).as("bk"))
        .select($"doc_id", $"phash", $"bk.blk", $"bk.key")
      val left = blocks.select($"blk", $"key", $"doc_id".as("doc_a"), $"phash".as("pa"))
      val right = blocks.select($"blk".as("blk2"), $"key".as("key2"),
        $"doc_id".as("doc_b"), $"phash".as("pb"))
      left.join(right,
          $"blk" === $"blk2" && $"key" === $"key2" && $"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b", $"pa", $"pb").distinct()
        .withColumn("ham", expr("CAST(bit_count(pa ^ pb) AS BIGINT)"))
        .filter($"ham" <= 6)
        .count()
    }
    // full curation funnel — q166's plan on the replicated corpus:
    // byte-identical replicas are the WORST duplicate load, and the
    // funnel's exact-dedup stage absorbs them before the expensive
    // PPJoin ever sees them — near-dup input stays ~1x-corpus-sized
    // however many exact copies arrive. The end-to-end cost should
    // track the row-local scan, not the pair stages.
    time(s"pretrain_funnel_${factor}x") {
      graft.pipelines.PretrainPipeline.run(docs).manifest.count()
    }
    // BPE training shape — operators.BpeTrain: the corpus-scale work
    // is ONE token-count pass; replication multiplies corpus rows but
    // the VOCABULARY (distinct words) is unchanged, so the 3 training
    // rounds run over an identical symbol table and the probe should
    // scale only with the initial count — the fastBPE claim
    time(s"bpe_train_${factor}x") {
      val (merges, vocab) = graft.operators.BpeTrain.train(docs, "text", k = 3)
      merges.size.toLong + vocab.count()
    }
    // Incremental streaming merges against a factor-x state. The
    // snapshot-diff merge reads and rewrites only the buckets its delta
    // touches (the bucketed-vs-whole-state trade is measured in
    // docs/probes/incmerge_inplace_vs_manifest.txt and
    // plain_vs_manifest_r8.txt). The winnow ingest probe IS
    // batch-proportional: history never self-joins.
    // a filtered run must also skip these sections' heavy SETUP
    // (state builds outside the timers), not just their timed bodies.
    // The gate takes the section's INNER probe tags, so a filter that
    // names any probe inside (not just the shared prefix) still runs
    // the section.
    def section(tags: String*)(body: => Unit): Unit =
      if (only.isEmpty || tags.exists(t => only.exists(t.contains))) body
    val smokeRoot: String =
      java.nio.file.Files.createTempDirectory("scalesmoke").toString
    section(s"snapshot_diff_bucketed_delta_vs_${factor}x_state") {
      val evAll = replicate(graft.sources.Tables.events(spark, dir), Seq("event_id", "user_id"))
      val delta = graft.sources.Tables.events(spark, dir)
        .limit(1000).withColumn("user_id", $"user_id" + 50000000L)
      // only the delta's touched buckets rewrite — this is the number
      // that must stay flat in state size
      val stB = s"$smokeRoot/sdb_state"
      graft.streaming.SnapshotDiffView.mergeBatch(
        evAll, stB, s"$smokeRoot/sdb_diff", 0L, nBuckets = 256)
      timeOnce(s"snapshot_diff_bucketed_delta_vs_${factor}x_state") {
        graft.streaming.SnapshotDiffView.mergeBatch(
          delta, stB, s"$smokeRoot/sdb_diff", 1L, nBuckets = 256)
        spark.read.parquet(s"$smokeRoot/sdb_diff/batch_seq=1").count()
      }
    }
    section(s"winnow_ingest_500_vs_${factor}x_index") {
      val idx = s"$smokeRoot/wi_index"
      val prs = s"$smokeRoot/wi_pairs"
      // history = the factor-x corpus's fingerprints (seeded once into
      // the bucketed index, no pair emission); the timed merge ingests
      // a 500-doc batch against it
      graft.streaming.WinnowIngest.seedIndex(
        graft.operators.Winnow.selectFingerprints(docs, "text", "doc_id"),
        idx, maxDf = 20L * factor)
      val batch = graft.sources.Tables.documents(spark, dir)
        .limit(500).withColumn("doc_id", $"doc_id" + 900000000L)
      timeOnce(s"winnow_ingest_500_vs_${factor}x_index") {
        graft.streaming.WinnowIngest.mergeBatch(
          batch, "text", "doc_id", idx, prs, minShared = 3L, maxDf = 20L * factor)
        // read through the ManifestState-aware reader: the pair state
        // is a bucketed layout (MANIFEST + manifests/<epoch> + nested
        // bucket dirs), which a raw parquet read of the root cannot
        // parse — and would double-count superseded generations if it
        // could
        graft.streaming.WinnowIngest.pairs(spark, prs).count()
      }
    }
    spark.stop()
  }
}
