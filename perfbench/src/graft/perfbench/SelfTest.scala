package graft.perfbench

/** The benchmark's own tests, run with `run.py --selftest`: the map
  * from call site to layer, and the span arithmetic and job-in-span
  * check the per-layer figures rest on. Throws on the first failed
  * check. */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"selftest failed: $what") else println(s"ok  $what")

  def run(): Unit = {
    def site(frames: String*) = frames.mkString("\n")
    val spark = "org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)"
    check(Layers.of(site(spark, "graft.sources.Tables$.apply(Tables.scala:22)",
      "graft.queries.Catalog$.$anonfun$all$1(Catalog.scala:45)"), "build") == "sources",
      "schema inference under a query build is the sources layer")
    check(Layers.of(site(spark, "graft.operators.PrefixScan$.run(PrefixScan.scala:80)",
      "graft.queries.Catalog$.$anonfun$all$9(Catalog.scala:900)"), "build") == "operators",
      "an eager collect inside an operator is the operators layer")
    check(Layers.of(site(spark, "graft.queries.Catalog$.$anonfun$all$3(Catalog.scala:120)"), "build") == "queries",
      "a job raised by catalog code is the queries layer")
    check(Layers.of(site(spark, "graft.streaming.ManifestState$.patchBuckets(ManifestState.scala:390)",
      "graft.streaming.NearDedupIngest$.mergeBatch(NearDedupIngest.scala:350)"), "ingest.near") == "streaming.state",
      "a manifest commit is the streaming.state layer")
    check(Layers.of(site(spark, "graft.streaming.NearDedupIngest$.mergeBatch(NearDedupIngest.scala:320)"),
      "ingest.near") == "streaming", "ingest operator work is the streaming layer")
    check(Layers.of(site(spark, "graft.sinks.PushSink$.$anonfun$run$1(PushSink.scala:150)"), "stream") == "sinks",
      "the push sink's collect is the sinks layer")
    check(Layers.of(site(spark, "graft.pipelines.PretrainPipeline$.run(PretrainPipeline.scala:10)"), "build") == "operators",
      "pipeline libraries count as operators")
    check(Layers.of(site(spark, "graft.perfbench.CatalogWorkload.run(CatalogWorkload.scala:50)"), "exec") == "queries",
      "the benchmark's noop write in the exec phase is query execution")
    check(Layers.of(site(spark, "graft.perfbench.CatalogWorkload$.reclaim(CatalogWorkload.scala:140)"), "reclaim") == "engine",
      "the benchmark's reclaim phase is the engine layer")
    check(Layers.of(site(spark, "java.lang.Thread.run(Thread.java:840)"), "exec") == "other",
      "a call site with no engine frame matches no layer")
    check(Layers.of(site("graft.ScaleBench$.main(ScaleBench.scala:130)"), "exec") == "other",
      "a top-level main is not a layer")
    check(Layers.of(null, "exec") == "other", "a missing call site matches no layer")

    check(Spans.unionMs(Seq((0L, 1000L), (500L, 2000L), (3000L, 4000L)), 0L, 10000L) == 3.0,
      "overlapping job intervals are counted once")
    check(Spans.unionMs(Seq((0L, 5000L)), 1000L, 2000L) == 1.0, "job intervals are clipped to the span")
    check(Spans.unionMs(Nil, 0L, 1000L) == 0.0, "no jobs cover nothing")
    def job(id: Int, phase: String, start: Long, end: Long, ok: Boolean = true) = {
      val j = new JobRec(id, "q#0", phase, "queries", Nil, start)
      j.endUs = end
      j.succeeded = ok
      j
    }
    val phases = Map("build" -> Span("q#0", "build", "q#0", 0L, 10000L),
      "exec" -> Span("q#0", "exec", "q#0", 10000L, 50000L))
    check(Spans.strays(Seq(job(1, "build", 1000L, 9000L), job(2, "exec", 12000L, 50000L)), phases, 1000L).isEmpty,
      "jobs inside their phase spans are not strays")
    check(Spans.strays(Seq(job(1, "build", 1000L, 20000L), job(2, "exec", 5000L, 20000L),
      job(3, "reclaim", 20000L, 21000L), job(4, "build", 30000L, 31000L, ok = false)), phases, 1000L)
      .map(_.id) == Seq(1, 2, 3, 4),
      "a job ending after its span, starting outside it, or tagged with a phase of no span is a stray")
    check(Spans.strays(Seq(job(1, "exec", 20000L, 90000L, ok = false)), phases, 1000L).isEmpty,
      "a cancelled job may end after its span")
    check(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5, "quantiles interpolate")
  }
}
