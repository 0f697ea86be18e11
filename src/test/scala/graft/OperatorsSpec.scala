package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, CdcMerge, IntervalJoin}

class OperatorsSpec extends SparkSpec {

  test("AsOfJoin attaches latest right value on-or-before, per key") {
    import spark.implicits._
    val left = Seq(("k1", 10L), ("k1", 5L), ("k2", 7L), ("k3", 4L))
      .toDF("k", "t")
    val right = Seq(("k1", 5L, "A"), ("k1", 8L, "B"), ("k2", 9L, "C"))
      .toDF("rk", "rt", "v")
    val out = AsOfJoin.latestOnOrBefore(left, right,
        "k", "rk", "t", "rt", "v", "asof_v")
      .orderBy($"k", $"t")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
    assert(out.toSeq == Seq(
      ("k1", 5L, Some("A")),   // equal timestamp is inclusive
      ("k1", 10L, Some("B")),  // latest <= 10 is B@8
      ("k2", 7L, None),        // only right row is at 9 > 7
      ("k3", 4L, None)))       // no right rows for k3
  }

  test("AsOfJoin attaches earliest right value on-or-after, per key") {
    import spark.implicits._
    val left = Seq(("k1", 10L), ("k1", 5L), ("k2", 7L), ("k3", 4L))
      .toDF("k", "t")
    val right = Seq(("k1", 5L, "A"), ("k1", 8L, "B"), ("k2", 6L, "C"))
      .toDF("rk", "rt", "v")
    val out = AsOfJoin.earliestOnOrAfter(left, right,
        "k", "rk", "t", "rt", "v", "asof_v")
      .orderBy($"k", $"t")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
    assert(out.toSeq == Seq(
      ("k1", 5L, Some("A")),   // equal timestamp is inclusive
      ("k1", 10L, None),       // nothing at or after 10
      ("k2", 7L, None),        // only right row is at 6 < 7
      ("k3", 4L, None)))       // no right rows for k3
  }

  test("BloomPrefilter.prefilteredInner equals the plain join; empty dim drops all") {
    import spark.implicits._
    val fact = (1L to 500L).map(i => (i % 50, i)).toDF("fk", "payload")
    val dim = Seq((3L, "x"), (17L, "y"), (42L, "z")).toDF("dk", "name")

    val plain = fact.join(dim, $"fk" === $"dk")
      .select($"fk", $"payload", $"name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val bloomed = graft.operators.BloomPrefilter
      .prefilteredInner(fact, "fk", dim, "dk", expectedItems = 100)
      .select($"fk", $"payload", $"name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(bloomed.toSeq == plain.toSeq)
    assert(plain.nonEmpty)

    // The pre-filter itself must pass every true match (no false
    // negatives) while cutting most of the fact side at 3/50 key
    // selectivity (false positives only).
    val kept = graft.operators.BloomPrefilter
      .filterFact(fact, "fk", dim, "dk", expectedItems = 100).count()
    assert(kept >= plain.length && kept < 500)

    val emptyDim = dim.filter($"dk" < 0)
    assert(graft.operators.BloomPrefilter
      .prefilteredInner(fact, "fk", emptyDim, "dk", expectedItems = 100)
      .count() == 0)
  }

  test("IntervalJoin pairs within band, once per pair, across bucket boundaries") {
    import spark.implicits._
    val base = 1700000000L // seconds
    val events = Seq(
      (1L, base + 0L, 10L),
      (1L, base + 30L, 11L),
      (1L, base + 100L, 12L),
      (1L, base + 50L, 13L),
      (2L, base + 50L, 20L),   // same ts pair, same key
      (2L, base + 50L, 21L))
      .toDF("user_id", "sec", "event_id")
      .withColumn("ts", timestamp_seconds($"sec"))
    val out = IntervalJoin.selfPairsWithin(events, "user_id", "ts", "event_id", 60L)
      .select("first_id", "second_id", "gap_seconds")
      .orderBy("first_id", "second_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (10L, 11L, 30L),  // 0 -> 30
      (10L, 13L, 50L),  // 0 -> 50
      (11L, 13L, 20L),  // 30 -> 50
      (13L, 12L, 50L),  // 50 -> 100, spans a 60s-bucket boundary
      (20L, 21L, 0L)))  // equal ts paired once, lower id first
  }

  test("CdcMerge keeps latest per key and drops tombstoned keys") {
    import spark.implicits._
    val changes = Seq(
      ("a", 1L, "UPSERT", "v1"),
      ("a", 2L, "UPSERT", "v2"),
      ("b", 3L, "UPSERT", "v3"),
      ("b", 4L, "DELETE", null),
      ("c", 5L, "UPSERT", "v5"),
      ("c", 6L, "DELETE", null),
      ("c", 7L, "UPSERT", "v7")) // delete-then-reinsert resurrects
      .toDF("id", "lsn", "event_type", "payload")
    val out = CdcMerge.materialize(changes, Seq("id"), Seq($"lsn".desc),
        $"event_type" === "DELETE")
      .select("id", "payload").orderBy("id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq == Seq(("a", "v2"), ("c", "v7")))
  }

  test("ConnectedComponents labels chains, cliques, and tolerates dup/reversed/self edges") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain 1-2-3-4 (diameter 3)
      (10L, 11L), (11L, 10L),          // reversed duplicate
      (12L, 10L),
      (20L, 20L),                      // self-loop only: isolated, dropped
      (30L, 31L), (31L, 32L), (30L, 32L)) // triangle
      .toDF("src", "dst")
    val out = graft.operators.ConnectedComponents.minLabel(edges)
      .orderBy($"node").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L),
      (30L, 30L), (31L, 30L), (32L, 30L)))
  }

  test("SkewJoin.saltedInner equals the plain inner join, incl. same-named keys") {
    import spark.implicits._
    val left = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (1L, "a"))
      .toDF("k", "payload") // duplicate row exercises shared-salt path
    val right = Seq((1L, "R1"), (2L, "R2"), (4L, "R4")).toDF("k", "rv")
    val salted = graft.operators.SkewJoin.saltedInner(left, right, "k", "k", 4)
      .select(left("k"), $"payload", $"rv")
      .orderBy("k", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(salted.toSeq == Seq(
      (1L, "a", "R1"), (1L, "a", "R1"), (1L, "b", "R1"), (2L, "c", "R2")))
  }

  test("FuzzyJoin signature join equals the naive cross join on every edit kind") {
    import spark.implicits._
    // substitution, insertion, deletion, identical strings, ed-2 decoys
    // (two colliding single-deletions must NOT pair), empty string.
    val names = Seq(
      1L -> "alpha", 2L -> "alphx",   // substitution
      3L -> "alpha7",                 // insertion vs 1
      4L -> "alph",                   // deletion vs 1
      5L -> "alpha",                  // identical to 1
      6L -> "blphx",                  // ed2 from 1, ed1 from 2
      7L -> "",  8L -> "z",           // empty/one-char boundary
      9L -> "unrelated").toDF("id", "nm")
    val fast = graft.operators.FuzzyJoin.editDistance1SelfJoin(names, "id", "nm")
      .orderBy("k1", "k2").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val a = names.select($"id".as("k1"), $"nm".as("n1"))
    val naive = a.join(names.select($"id".as("k2"), $"nm".as("n2")), $"k1" < $"k2")
      .withColumn("dist", levenshtein($"n1", $"n2").cast("long"))
      .filter($"dist" <= 1).select("k1", "k2", "dist")
      .orderBy("k1", "k2").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fast.toSeq == naive.toSeq)
    assert(fast.nonEmpty && fast.toSeq.contains((7L, 8L, 1L)))
  }

  // The signature join must also agree with brute force on the real
  // corpus shape (shared long prefixes, digit-residue buckets).
  test("FuzzyJoin matches brute force on sf0.001 supplier names") {
    val sup = graft.sources.Tables(spark, "/root/testdata/sf0.001", "supplier")
    val fast = graft.operators.FuzzyJoin
      .editDistance1SelfJoin(sup, "s_suppkey", "s_name")
      .orderBy("k1", "k2").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val a = sup.select(col("s_suppkey").as("k1"), col("s_name").as("n1"))
    val b = sup.select(col("s_suppkey").as("k2"), col("s_name").as("n2"))
    val naive = a.join(b, col("k1") < col("k2"))
      .withColumn("dist", levenshtein(col("n1"), col("n2")).cast("long"))
      .filter(col("dist") <= 1).select("k1", "k2", "dist")
      .orderBy("k1", "k2").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fast.toSeq == naive.toSeq)
  }

  test("q92 HLL rollup: union of daily sketches tracks exact distinct users (<5% err)") {
    val dir = "/root/testdata/sf0.001"
    val row = graft.queries.Catalog.byName("q92_hll_rollup")
      .run(spark, dir).collect()(0)
    val approx = row.getAs[Long]("approx_users").toDouble
    val exact = graft.sources.Tables.events(spark, dir)
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0).toDouble
    val relErr = math.abs(approx - exact) / exact
    assert(relErr < 0.05, f"HLL union estimate $approx%.0f vs exact $exact%.0f: $relErr%.3f")
    // the rollup really is mergeable: unioning the per-day sketches
    // must estimate the same as sketching the whole table directly
    val direct = graft.sources.Tables.events(spark, dir)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))).collect()(0).getLong(0)
    assert(direct == approx.toLong,
      s"daily-union estimate ${approx.toLong} != whole-table sketch $direct")
  }

  test("ShortestPaths BFS: hop distances, cycles, unreachable nodes, multi-source, maxHops") {
    import spark.implicits._
    // 1→2→3→4→2 (cycle back), 5→6 in a separate component
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 2), (5, 6)).toDF("s", "d")
    def run(src: Seq[Int], maxHops: Int = 30) =
      graft.operators.ShortestPaths.hops(edges, src.toDF("n"), maxHops)
        .as[(Int, Long)].collect().toMap

    assert(run(Seq(1)) == Map(1 -> 0L, 2 -> 1L, 3 -> 2L, 4 -> 3L))
    assert(run(Seq(1, 5)) == Map(1 -> 0L, 2 -> 1L, 3 -> 2L, 4 -> 3L, 5 -> 0L, 6 -> 1L))
    assert(run(Seq(1), maxHops = 2) == Map(1 -> 0L, 2 -> 1L, 3 -> 2L))
    assert(run(Seq(6)) == Map(6 -> 0L)) // sink node: no out-edges
  }

  test("ShortestPaths driver-local BFS equals the distributed loop; unsafe node types fall back") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.operators.ShortestPaths.{driverEqualityMatchesSql, hops}
    // 1→2→3→4→2 (cycle back), 5→6 in a separate component; the probe
    // threshold covers every edge, so collectThreshold takes the local path
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 2), (5, 6)).toDF("s", "d")
    for ((src, maxHops) <- Seq((Seq(1), 30), (Seq(1, 5), 30), (Seq(1), 2), (Seq(7), 30))) {
      def run(threshold: Int) = hops(edges, src.toDF("n"), maxHops, threshold)
        .as[(Int, Long)].collect().toMap
      assert(run(100) == run(0), s"sources $src, maxHops $maxHops")
    }

    Seq(IntegerType, LongType, StringType, DateType, TimestampType)
      .foreach(t => assert(driverEqualityMatchesSql(t), t))
    Seq(BinaryType, DoubleType, FloatType)
      .foreach(t => assert(!driverEqualityMatchesSql(t), t))
    // binary ids compare by array reference on the driver: a local BFS
    // would find nothing past the source
    val b = (i: Int) => Array(i.toByte)
    val binDist = hops(Seq((b(1), b(2)), (b(2), b(3))).toDF("s", "d"),
        Seq(b(1)).toDF("n"), collectThreshold = 100)
      .as[(Array[Byte], Long)].collect().map { case (n, d) => n.toSeq -> d }.toMap
    assert(binDist == Map(Seq[Byte](1) -> 0L, Seq[Byte](2) -> 1L, Seq[Byte](3) -> 2L))
    val dblEdges = Seq((0.0, 1.0), (1.0, 2.0)).toDF("s", "d")
    def dbl(threshold: Int) = hops(dblEdges, Seq(-0.0).toDF("n"), collectThreshold = threshold)
      .as[(Double, Long)].collect().map(_._2).sorted.toSeq
    assert(dbl(100) == dbl(0) && dbl(0) == Seq(0L, 1L, 2L))
  }
}
