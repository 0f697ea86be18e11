package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.PrefixScan

/** The two-level decomposition must equal the single-window spelling
  * exactly — sum and max, keyed and global, any partition count,
  * including P far larger than the row count.
  */
class PrefixScanSpec extends SparkSpec {

  private def gen(seed: Long): Seq[(String, Long, Long)] = {
    val g = for {
      n <- Gen.choose(0, 120)
      rows <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b", "c")
        v <- Gen.choose(-50L, 50L)
      } yield (k, v))
    } yield rows.zipWithIndex.map { case ((k, v), i) => (k, i.toLong * 7, v) }
    g.apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
  }

  test("prefix sum (inclusive, keyed) equals the window form") {
    import spark.implicits._
    (1 to 6).foreach { s =>
      val df = gen(1000L + s).toDF("k", "ord", "v")
      val w = Window.partitionBy($"k").orderBy($"ord")
        .rowsBetween(Window.unboundedPreceding, 0)
      val expect = df.withColumn("cum", sum($"v").over(w))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).sorted
      Seq(1, 4, 300).foreach { p =>
        val got = PrefixScan.scan(df, Seq("k"), "ord", "v", "cum", "sum", p)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).sorted
        assert(got.toSeq == expect.toSeq, s"seed $s p=$p")
      }
    }
  }

  test("prefix max (exclusive, global) equals the window form") {
    import spark.implicits._
    (1 to 6).foreach { s =>
      val df = gen(2000L + s).toDF("k", "ord", "v").drop("k")
      val w = Window.orderBy($"ord")
        .rowsBetween(Window.unboundedPreceding, -1)
      val expect = df.withColumn("m", max($"v").over(w))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) Long.MinValue else r.getLong(2))).sorted
      Seq(1, 4, 300).foreach { p =>
        val got = PrefixScan.scan(df, Nil, "ord", "v", "m", "max", p)
          .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) Long.MinValue else r.getLong(2))).sorted
        assert(got.toSeq == expect.toSeq, s"seed $s p=$p")
      }
    }
  }

  test("prefix sum over TWO keys incl. nulls and a literal \"NULL\" key equals the window form") {
    // covers the multi-key composite lookup key: several key columns
    // length-prefix coded with pid, nulls mapped to "N" — a group
    // whose key is the STRING "NULL" must not collide with a
    // null-keyed group
    import spark.implicits._
    (1 to 4).foreach { s =>
      val rows = gen(4000L + s).map { case (k, o, v) =>
        val k2 = if (v % 5 == 0) None else if (v % 3 == 0) Some("NULL") else Some(s"g${v % 2}")
        (k, k2, o, v)
      }
      val df = rows.toDF("k1", "k2", "ord", "v")
      val w = Window.partitionBy($"k1", $"k2").orderBy($"ord")
        .rowsBetween(Window.unboundedPreceding, 0)
      val expect = df.withColumn("cum", sum($"v").over(w))
        .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2), r.getLong(4))).sorted
      Seq(4, 300).foreach { p =>
        val got = PrefixScan.scan(df, Seq("k1", "k2"), "ord", "v", "cum", "sum", p)
          .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2), r.getLong(4))).sorted
        assert(got.toSeq == expect.toSeq, s"seed $s p=$p")
      }
    }
  }

  test("concurrent consumers: the five PrefixScan queries run in parallel without planner errors") {
    // Regression for the AQE flake the lazy checkpoint fixed: the
    // local/carry branches' twin (keys, pid) exchanges over one shared
    // lineage intermittently threw task-level
    // INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (~1 in 3) when several
    // PrefixScan plans executed concurrently in one session — exactly
    // how Verify and the driver run the catalog. Three rounds of all
    // five consumers in parallel; any planner/runtime error fails.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = "/root/testdata/sf0.001"
    // the five direct consumers, plus the funnel (PrefixScan inside
    // its packing stage AND repeated pinned-frame references — the
    // same repeated-relation topology) and the epoch-shard layout
    val names = Seq("q70_decile_stats", "q77_sequence_pack",
      "q105_skyline", "q157_cdf_normalize", "q160_weighted_median",
      "q166_pretrain_funnel", "q170_epoch_shuffle")
    (1 to 3).foreach { round =>
      val fs = names.map { n =>
        Future(graft.queries.Catalog.byName(n).run(spark, dir).count())
      }
      val counts = Await.result(Future.sequence(fs), 5.minutes)
      assert(counts.forall(_ > 0), s"round $round: $counts")
    }
  }

  test("adversarial key content: separators inside values cannot merge carry groups") {
    // the carry lookup key is length-prefix coded; under the earlier
    // control-separator spelling, ("a<NUL>b", "c") and ("a", "b<NUL>c")
    // concatenated identically and shared one carry entry, and a key
    // VALUE equal to the null sentinel collided with an actual null
    import spark.implicits._
    val rows = (0 until 60).map { i =>
      val k: (Option[String], Option[String]) = (i % 4) match {
        case 0 => (Some("a\u0000b"), Some("c"))
        case 1 => (Some("a"), Some("b\u0000c"))
        case 2 => (Some("\u0001NULL"), Some("x"))
        case _ => (None, Some("x"))
      }
      (k._1, k._2, i.toLong, (i % 7).toLong)
    }
    val df = rows.toDF("k1", "k2", "ord", "v")
    val w = Window.partitionBy($"k1", $"k2").orderBy($"ord")
      .rowsBetween(Window.unboundedPreceding, 0)
    val expect = df.withColumn("cum", sum($"v").over(w))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(4))).sorted
    val got = PrefixScan.scan(df, Seq("k1", "k2"), "ord", "v", "cum", "sum", 8)
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(4))).sorted
    assert(got.toSeq == expect.toSeq)
  }

  test("tieCols: tied order values equal the (ord, tie)-window form at any id scale") {
    // q70's shape: heavy ties in the order column, a unique tie-break
    // id — including ids far beyond 1e9 (the regime where the retired
    // composite-key arithmetic collided)
    import spark.implicits._
    val rows = (0 until 90).map { i =>
      ("k" + (i % 2), (i % 5).toLong, 3_000_000_000L + i * 997L, 1L)
    }
    val df = rows.toDF("k", "ord", "id", "one")
    val w = Window.partitionBy($"k").orderBy($"ord", $"id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val expect = df.withColumn("rk", sum($"one").over(w))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4))).sorted
    Seq(1, 8, 300).foreach { p =>
      val got = PrefixScan.scan(df, Seq("k"), "ord", "one", "rk", "sum", p,
          tieCols = Seq("id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4))).sorted
      assert(got.toSeq == expect.toSeq, s"p=$p")
    }
  }

  test("Checkpoints.releaseAll drops the plan-pinned blocks after consumption") {
    import spark.implicits._
    graft.operators.Checkpoints.releaseAll() // drain earlier tests' pins
    val before = spark.sparkContext.getPersistentRDDs.size
    val df = gen(5000L).toDF("k", "ord", "v")
    PrefixScan.scan(df, Seq("k"), "ord", "v", "cum", "sum", 8).count()
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "scan should pin its pid-stamped checkpoint")
    graft.operators.Checkpoints.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "releaseAll should unpersist every tracked checkpoint")
  }

  test("budget pre-check fails loudly BEFORE any fact-scale carry work on high-cardinality keys") {
    import spark.implicits._
    graft.operators.Checkpoints.releaseAll()
    val before = spark.sparkContext.getPersistentRDDs.size
    // 10k distinct keys, one row each: the carry frame would need
    // >= 10k literal-map entries, 2.4x the 4096 budget. The HLL
    // pre-check is GATED on the optimizer's size estimate (>128 MB),
    // so route the input through an RDD: LogicalRDD's stats default to
    // defaultSizeInBytes (huge), which is exactly the fact-scale-or-
    // unknown regime the pre-check exists for — it must throw before
    // the pid stamp materializes a second checkpoint or the carry runs
    val rows = (0 until 10000).map(i => (s"k$i", i.toLong, 1L))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8)).toDF("k", "ord", "v")
    val e = intercept[IllegalArgumentException] {
      PrefixScan.scan(df, Seq("k"), "ord", "v", "cum", "sum", 32)
    }
    assert(e.getMessage.contains("pre-check"), e.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "the failed pre-check must not leak the cached input checkpoint")
  }

  test("small-by-stats inputs skip the HLL pre-check and still fail at the exact carry guard") {
    import spark.implicits._
    graft.operators.Checkpoints.releaseAll()
    // Same over-budget key cardinality, but as a LocalRelation whose
    // exact (tiny) size estimate gates the HLL pass OFF — the cost of
    // the "saved" fact-scale work is trivial at this size, so the
    // authoritative post-collect require is the one that fires.
    val df = (0 until 10000).map(i => (s"k$i", i.toLong, 1L)).toDF("k", "ord", "v")
    val e = intercept[IllegalArgumentException] {
      PrefixScan.scan(df, Seq("k"), "ord", "v", "cum", "sum", 32)
    }
    assert(e.getMessage.contains("carry frame exceeds"), e.getMessage)
    graft.operators.Checkpoints.releaseAll()
  }

  test("Checkpoints.release is scoped to the tracking thread") {
    import spark.implicits._
    graft.operators.Checkpoints.releaseAll() // drain earlier tests' pins
    val before = spark.sparkContext.getPersistentRDDs.size
    val df = gen(5000L).toDF("k", "ord", "v")
    // thread A builds (and thereby pins) a scan plan it has NOT yet consumed
    @volatile var planned: org.apache.spark.sql.DataFrame = null
    val tA = new Thread(() => {
      planned = PrefixScan.scan(df, Seq("k"), "ord", "v", "cum", "sum", 8)
    })
    tA.start(); tA.join()
    val pinned = spark.sparkContext.getPersistentRDDs.size
    assert(pinned > before, "scan should pin its pid-stamped checkpoint")
    // thread B releasing ITS scope must not yank thread A's blocks out
    // from under A's still-unconsumed plan (the old process-global
    // registry failure mode)
    val tB = new Thread(() => graft.operators.Checkpoints.release())
    tB.start(); tB.join()
    assert(spark.sparkContext.getPersistentRDDs.size == pinned,
      "another thread's release must not drop this plan's pins")
    planned.count() // the plan is still executable over intact blocks
    graft.operators.Checkpoints.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("SPARK_GRAFT_PIN_BUDGET_MB is validated with the variable named") {
    import graft.operators.Checkpoints.pinBudgetMb
    val key = "SPARK_GRAFT_PIN_BUDGET_MB"
    assert(pinBudgetMb(Map.empty) == 4096L)
    assert(pinBudgetMb(Map(key -> " 64 ")) == 64L)
    assert(pinBudgetMb(Map(key -> "0")) == 0L)
    for (bad <- Seq("4g", "", "-1", "1.5")) {
      val e = intercept[IllegalArgumentException](pinBudgetMb(Map(key -> bad)))
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"))
    }
  }

  test("null values: sum matches the window form (skip nulls, null only for all-null frames)") {
    // window sum SKIPS nulls and returns null only when the frame has
    // no non-null value; the decomposition must not null out a row
    // whose own partition prefix is all-null but whose carry is real
    import spark.implicits._
    (1 to 4).foreach { s =>
      val rows = gen(6000L + s).map { case (k, o, v) =>
        (k, o, if (v % 3 == 0) None else Some(v))
      }
      val df = rows.toDF("k", "ord", "v")
      val w = Window.partitionBy($"k").orderBy($"ord")
        .rowsBetween(Window.unboundedPreceding, 0)
      def canon(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1),
          if (r.isNullAt(3)) Long.MinValue else r.getLong(3))
      val expect = df.withColumn("cum", sum($"v").over(w)).collect().map(canon).sorted
      Seq(4, 300).foreach { p =>
        val got = PrefixScan.scan(df, Seq("k"), "ord", "v", "cum", "sum", p)
          .collect().map(canon).sorted
        assert(got.toSeq == expect.toSeq, s"seed $s p=$p")
      }
    }
  }

  test("pid derivation is a pure function: repartitioned input agrees") {
    import spark.implicits._
    val df = gen(3000L).toDF("k", "ord", "v")
    val a = PrefixScan.scan(df, Seq("k"), "ord", "v", "cum", "sum", 8)
      .select($"k", $"ord", $"cum")
    val b = PrefixScan.scan(df.repartition(11), Seq("k"), "ord", "v", "cum", "sum", 8)
      .select($"k", $"ord", $"cum")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }
}
