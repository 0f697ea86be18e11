package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Settings of one benchmark run. `dir` is the run's working directory;
  * `sfDir` holds the sf0.1 tables and `x10Dir` their factor-10 replica. */
final case class Ctx(workload: String, seed: Long, seconds: Double,
                     trace: Boolean, dir: Path, sfDir: String, x10Dir: String,
                     oracleDir: Path, reference: Map[String, String]) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

/** Named metrics with units, in insertion order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit =
    values(name) = (if (value.isNaN || value.isInfinite) 0.0 else value, unit)
}

/** What a workload's measured phase hands back to [[Main]]. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val e2e = new Metrics      // the benchmark's end-to-end metrics
  val named = new Metrics    // the workload's own names for them
  val layers = new Metrics   // per-layer metrics (traced run)
  val notes = mutable.ArrayBuffer.empty[String]
  val rows = mutable.ArrayBuffer.empty[String] // JSONL profile rows
  /** Outputs the Python side compares with the DuckDB oracle cache:
    * query name → parquet directory. */
  val oracleChecks = mutable.LinkedHashMap.empty[String, String]
  var invalid: Option[String] = None
  def fail(what: String): Unit = { failed += 1; notes += what }
}

trait Workload {
  /** Warm-up and input preparation; repeated on every set-up. */
  def setup(spark: SparkSession, ctx: Ctx, tracer: Tracer): Unit
  /** The measured phase plus its correctness checks. */
  def run(spark: SparkSession, ctx: Ctx, tracer: Tracer): Outcome
  /** Release what `setup` started (streams, servers). */
  def teardown(): Unit = ()
}

object Main {
  val SetupRepeats = 3

  def session(ctx: Ctx): SparkSession = {
    val tmp = ctx.dir.resolve("spark-local")
    Files.createDirectories(tmp)
    val spark = graft.engine.Graft.builder(s"local[${ctx.cores}]", ctx.cores)
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", ctx.dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def workload(name: String): Workload = name match {
    case "catalog-sf0.1" => new CatalogWorkload(CatalogWorkload.Sf01)
    case "catalog-x10" => new CatalogWorkload(CatalogWorkload.X10)
    case "cdc-push" => new CdcPushWorkload
    case "ingest-dedup" => new IngestWorkload
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val dir = Paths.get(opt("dir")).toAbsolutePath
    Files.createDirectories(dir)
    val refPath = opts.get("reference").map(Paths.get(_))
    val ctx = Ctx(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", dir, opt("sf"), opt("x10"), Paths.get(opts.getOrElse("oracle", "")),
      refPath.filter(Files.exists(_)).map(Json.readFlat).getOrElse(Map.empty))
    opts.get("mode") match {
      case Some("materialize") => X10.materialize(ctx); return
      case Some("record") => CatalogWorkload.record(ctx, refPath.get); return
      case Some("selftest") => SelfTest.run(); return
      case _ => ()
    }
    val wl = workload(ctx.workload)
    val tracer = new Tracer(ctx.trace)

    // Set-up: session start, warm-up and input preparation, repeated so
    // the reported figure is a median; the last session is kept.
    val setups = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var spark: SparkSession = null
    for (i <- 1 to SetupRepeats) {
      val t0 = System.nanoTime()
      spark = session(ctx)
      val t1 = System.nanoTime()
      tracer.attach(spark)
      tracer.tag("setup", "warmup")
      wl.setup(spark, ctx, tracer)
      val t2 = System.nanoTime()
      setups += (((t2 - t0) / 1e9, (t1 - t0) / 1e6, (t2 - t1) / 1e6))
      if (i < SetupRepeats) { tracer.detach(); wl.teardown(); stop(spark) }
    }

    // garbage of the set-ups' stopped sessions is collected here, not
    // at a random point of the measured phase
    System.gc()
    val out =
      try wl.run(spark, ctx, tracer)
      finally { tracer.detach(); wl.teardown() }
    stop(spark)

    out.e2e.put("setup_s", Stats.median(setups.map(_._1).toSeq), "s")
    out.layers.put("engine.session_ms", Stats.median(setups.map(_._2).toSeq), "ms")
    out.layers.put("engine.warmup_ms", Stats.median(setups.map(_._3).toSeq), "ms")
    Files.writeString(dir.resolve("outcome.json"), render(ctx, out), StandardCharsets.UTF_8)
    Files.writeString(dir.resolve("profile.jsonl"),
      out.rows.map(_ + "\n").mkString, StandardCharsets.UTF_8)
    if (ctx.trace) {
      val jobSpans = tracer.jobs.all.map(j => Span(j.trace, s"job:${j.layer}", j.phase, j.startUs, j.endUs))
      Files.writeString(dir.resolve("spans.jsonl"), (tracer.spans.all ++ jobSpans).map { s =>
        Json.obj(Seq("trace" -> s.trace, "name" -> s.name, "parent" -> s.parent,
          "start_us" -> s.start, "end_us" -> s.end)) + "\n"
      }.mkString, StandardCharsets.UTF_8)
    }
  }

  private def render(ctx: Ctx, o: Outcome): String = {
    def metrics(m: Metrics) = m.values.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    Seq(
      s"\"workload\":${Json.str(ctx.workload)}",
      s"\"seed\":${ctx.seed}",
      s"\"attempted\":${o.attempted}",
      s"\"failed\":${o.failed}",
      s"\"invalid\":${o.invalid.map(Json.str).getOrElse("null")}",
      s"\"end_to_end\":${metrics(o.e2e)}",
      s"\"named\":${metrics(o.named)}",
      s"\"per_layer\":${metrics(o.layers)}",
      s"\"notes\":${o.notes.map(Json.str).mkString("[", ",", "]")}",
      s"\"oracle_checks\":${o.oracleChecks.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")}"
    ).mkString("{", ",", "}\n")
  }
}

object Stats {
  /** Linear-interpolated quantile of a sample (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Size of the regular files under `root`, in MB. */
  def diskMb(root: Path): Double = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() / 1048576.0
    finally s.close()
  }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Minimal JSON helpers (the harness emits flat objects only). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    str(k) + ":" + (v match {
      case d: Double => num(d)
      case n: Int => n.toString
      case n: Long => n.toString
      case b: Boolean => b.toString
      case m: Map[_, _] => obj(m.toSeq.map { case (a, b) => a.toString -> b })
      case s => str(s.toString)
    })
  }.mkString("{", ",", "}")

  /** Read a flat `{"key": "value", ...}` object of strings. */
  def readFlat(p: Path): Map[String, String] = {
    val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    """"([^"]+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
  }
}
