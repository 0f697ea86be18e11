package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, CdcMerge, IntervalJoin}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.functions.WindowPins.gpin

/** One declared engine query: Spark implementation + (when
  * SQL-expressible) the equivalent ANSI SQL for the DuckDB oracle.
  *
  * Contract (SURVEY.md §2.C): column names AND types must match
  * between the Spark result and the oracle result — every computed
  * column is aliased identically on both sides, `row_number`/`size`
  * results are cast to BIGINT (DuckDB's window/len type), and
  * order-dependent double aggregates are rounded on both sides so the
  * hash compare is stable across engines.
  *
  * `headline` marks queries run by the sf0.1 bench (`graft.Bench`);
  * the exact all-pairs O(n^2) variants are verify-only — their scale
  * path is the LSH-bucketed queries.
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = true)

object Catalog {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // Deterministic cosine: cast float -> double, sequential fold.
  private def cosineCols(a: Column, b: Column): Column = VF.cosine(a, b)

  val all: Seq[Query] = Seq(

    // ------------------------------------------------------------------
    // Q1: filter + project with parquet pushdown (SURVEY §2.C Q1).
    Query(
      "q01_filter_project",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
                  $"l_shipdate" <  lit("1998-01-01").cast("timestamp") &&
                  $"l_discount".between(0.05, 0.07) && $"l_quantity" < 25)
          .select($"l_orderkey", $"l_linenumber", $"l_quantity",
                  $"l_extendedprice", $"l_discount",
                  ($"l_extendedprice" * $"l_discount").as("promo_revenue"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
             |       l_extendedprice * l_discount AS promo_revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 25""".stripMargin)),

    // ------------------------------------------------------------------
    // Q2: TPC-H-Q1-style hash aggregation (partial+final via Catalyst).
    Query(
      "q02_group_agg",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum($"l_quantity").as("sum_qty"),
            round(sum($"l_extendedprice"), 2).as("sum_base_price"),
            round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
            round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")), 2).as("sum_charge"),
            avg($"l_quantity").as("avg_qty"),
            round(avg($"l_extendedprice"), 4).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |       sum(l_quantity) AS sum_qty,
             |       round(sum(l_extendedprice), 2) AS sum_base_price,
             |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
             |       round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
             |       avg(l_quantity) AS avg_qty,
             |       round(avg(l_extendedprice), 4) AS avg_price,
             |       count(*) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ------------------------------------------------------------------
    // Q3: 3-way join + agg + top-10 (TakeOrderedAndProject).
    // Pre-aggregate lineitem per order before joining: o_orderkey is
    // unique in orders, so count(distinct o_orderkey) becomes a plain
    // count over order-grained rows — kills the Expand+Exchange the
    // distinct would cost, and shrinks the join input ~4x (lineitem
    // rows -> orders rows) before any wide-side shuffle. Then reduce
    // to customer grain BEFORE touching the customer table: the final
    // join moves one pre-aggregated row per customer instead of one
    // row per order, so the widest table in the customer join is the
    // already-collapsed aggregate. At 100 TB the partial per-order
    // and per-customer sums combine map-side.
    Query(
      "q03_join_topk",
      (s, dir) => {
        import s.implicits._
        val perOrder = t(s, dir, "lineitem")
          .groupBy($"l_orderkey")
          .agg(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("order_rev"))
        val perCust = t(s, dir, "orders")
          .join(perOrder, $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_custkey")
          .agg(sum($"order_rev").as("rev_raw"), count(lit(1)).as("n_orders"))
        perCust
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .select($"c_custkey", $"c_name",
                  round($"rev_raw", 2).as("revenue"), $"n_orders")
          .orderBy($"revenue".desc, $"c_custkey")
          .limit(10)
      },
      Some("""SELECT c_custkey, c_name,
             |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             |       count(DISTINCT o_orderkey) AS n_orders
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |              JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY c_custkey, c_name
             |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // Q4: broadcast dim-chain join (region ⋈ nation broadcast to customer).
    Query(
      "q04_broadcast_join",
      (s, dir) => {
        import s.implicits._
        val dims = t(s, dir, "nation")
          .join(t(s, dir, "region"), $"n_regionkey" === $"r_regionkey")
          .select($"n_nationkey", $"r_name")
        t(s, dir, "customer")
          .join(broadcast(dims), $"c_nationkey" === $"n_nationkey")
          .groupBy($"r_name")
          .agg(count(lit(1)).as("n_customers"),
               round(sum($"c_acctbal"), 2).as("total_acctbal"),
               round(avg($"c_acctbal"), 4).as("avg_acctbal"))
          .orderBy($"r_name")
      },
      Some("""SELECT r_name,
             |       count(*) AS n_customers,
             |       round(sum(c_acctbal), 2) AS total_acctbal,
             |       round(avg(c_acctbal), 4) AS avg_acctbal
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |              JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // ------------------------------------------------------------------
    // Q5: left-anti join — customers with no orders.
    Query(
      "q05_anti_join",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(t(s, dir, "orders").filter($"o_orderstatus" === "F"),
                $"c_custkey" === $"o_custkey", "left_anti")
          .select($"c_custkey", $"c_name", $"c_mktsegment")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q6: rollup on orders (status, priority).
    Query(
      "q06_rollup",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .rollup($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
               round(sum($"o_totalprice"), 2).as("total_price"))
          .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
                  coalesce($"o_orderpriority", lit("ALL")).as("priority"),
                  $"n_orders", $"total_price")
          .orderBy($"status", $"priority")
      },
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
             |       coalesce(o_orderpriority, 'ALL') AS priority,
             |       count(*) AS n_orders,
             |       round(sum(o_totalprice), 2) AS total_price
             |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
             |ORDER BY status, priority""".stripMargin)),

    // ------------------------------------------------------------------
    // Q7: window ranking — top-3 orders per customer by totalprice.
    Query(
      "q07_window_topk",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter($"rn" <= 3)
          .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
          .orderBy($"o_custkey", $"rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders)
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // ------------------------------------------------------------------
    // Q8: as-of join — latest order on-or-before each event, per user.
    // Right side pre-deduped to one row per (key, time) so the result
    // is deterministic on both engines.
    Query(
      "q08_asof_join",
      (s, dir) => {
        import s.implicits._
        val ordersByDay = t(s, dir, "orders")
          .groupBy($"o_custkey", $"o_orderdate")
          .agg(max($"o_orderkey").as("ok"))
        val ev = t(s, dir, "events").select($"event_id", $"user_id", $"ts")
        AsOfJoin.latestOnOrBefore(ev, ordersByDay,
            leftKey = "user_id", rightKey = "o_custkey",
            leftTime = "ts", rightTime = "o_orderdate",
            rightVal = "ok", outCol = "last_orderkey")
          .select($"event_id", $"user_id", $"last_orderkey")
          .orderBy($"event_id")
      },
      Some("""WITH od AS (
             |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS ok
             |  FROM orders GROUP BY o_custkey, o_orderdate)
             |SELECT e.event_id, e.user_id, od.ok AS last_orderkey
             |FROM events e ASOF LEFT JOIN od
             |  ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
             |ORDER BY e.event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q9: exact distinct counts per event type.
    Query(
      "q09_distinct",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy($"event_type")
          .agg(countDistinct($"user_id").as("n_users"),
               count(lit(1)).as("n_events"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Q9b: HLL++ sketch counterpart (approximate — rows-only check;
    // the scale path for count-distinct at 100 TB).
    Query(
      "q09b_approx_distinct",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy($"event_type")
          .agg(approx_count_distinct($"user_id").as("n_users_approx"),
               count(lit(1)).as("n_events"))
          .orderBy($"event_type")
      },
      None),

    // ------------------------------------------------------------------
    // Q10: tumbling event-time windows (batch form of the streaming
    // windowed count; the streaming variant with watermark is covered
    // by StreamingSpec).
    Query(
      "q10_tumbling_window",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
          .select(unix_millis($"w.start").as("w_start_ms"), $"event_type", $"n", $"total_value")
          .orderBy($"w_start_ms", $"event_type")
      },
      Some("""SELECT (epoch_ms(ts) // 3600000) * 3600000 AS w_start_ms, event_type,
             |       count(*) AS n, round(sum(value), 2) AS total_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // Q11: CDC latest-wins materialization (batch form of R4): events
    // as a keyed changelog per user, latest row wins, latest 'error'
    // acts as tombstone.
    Query(
      "q11_cdc_latest",
      (s, dir) => {
        import s.implicits._
        CdcMerge.materialize(
            t(s, dir, "events"),
            keys = Seq("user_id"),
            ordering = Seq($"ts".desc, $"event_id".desc),
            isTombstone = $"event_type" === "error")
          .select($"user_id", $"event_id".as("last_event_id"),
                  $"event_type".as("last_type"), $"value".as("last_value"))
          .orderBy($"user_id")
      },
      Some("""SELECT user_id, event_id AS last_event_id, event_type AS last_type, value AS last_value
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |      FROM events)
             |WHERE rn = 1 AND event_type <> 'error'
             |ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q12: exact dedup — content fingerprint groups (md5 of the
    // whitespace-normalized lowercased text; fixed 32-byte groupBy key
    // instead of the full document at 100 TB).
    Query(
      "q12_exact_dedup",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .groupBy(TF.fingerprint($"text").as("fp"))
          .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"))
          .orderBy($"fp")
      },
      Some("""SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             |       count(*) AS n_docs, min(doc_id) AS first_doc
             |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin)),

    // ------------------------------------------------------------------
    // Q13: brute-force top-k cosine neighbors for 10 query vectors.
    Query(
      "q13_topk_cosine",
      (s, dir) => {
        import s.implicits._
        // Norms once per row (500 sqrt+dot) instead of per pair; the
        // per-pair hot path is a single codegen'd dot product.
        val e = t(s, dir, "embeddings")
          .filter(VF.usableVec($"embedding")) // zero-norm/empty: no geometry (ANSI /0)
          .select($"vec_id", VF.asDouble($"embedding").as("v"))
          .withColumn("nrm", sqrt(VF.dot($"v", $"v")))
        val q = e.select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qnrm"))
          .filter($"qid" < 10)
        val sims = e.select($"vec_id".as("nid"), $"v".as("nv"), $"nrm".as("nnrm"))
          .join(broadcast(q), $"nid" =!= $"qid")
          .select($"qid", $"nid",
                  (VF.dot($"qv", $"nv") / ($"qnrm" * $"nnrm")).as("sim"))
        val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
        sims.withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 5)
          .select($"qid", $"nid", $"rank", round($"sim", 4).as("sim_r"))
          .orderBy($"qid", $"rank")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |          WHERE list_sum(list_transform(
             |                embedding::DOUBLE[], x -> x*x)) > 0),
             |s AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
             |             list_dot_product(q.v, c.v) /
             |               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
             |      FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
             |r AS (SELECT qid, nid, sim,
             |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             |      FROM s)
             |SELECT qid, nid, rank, round(sim, 4) AS sim_r FROM r WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // Q14: set operations on orders slices.
    Query(
      "q14_setops",
      (s, dir) => {
        import s.implicits._
        val f = t(s, dir, "orders").filter($"o_orderstatus" === "F")
          .select($"o_custkey").distinct()
        val u = t(s, dir, "orders").filter($"o_orderpriority" === "1-URGENT")
          .select($"o_custkey").distinct()
        f.except(u).withColumn("op", lit("except"))
          .unionByName(f.intersect(u).withColumn("op", lit("intersect")))
          .select($"op", $"o_custkey")
          .orderBy($"op", $"o_custkey")
      },
      Some("""WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
             |     u AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
             |SELECT 'except' AS op, o_custkey FROM (SELECT * FROM f EXCEPT SELECT * FROM u)
             |UNION ALL
             |SELECT 'intersect' AS op, o_custkey FROM (SELECT * FROM f INTERSECT SELECT * FROM u)
             |ORDER BY op, o_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q15: MinHash+LSH near-dup candidates, verified with exact
    // Jaccard. xxhash64-based signatures are not reproducible in
    // DuckDB SQL -> rows-only check; the *verified* output equals
    // q16's exact result whenever LSH recall is 1 at this threshold.
    // Verify-only at O(n^2)-dense corpora; the bench path is this one
    // (LSH), the oracle-checked exact one is q16.
    Query(
      "q15_minhash_neardup",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id", array_distinct(TF.tokens($"text")).as("tk"))
        // 32 bands x 2 rows: P(candidate | J=0.8) = 1-(1-0.64)^32 ≈ 1,
        // vs ~4e-4 at the 16x4 setting for the one pair sitting right
        // at the threshold (measured: 30327/30328 recall before).
        val sig = docs.select($"doc_id",
          TF.minhashSignature($"tk", 64).as("sig"))
        val bands = sig.select($"doc_id",
          explode(TF.minhashBands($"sig", 32, 2)).as("band"))
        val cand = bands.as("a").join(bands.as("b"),
            $"a.band" === $"b.band" && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
        val ta = docs.select($"doc_id".as("doc_a"), $"tk".as("tka"))
        val tb = docs.select($"doc_id".as("doc_b"), $"tk".as("tkb"))
        cand.join(ta, "doc_a").join(tb, "doc_b")
          .withColumn("jaccard", round(
            size(array_intersect($"tka", $"tkb")).cast("double") /
            size(array_union($"tka", $"tkb")), 4))
          .filter($"jaccard" >= 0.8)
          .select($"doc_a", $"doc_b", $"jaccard")
          .orderBy($"doc_a", $"doc_b")
      },
      None,
      headline = false),

    // ------------------------------------------------------------------
    // Q16: exact all-pairs token-set Jaccard >= 0.8 (oracle-checked
    // ground truth for q15; O(n^2) — verify-only, not benched).
    Query(
      "q16_jaccard_exact",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id", array_distinct(TF.tokens($"text")).as("tk"))
        val a = docs.select($"doc_id".as("doc_a"), $"tk".as("tka"))
        val b = docs.select($"doc_id".as("doc_b"), $"tk".as("tkb"))
        a.join(broadcast(b), $"doc_a" < $"doc_b")
          .withColumn("jaccard", round(
            size(array_intersect($"tka", $"tkb")).cast("double") /
            size(array_union($"tka", $"tkb")), 4))
          .filter($"jaccard" >= 0.8)
          .select($"doc_a", $"doc_b", $"jaccard")
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH tk AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS tk
             |           FROM documents)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       round(len(list_intersect(a.tk, b.tk))::DOUBLE /
             |             len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
             |FROM tk a JOIN tk b ON a.doc_id < b.doc_id
             |WHERE len(list_intersect(a.tk, b.tk))::DOUBLE /
             |      len(list_distinct(list_concat(a.tk, b.tk))) >= 0.8
             |ORDER BY doc_a, doc_b""".stripMargin),
      headline = false),

    // ------------------------------------------------------------------
    // Q17: SimHash near-dup pairs — 64-bit signatures, 16-bit block
    // bucketing, Hamming <= 12 verify. xxhash64-based -> rows-only.
    // Duplicate collapse (round 11): the fingerprint is the SIGNATURE
    // itself — identical docs share it bit-for-bit, so before the
    // collapse every replica collided in all four blocks and candidate
    // volume grew with the square of the duplicate rate (measured
    // 29.7x at 10x replicas). Collapsing on the signature is EXACT
    // even for distinct texts that happen to share a signature:
    // members carry their representatives' hamming (same sig), and
    // within-group pairs are hamming 0 <= 12 by identity.
    Query(
      "q17_simhash_neardup",
      (s, dir) => {
        import s.implicits._
        val sigs = t(s, dir, "documents")
          .select($"doc_id", TF.simhash64($"text").as("sig"))
        val annotated = graft.operators.DupCollapse.withRep(sigs, "doc_id", $"sig")
        val reps = graft.operators.DupCollapse.reps(annotated, "doc_id")
        val blocks = reps.select($"doc_id", $"sig",
          explode(sequence(lit(0), lit(3))).as("blk"))
          .withColumn("blkval", expr("shiftrightunsigned(sig, blk * 16)").bitwiseAND(lit(0xFFFFL)))
        val cand = blocks.as("a").join(blocks.as("b"),
            $"a.blk" === $"b.blk" && $"a.blkval" === $"b.blkval" &&
            $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"a.sig".as("sig_a"),
                  $"b.doc_id".as("doc_b"), $"b.sig".as("sig_b"))
          .dropDuplicates("doc_a", "doc_b")
        val repPairs = cand.withColumn("hamming", TF.hamming64($"sig_a", $"sig_b"))
          .filter($"hamming" <= 12)
          .select($"doc_a", $"doc_b", $"hamming")
        graft.operators.DupCollapse.expandCross(repPairs, annotated, "doc_id")
          .unionByName(graft.operators.DupCollapse.withinPairs(
            annotated, "doc_id", lit(true), Seq("hamming" -> lit(0L))))
          .orderBy($"doc_a", $"doc_b")
      },
      None),

    // ------------------------------------------------------------------
    // Q18: language-ID heuristic — stopword-marker scores + argmax.
    Query(
      "q18_langid",
      (s, dir) => {
        import s.implicits._
        val en = Seq("the", "a", "of", "and", "to")
        val de = Seq("der", "die", "das", "und", "ist")
        val fr = Seq("le", "la", "et", "les", "est")
        // One native regex scan per row instead of a per-token
        // interpreted lambda (750k lambda evals at sf0.1 made this
        // query 5-10x slower and timing-unstable).
        def score(markers: Seq[String]): Column =
          size(regexp_extract_all(lower($"text"),
            lit("\\b(" + markers.mkString("|") + ")\\b"), lit(0))).cast("long")
        t(s, dir, "documents")
          .select($"doc_id", $"lang",
                  score(en).as("en_score"), score(de).as("de_score"), score(fr).as("fr_score"))
          .withColumn("predicted",
            when($"en_score" >= $"de_score" && $"en_score" >= $"fr_score" && $"en_score" > 0, "en")
              .when($"de_score" >= $"fr_score" && $"de_score" > 0, "de")
              .when($"fr_score" > 0, "fr")
              .otherwise("und"))
          .orderBy($"doc_id")
      },
      Some("""WITH sc AS (
             |  SELECT doc_id, lang,
             |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to)\b')) AS en_score,
             |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS de_score,
             |    len(regexp_extract_all(lower(text), '\b(le|la|et|les|est)\b')) AS fr_score
             |  FROM documents)
             |SELECT doc_id, lang, en_score, de_score, fr_score,
             |  CASE WHEN en_score >= de_score AND en_score >= fr_score AND en_score > 0 THEN 'en'
             |       WHEN de_score >= fr_score AND de_score > 0 THEN 'de'
             |       WHEN fr_score > 0 THEN 'fr'
             |       ELSE 'und' END AS predicted
             |FROM sc ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q19: text-quality metrics per document.
    Query(
      "q19_text_quality",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id",
                  TF.tokenCount($"text").as("n_tokens"),
                  TF.charCount($"text").as("n_chars_m"),
                  round(TF.avgTokenLen($"text"), 4).as("avg_token_len"),
                  round(TF.distinctTokenRatio($"text"), 4).as("distinct_ratio"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             |  length(text) AS n_chars_m,
             |  round(length(regexp_replace(text, '\s', '', 'g'))::DOUBLE /
             |        len(string_split_regex(trim(text), '\s+')), 4) AS avg_token_len,
             |  round(len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE /
             |        len(string_split_regex(trim(text), '\s+')), 4) AS distinct_ratio
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q20: corpus token frequency — top 50.
    Query(
      "q20_token_freq",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select(explode(TF.tokens($"text")).as("token"))
          .groupBy($"token")
          .agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"token")
          .limit(50)
      },
      Some("""SELECT token, count(*) AS n
             |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents)
             |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin)),

    // ------------------------------------------------------------------
    // Q21: embedding-cosine near-dup pairs (exact; oracle-checked).
    // Exact all-pairs is the GROUND TRUTH contract of this query, so
    // it lives with the other all-pairs baselines (q16/q32/q87) as
    // verify-only, not in the headline bench — its production pair
    // generator is the same blocked kernel as q103
    // (operators.CosinePairs), and the candidate-based headline ANN
    // twin is q22.
    Query(
      "q21_embed_neardup",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
          .select($"vec_id".cast("long"), VF.asDouble($"embedding").as("v"))
          .as[(Long, Array[Double])]
        graft.operators.CosinePairs.exact(e, 0.35)
          .select($"id_a".as("vec_a"), $"id_b".as("vec_b"),
            round($"sim", 4).as("sim_r"))
          .orderBy($"vec_a", $"vec_b")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |          WHERE list_sum(list_transform(
             |                embedding::DOUBLE[], x -> x*x)) > 0)
             |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |       round(list_dot_product(a.v, b.v) /
             |             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS sim_r
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE list_dot_product(a.v, b.v) /
             |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
             |ORDER BY vec_a, vec_b""".stripMargin),
      headline = false),

    // ------------------------------------------------------------------
    // Q22: LSH-bucketed ANN — random-hyperplane buckets as the shuffle
    // key; top-3 within bucket for 10 query vectors. Deterministic but
    // xxhash64-based -> rows-only.
    Query(
      "q22_ann_lsh",
      (s, dir) => {
        import s.implicits._
        // 16 independent 6-bit tables: single-probe recall on this
        // corpus's weakly-similar neighbors (cosine ~0.35) is ~0.06
        // per table; the union lifts measured top-3 recall vs the
        // exact scan to ~0.6 (spec-asserted) at L·n/2^b candidate
        // volume. Candidate pairs dedupe BEFORE the cosine, so each
        // surviving pair pays one DotProduct however many tables it
        // collides in.
        // pinned: the q side and the candidate side both read this
        // frame, and un-pinned each re-evaluated the 96-hyperplane
        // bucketing expression (16 tables × 6 bits of dot products —
        // the final plan carried the Generate twice, q141's class).
        // SIZE-GUARDED (round 17): the frame is the 16×-exploded
        // (vec_id, bucket) corpus — fact-scale at 100 TB; the guard
        // pins at sf0.1 and falls back to recompute at scale
        val e = graft.operators.Checkpoints.pinIfSmall(
          t(s, dir, "embeddings")
            .filter(VF.usableVec($"embedding")) // zero-norm/empty: no geometry (ANSI /0)
            .select($"vec_id", VF.asDouble($"embedding").as("v"))
            .withColumn("bucket",
              explode(VF.hyperplaneBuckets($"v", bits = 6, tables = 16)))
            .select($"vec_id", $"bucket"))
        val q = e.filter($"vec_id" < 10)
          .select($"vec_id".as("qid"), $"bucket")
        val cands = e.select($"vec_id".as("nid"), $"bucket")
        val pairs = q.join(cands, Seq("bucket")).filter($"nid" =!= $"qid")
          .select($"qid", $"nid").dropDuplicates("qid", "nid")
        val vecs = t(s, dir, "embeddings")
          .filter(VF.usableVec($"embedding"))
          .select($"vec_id", VF.asDouble($"embedding").as("v"))
        val sims = pairs
          .join(vecs.select($"vec_id".as("qid"), $"v".as("qv")), Seq("qid"))
          .join(vecs.select($"vec_id".as("nid"), $"v".as("nv")), Seq("nid"))
          .select($"qid", $"nid", cosineCols($"qv", $"nv").as("sim"))
        val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
        sims.withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 3)
          .select($"qid", $"nid", $"rank", round($"sim", 4).as("sim_r"))
          .orderBy($"qid", $"rank")
      },
      None),

    // ------------------------------------------------------------------
    // Q23: multimodal column plumbing — opaque binary payload + typed
    // metadata (real decode is stubbed; the schema/bytes path is real).
    Query(
      "q23_multimodal_meta",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .withColumn("payload", encode($"text", "UTF-8"))
          .select($"doc_id",
                  octet_length($"payload").cast("long").as("n_bytes"),
                  sha2($"payload", 256).as("sha"))
          .withColumn("frame_w", $"n_bytes" % 640)
          .withColumn("frame_rate", $"n_bytes" % 30)
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
             |       sha256(text) AS sha,
             |       octet_length(encode(text))::BIGINT % 640 AS frame_w,
             |       octet_length(encode(text))::BIGINT % 30 AS frame_rate
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q24: rolling-hash document fingerprint — polynomial fold over
    // md5-derived token hashes, mod 1e9+7 (order-sensitive, unlike the
    // set fingerprint of q12).
    Query(
      "q24_rolling_fingerprint",
      (s, dir) => {
        import s.implicits._
        val tokHash = (tok: Column) =>
          conv(substring(md5(tok), 1, 8), 16, 10).cast("long")
        t(s, dir, "documents")
          .select($"doc_id",
            aggregate(TF.tokens($"text"), lit(0L),
              (acc, tok) => (acc * 31L + tokHash(tok)) % 1000000007L).as("rolling_fp"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN text IS NULL THEN NULL ELSE
             |  list_reduce(
             |    list_prepend(0::BIGINT,
             |      list_transform(string_split_regex(trim(text), '\s+'),
             |                     t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
             |    (acc, x) -> (acc * 31 + x) % 1000000007) END AS rolling_fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q25: banded interval self-join on events (bucketized rewrite —
    // equi-join instead of per-key nested loop).
    Query(
      "q25_interval_join",
      (s, dir) => {
        import s.implicits._
        IntervalJoin.selfPairsWithin(
            t(s, dir, "events"), keyCol = "user_id", tsCol = "ts",
            idCol = "event_id", windowSeconds = 86400L)
          .select($"user_id", $"first_id", $"second_id", $"gap_seconds")
          .orderBy($"first_id", $"second_id")
      },
      Some("""SELECT a.user_id, a.event_id AS first_id, b.event_id AS second_id,
             |       date_diff('second', a.ts, b.ts) AS gap_seconds
             |FROM events a JOIN events b ON a.user_id = b.user_id
             |WHERE (b.ts > a.ts OR (b.ts = a.ts AND a.event_id < b.event_id))
             |  AND b.ts <= a.ts + INTERVAL 86400 SECOND
             |ORDER BY first_id, second_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q26: cube — all grouping-set combinations over two dims.
    Query(
      "q26_cube",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
               round(avg($"o_totalprice"), 4).as("avg_price"))
          .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
                  coalesce($"o_orderpriority", lit("ALL")).as("priority"),
                  $"n_orders", $"avg_price")
          .orderBy($"status", $"priority")
      },
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
             |       coalesce(o_orderpriority, 'ALL') AS priority,
             |       count(*) AS n_orders,
             |       round(avg(o_totalprice), 4) AS avg_price
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY status, priority""".stripMargin)),

    // ------------------------------------------------------------------
    // Q27: multiplicity-preserving set ops (UNION ALL / EXCEPT ALL /
    // INTERSECT ALL) over order-priority slices.
    Query(
      "q27_setops_all",
      (s, dir) => {
        import s.implicits._
        val f = t(s, dir, "orders").filter($"o_orderstatus" === "F").select($"o_custkey")
        val u = t(s, dir, "orders").filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
        f.exceptAll(u).groupBy($"o_custkey").agg(count(lit(1)).as("n"))
          .withColumn("op", lit("except_all"))
          .unionByName(
            f.intersectAll(u).groupBy($"o_custkey").agg(count(lit(1)).as("n"))
              .withColumn("op", lit("intersect_all")))
          .select($"op", $"o_custkey", $"n")
          .orderBy($"op", $"o_custkey")
      },
      Some("""WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
             |     u AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
             |SELECT 'except_all' AS op, o_custkey, count(*) AS n
             |FROM (SELECT * FROM f EXCEPT ALL SELECT * FROM u) GROUP BY 2
             |UNION ALL
             |SELECT 'intersect_all' AS op, o_custkey, count(*) AS n
             |FROM (SELECT * FROM f INTERSECT ALL SELECT * FROM u) GROUP BY 2
             |ORDER BY op, o_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q28: scalar-function surface — string / date-time / math
    // built-ins in one projected pipeline (SURVEY §2.B scalar
    // functions; all codegen'd Catalyst built-ins).
    Query(
      "q28_scalar_funcs",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .filter($"o_orderkey" % 100 === 0)
          .select(
            $"o_orderkey",
            lower(substring($"o_orderpriority", 3, 20)).as("prio_word"),
            length($"o_orderstatus").cast("long").as("status_len"),
            concat_ws("|", $"o_orderstatus", $"o_orderpriority").as("tag"),
            year($"o_orderdate").cast("long").as("y"),
            month($"o_orderdate").cast("long").as("m"),
            unix_millis(date_trunc("quarter", $"o_orderdate")).as("quarter_start_ms"),
            round(pow($"o_totalprice", 0.5), 6).as("sqrt_price"),
            round(log($"o_totalprice"), 6).as("ln_price"),
            floor($"o_totalprice" / 1000).cast("long").as("price_kbucket"),
            abs($"o_totalprice" * -1).as("abs_price"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  lower(substr(o_orderpriority, 3)) AS prio_word,
             |  length(o_orderstatus)::BIGINT AS status_len,
             |  concat_ws('|', o_orderstatus, o_orderpriority) AS tag,
             |  year(o_orderdate)::BIGINT AS y,
             |  month(o_orderdate)::BIGINT AS m,
             |  epoch_ms(date_trunc('quarter', o_orderdate)) AS quarter_start_ms,
             |  round(sqrt(o_totalprice), 6) AS sqrt_price,
             |  round(ln(o_totalprice), 6) AS ln_price,
             |  floor(o_totalprice / 1000)::BIGINT AS price_kbucket,
             |  abs(o_totalprice * -1) AS abs_price
             |FROM orders WHERE o_orderkey % 100 = 0
             |ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q29: JSON extraction from the events `props` column (the
    // engine's schema-on-read codec surface, from_json/get_json_object
    // replacing the reference's Jackson decode at MessageConsumer.kt:29).
    Query(
      "q29_json_props",
      (s, dir) => {
        import s.implicits._
        // json_tuple is the multi-field single-parse form of
        // get_json_object — one JSON parse per row however many
        // fields are pulled (a Generator, so it rides in a select)
        t(s, dir, "events")
          .select($"event_id", json_tuple($"props", "k", "u").as(Seq("kv", "uv")))
          .select($"event_id", $"kv".cast("long").as("k"),
                  coalesce($"uv", lit("-")).as("u"))
          .groupBy($"k")
          .agg(count(lit(1)).as("n"), min($"event_id").as("first_event"),
               count(when($"u" =!= "-", 1)).as("n_with_u"))
          .orderBy($"k")
      },
      Some("""SELECT json_extract_string(props, '$.k')::BIGINT AS k,
             |       count(*) AS n, min(event_id) AS first_event,
             |       count(json_extract_string(props, '$.u')) AS n_with_u
             |FROM events GROUP BY 1 ORDER BY k""".stripMargin)),

    // ------------------------------------------------------------------
    // Q30: fact ⋈ two dimensions (part, supplier) with selective dim
    // filters — both dims broadcast; filters prune before the join.
    Query(
      "q30_part_supplier",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part").filter($"p_size" <= 20)),
                $"l_partkey" === $"p_partkey")
          .join(broadcast(t(s, dir, "supplier").filter($"s_acctbal" > 0)),
                $"l_suppkey" === $"s_suppkey")
          .groupBy($"p_brand")
          .agg(countDistinct($"l_suppkey").as("n_suppliers"),
               count(lit(1)).as("n_lines"),
               round(sum($"l_extendedprice"), 2).as("rev"))
          .orderBy($"p_brand")
      },
      Some("""SELECT p_brand,
             |       count(DISTINCT l_suppkey) AS n_suppliers,
             |       count(*) AS n_lines,
             |       round(sum(l_extendedprice), 2) AS rev
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |              JOIN supplier ON l_suppkey = s_suppkey
             |WHERE p_size <= 20 AND s_acctbal > 0
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // ------------------------------------------------------------------
    // Q31: IVF coarse quantizer over embeddings — per-label centroids
    // via posexplode + positional average, then nearest-centroid
    // assignment by cosine. The centroid table is tiny (labels ×
    // dims) and broadcasts; assignment is one codegen'd dot per
    // (vector, centroid). This is the training-free half of IVF: at
    // 100 TB the centroid set comes from a sampled k-means, the
    // assignment plan is unchanged.
    Query(
      "q31_centroid_assign",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
          .filter(VF.usableVec($"embedding")) // zero-norm/empty: no geometry (ANSI /0)
          .select($"vec_id", $"label", VF.asDouble($"embedding").as("v"))
        // Centroid components rounded to 6 dp: the avg's partial-sum
        // order differs across engines (and across runs under AQE), so
        // unrounded centroids would differ in ULPs and cascade into
        // the similarity ranking.
        val centroids = e
          .select($"label", posexplode($"v").as(Seq("pos", "x")))
          .groupBy($"label", $"pos")
          .agg(round(avg($"x"), 6).as("cx"))
          .groupBy($"label")
          .agg(array_sort(collect_list(struct($"pos", $"cx"))).as("pairs"))
          .select($"label".as("c_label"),
                  expr("transform(pairs, p -> p.cx)").as("cv"))
          .withColumn("cnrm", sqrt(VF.dot($"cv", $"cv")))
        val assigned = e
          .withColumn("nrm", sqrt(VF.dot($"v", $"v")))
          .join(broadcast(centroids))
          .select($"vec_id", $"label", $"c_label",
                  (VF.dot($"v", $"cv") / ($"nrm" * $"cnrm")).as("sim"))
        val w = Window.partitionBy($"vec_id").orderBy($"sim".desc, $"c_label")
        assigned
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"vec_id", $"label", $"c_label".as("predicted"),
                  round($"sim", 4).as("sim_r"))
          .orderBy($"vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
             |          WHERE list_sum(list_transform(
             |                embedding::DOUBLE[], x -> x*x)) > 0),
             |flat AS (SELECT label, unnest(v) AS x,
             |                unnest(range(1, len(v) + 1)) AS pos FROM e),
             |cent AS (SELECT label AS c_label,
             |                array_agg(cx ORDER BY pos) AS cv
             |         FROM (SELECT label, pos, round(avg(x), 6) AS cx FROM flat GROUP BY 1, 2)
             |         GROUP BY label),
             |assigned AS (
             |  SELECT e.vec_id, e.label, c.c_label,
             |         list_dot_product(e.v, c.cv) /
             |           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS sim
             |  FROM e CROSS JOIN cent c),
             |ranked AS (SELECT vec_id, label, c_label, sim,
             |                  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rn
             |           FROM assigned)
             |SELECT vec_id, label, c_label AS predicted, round(sim, 4) AS sim_r
             |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q32: exact 3-shingle Jaccard near-dups. Unlike token-set Jaccard
    // (q16, drowned in vocabulary overlap on this corpus), word
    // 3-grams isolate the true planted near-duplicates: 25 pairs at
    // sf0.01 with clean separation (nothing between J=0.1 and J=0.5).
    Query(
      "q32_shingle_jaccard",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id", array_distinct(TF.shingles($"text", 3)).as("sh"))
        val a = docs.select($"doc_id".as("doc_a"), $"sh".as("sha"))
        val b = docs.select($"doc_id".as("doc_b"), $"sh".as("shb"))
        a.join(broadcast(b), $"doc_a" < $"doc_b")
          .withColumn("jaccard",
            size(array_intersect($"sha", $"shb")).cast("double") /
            size(array_union($"sha", $"shb")))
          .filter($"jaccard" >= 0.5)
          .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard_r"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
             |sh AS (SELECT doc_id, list_distinct(list_transform(
             |         generate_series(1, len(tk) - 2),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh FROM tk)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             |             len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard_r
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
             |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin),
      headline = false),

    // ------------------------------------------------------------------
    // Q33: the production near-dup pipeline — MinHash over 3-shingles,
    // LSH banding (64 bands x 2 rows targets recall ~1.0 at J=0.5),
    // exact-Jaccard verification of candidates. The scale path for
    // q32's O(n^2): candidates ~ per-band collisions, not all pairs.
    // xxhash64 signatures -> rows-only check.
    Query(
      "q33_minhash_shingle",
      (s, dir) => {
        import s.implicits._
        // Banding derived from the target threshold/recall instead of
        // hand-tuned constants (LshPlanner: detection prob for J under
        // (b, r) is 1-(1-J^r)^b).
        val lsh = graft.functions.LshPlanner.plan(
          threshold = 0.5, targetRecall = 0.9999, maxSignature = 128)
        val docs = t(s, dir, "documents")
          .select($"doc_id", array_distinct(TF.shingles($"text", 3)).as("sh"))
        // Duplicate collapse (round 11, DupCollapse): identical
        // shingle-sets produce identical signatures and hence collide
        // in EVERY band — candidate volume grew with the square of the
        // duplicate rate (measured 23.4x at 10x replicas). Signatures
        // are computed for DISTINCT contents only (replicas also skip
        // the minhash pass entirely); member pairs carry their
        // representatives' exact jaccard, within-group non-empty sets
        // pair at 1.0 >= any threshold.
        val annotated = graft.operators.DupCollapse.withRep(
          docs, "doc_id", xxhash64(array_sort($"sh")))
        val d = graft.operators.DupCollapse.reps(annotated, "doc_id")
        // NOT pinned despite the band self-join reading both sides:
        // the band-keyed exchange under both sides is identical, so
        // the runtime plan computes the signature pass once and
        // ReusedExchange serves the second side — a localCheckpoint
        // here measured 1.02× (alternating A/B, min-of-3 at sf0.1).
        val sig = d.select($"doc_id",
          TF.minhashSignature($"sh", lsh.signatureLength).as("sig"))
        val bands = sig.select($"doc_id",
          explode(TF.minhashBands($"sig", lsh.bands, lsh.rowsPerBand)).as("band"))
        val cand = bands.as("a").join(bands.as("b"),
            $"a.band" === $"b.band" && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
        // Verify on the string shingle sets directly: LSH emits few
        // candidates here (collision pairs only), so q98's hashed-
        // verify trick doesn't pay for its extra per-doc hash pass.
        val sa = d.select($"doc_id".as("doc_a"), $"sh".as("sha"))
        val sb = d.select($"doc_id".as("doc_b"), $"sh".as("shb"))
        val repPairs = cand.join(sa, "doc_a").join(sb, "doc_b")
          .withColumn("jaccard",
            size(array_intersect($"sha", $"shb")).cast("double") /
            size(array_union($"sha", $"shb")))
          .filter($"jaccard" >= 0.5)
          .select($"doc_a", $"doc_b", $"jaccard")
        graft.operators.DupCollapse.expandCross(repPairs, annotated, "doc_id")
          .unionByName(graft.operators.DupCollapse.withinPairs(
            annotated, "doc_id", size($"sh") > 0, Seq("jaccard" -> lit(1.0))))
          .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard_r"))
          .orderBy($"doc_a", $"doc_b")
      },
      None),

    // ------------------------------------------------------------------
    // Q34: token counting, whitespace + BPE-ish regex (both counts per
    // document, plus the corpus totals shape via aggregation).
    Query(
      "q34_bpe_token_stats",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id",
                  TF.tokenCount($"text").as("n_ws_tokens"),
                  TF.bpeTokenCount($"text").as("n_bpe_tokens"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
             |  len(regexp_extract_all(text,
             |      '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+')) AS n_bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q35: map-typed columns — JSON props decoded to map<string,string>
    // via from_json, then map_keys / element_at (SURVEY §2.B map
    // function surface).
    Query(
      "q35_map_funcs",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .withColumn("m", from_json($"props", org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)))
          .select($"event_id",
                  size(map_keys($"m")).cast("long").as("n_keys"),
                  // concat_ws never returns NULL — guard so a missing
                  // props map reads NULL on BOTH sides, not '' vs NULL
                  when($"m".isNull, lit(null))
                    .otherwise(concat_ws(",", array_sort(map_keys($"m")))).as("keys_sorted"),
                  when($"m".isNull, lit(null))
                    .otherwise(concat_ws(",", array_sort(map_values($"m")))).as("vals_sorted"),
                  element_at($"m", "k").cast("long").as("k_value"))
          .filter($"event_id" % 50 === 0)
          .orderBy($"event_id")
      },
      Some("""SELECT event_id,
             |  len(json_keys(props))::BIGINT AS n_keys,
             |  array_to_string(list_sort(json_keys(props)), ',') AS keys_sorted,
             |  array_to_string(list_sort(list_transform(json_keys(props),
             |      k -> json_extract_string(props, '$.' || k))), ',') AS vals_sorted,
             |  json_extract_string(props, '$.k')::BIGINT AS k_value
             |FROM events WHERE event_id % 50 = 0
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q36: pivot — long-to-wide with an explicit value list (no extra
    // distinct-discovery job, which at 100 TB would be a full scan).
    Query(
      "q36_pivot",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .select($"o_orderpriority",
                  coalesce($"F", lit(0L)).as("F"),
                  coalesce($"O", lit(0L)).as("O"),
                  coalesce($"P", lit(0L)).as("P"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
             |  count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
             |  count(*) FILTER (WHERE o_orderstatus = 'P') AS P
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ------------------------------------------------------------------
    // Q37: statistical aggregates — corr / stddev / covar / exact
    // interpolated percentiles. corr/stddev/covar are moment sketches
    // (constant-size partial state, combine like sum). Exact
    // `percentile` keeps a counts-map over DISTINCT values, so it is
    // only scale-safe on bounded-cardinality columns — quantity
    // (~50 values) and discount (11), here. For unbounded columns
    // (price) the scale path is the approx sketch: q37b.
    Query(
      "q37_stats",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            round(corr($"l_quantity", $"l_extendedprice"), 4).as("corr_qty_price"),
            round(stddev_samp($"l_discount"), 4).as("sd_disc"),
            round(covar_samp($"l_quantity", $"l_extendedprice"), 2).as("cov_qp"),
            round(percentile($"l_quantity", lit(0.5)), 2).as("median_qty"),
            round(percentile($"l_discount", lit(0.9)), 4).as("p90_disc"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
             |  round(stddev_samp(l_discount), 4) AS sd_disc,
             |  round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp,
             |  round(quantile_cont(l_quantity, 0.5), 2) AS median_qty,
             |  round(quantile_cont(l_discount, 0.9), 4) AS p90_disc
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ------------------------------------------------------------------
    // Q37b: approximate percentiles on an unbounded-cardinality column
    // — constant-memory mergeable sketch per group, the 100 TB path
    // for quantiles over values that are distinct per row. Rows-only:
    // DuckDB's approx_quantile is a different sketch, so the values
    // are not cross-engine comparable by construction (same status as
    // q09b's HLL).
    Query(
      "q37b_approx_quantile",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            round(approx_percentile($"l_extendedprice", lit(0.5), lit(1000)), 2)
              .as("median_price_approx"),
            round(approx_percentile($"l_extendedprice", lit(0.9), lit(1000)), 2)
              .as("p90_price_approx"))
          .orderBy($"l_returnflag")
      },
      None),

    // ------------------------------------------------------------------
    // Q38: correlated EXISTS + scalar subquery through the SQL door —
    // Catalyst decorrelates the EXISTS into a left-semi join and the
    // scalar subquery into a broadcast single-row join; nothing is
    // executed per-row.
    Query(
      "q38_subqueries",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("sub_customer")
        t(s, dir, "orders").createOrReplaceTempView("sub_orders")
        s.sql("""SELECT c_custkey, c_name FROM sub_customer c
                |WHERE EXISTS (SELECT 1 FROM sub_orders o
                |              WHERE o.o_custkey = c.c_custkey
                |                AND o.o_totalprice > 300000)
                |  AND c_acctbal > (SELECT avg(c_acctbal) FROM sub_customer)
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey
             |                AND o.o_totalprice > 300000)
             |  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer)
             |ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q39: positional token flattening (posexplode / UNNEST WITH
    // ORDINALITY equivalent) — first-3-token prefix per document, the
    // shape used for prefix-based language/boilerplate heuristics.
    Query(
      "q39_pos_tokens",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id", posexplode(split(trim($"text"), "\\s+")).as(Seq("pos", "tok")))
          .filter($"pos" < 3)
          .select($"doc_id", $"pos".cast("long").as("pos"), $"tok")
          .orderBy($"doc_id", $"pos")
      },
      Some("""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |           FROM documents)
             |SELECT doc_id, z[2] - 1 AS pos, z[1] AS tok
             |FROM (SELECT doc_id,
             |             unnest(list_zip(toks, generate_series(1, len(toks)))) AS z
             |      FROM d)
             |WHERE z[2] <= 3 ORDER BY doc_id, pos""".stripMargin)),

    // ------------------------------------------------------------------
    // Q40: batch sessionization — gap-based session ids via
    // lag + running sum (the batch analog of session_window, which
    // q-streaming covers in StreamingWindowsSpec). One shuffle on
    // user_id; both window passes and the final aggregate reuse that
    // partitioning.
    Query(
      "q40_sessionize",
      (s, dir) => {
        import s.implicits._
        graft.operators.Sessionize.stats(
          t(s, dir, "events")
            .select($"user_id", unix_millis($"ts").as("tms"), $"event_id"),
          keyCol = "user_id", tmsCol = "tms", tieCol = "event_id",
          gapMs = 12 * 3600 * 1000L)
          .orderBy($"user_id", $"session_no")
      },
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS tms, event_id FROM events),
             |flagged AS (
             |  SELECT *, CASE WHEN lag(tms) OVER w IS NULL
             |                   OR tms - lag(tms) OVER w > 43200000
             |                 THEN 1 ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
             |sess AS (
             |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY tms, event_id
             |                             ROWS UNBOUNDED PRECEDING) AS session_no
             |  FROM flagged)
             |SELECT user_id, session_no::BIGINT AS session_no, count(*) AS n_events,
             |       ((max(tms) - min(tms)) // 1000)::BIGINT AS dur_s
             |FROM sess GROUP BY user_id, session_no
             |ORDER BY user_id, session_no""".stripMargin)),

    // ------------------------------------------------------------------
    // Q41: min_by / max_by — arg-extrema with a composite (value, key)
    // ordering struct for a deterministic winner under value ties.
    Query(
      "q41_minmax_by",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .groupBy($"c_mktsegment")
          .agg(
            max_by($"c_name", struct($"c_acctbal", $"c_custkey")).as("top_name"),
            round(max($"c_acctbal"), 2).as("top_bal"),
            min_by($"c_name", struct($"c_acctbal", $"c_custkey")).as("bottom_name"),
            round(min($"c_acctbal"), 2).as("bottom_bal"))
          .orderBy($"c_mktsegment")
      },
      Some("""WITH ranked AS (
             |  SELECT c_mktsegment, c_name, c_acctbal,
             |         row_number() OVER (PARTITION BY c_mktsegment
             |                            ORDER BY c_acctbal DESC, c_custkey DESC) AS rmax,
             |         row_number() OVER (PARTITION BY c_mktsegment
             |                            ORDER BY c_acctbal ASC, c_custkey ASC) AS rmin
             |  FROM customer)
             |SELECT m.c_mktsegment AS c_mktsegment,
             |       m.c_name AS top_name, round(m.c_acctbal, 2) AS top_bal,
             |       n.c_name AS bottom_name, round(n.c_acctbal, 2) AS bottom_bal
             |FROM ranked m JOIN ranked n ON m.c_mktsegment = n.c_mktsegment
             |WHERE m.rmax = 1 AND n.rmin = 1
             |ORDER BY c_mktsegment""".stripMargin)),

    // ------------------------------------------------------------------
    // Q42: explicit GROUPING SETS with grouping() disambiguation —
    // complements q06 rollup / q26 cube; one Expand, one shuffle.
    Query(
      "q42_grouping_sets",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("gs_lineitem")
        s.sql("""SELECT l_returnflag, l_linestatus,
                |       (grouping(l_returnflag) * 2 + grouping(l_linestatus))
                |         AS gid,
                |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
                |FROM gs_lineitem
                |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                |                        (l_returnflag), ())
                |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
          .withColumn("gid", col("gid").cast("long"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |       (grouping(l_returnflag) * 2 + grouping(l_linestatus))::BIGINT
             |         AS gid,
             |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
             |                        (l_returnflag), ())
             |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),

    // ------------------------------------------------------------------
    // Q43: content-hash stable split — reproducible train/holdout
    // bucketing by md5(text), the engine-agnostic way to split a
    // corpus (survives repartitioning, re-ingestion, and engine swap,
    // unlike rand() or monotonically_increasing_id).
    Query(
      "q43_stable_split",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .withColumn("bucket", TF.stableBucket($"text", 10))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_docs"),
               round(avg($"n_chars"), 2).as("avg_chars"))
          .orderBy($"bucket")
      },
      Some("""SELECT ('0x' || substr(md5(text), 1, 4))::BIGINT % 10 AS bucket,
             |       count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
             |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // Q44: IVF-probed ANN — the scale path for similarity search.
    // Coarse-quantize (per-label centroids, as q31), rank centroids
    // per query, probe the top-2 cells, and brute-force ONLY inside
    // probed cells: with nlist cells and nprobe probes the scan reads
    // ~nprobe/nlist of the corpus instead of all of it. Centroids and
    // the query set are broadcast; the big side is filtered by the
    // broadcast join before any wide shuffle.
    //
    // Recall is a property of the data, not the operator: on this
    // synthetic near-uniform corpus, recall@5 vs exact (q13) measures
    // 0.32 at nprobe=2/nlist=10 (0.42-0.50 at nprobe=3 across the
    // sf0.01/sf0.001 corpora; AnnFrontierSpec pins the band and the
    // nprobe=nlist==exact contract) — real embedding
    // distributions cluster far more sharply. nprobe is the
    // recall-vs-scan-fraction knob; the within-cell ranking itself is
    // exact and hash-verified against the DuckDB oracle.
    Query(
      "q44_ivf_ann",
      (s, dir) => {
        import s.implicits._
        // shared operator (operators.IvfAnn) — centroid construction
        // identical to q31, 6-dp rounded
        graft.operators.IvfAnn.topK(
          t(s, dir, "embeddings")
            .filter(VF.usableVec($"embedding")) // zero-norm/empty: no geometry (ANSI /0)
            .select($"vec_id", $"label", VF.asDouble($"embedding").as("v")),
          isQuery = $"vec_id" < 10, nprobe = 2, k = 5)
          .select($"qid", $"nid", $"rank", round($"sim", 4).as("sim_r"))
          .orderBy($"qid", $"rank")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
             |          WHERE list_sum(list_transform(
             |                embedding::DOUBLE[], x -> x*x)) > 0),
             |flat AS (SELECT label, unnest(v) AS x,
             |                unnest(range(1, len(v) + 1)) AS pos FROM e),
             |cent AS (SELECT label AS c_label, array_agg(cx ORDER BY pos) AS cv
             |         FROM (SELECT label, pos, round(avg(x), 6) AS cx
             |               FROM flat GROUP BY 1, 2)
             |         GROUP BY label),
             |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
             |cr AS (SELECT qid, c_label,
             |              row_number() OVER (PARTITION BY qid ORDER BY
             |                list_dot_product(qv, cv) /
             |                  (sqrt(list_dot_product(qv, qv)) *
             |                   sqrt(list_dot_product(cv, cv))) DESC,
             |                c_label) AS crn
             |       FROM q CROSS JOIN cent),
             |probes AS (SELECT qid, c_label FROM cr WHERE crn <= 2),
             |sims AS (SELECT p.qid, e.vec_id AS nid,
             |                list_dot_product(e.v, q.qv) /
             |                  (sqrt(list_dot_product(e.v, e.v)) *
             |                   sqrt(list_dot_product(q.qv, q.qv))) AS sim
             |         FROM probes p JOIN q ON q.qid = p.qid
             |              JOIN e ON e.label = p.c_label AND e.vec_id <> p.qid),
             |r AS (SELECT qid, nid, sim,
             |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             |      FROM sims)
             |SELECT qid, nid, rank, round(sim, 4) AS sim_r FROM r WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // Q45: unpivot (wide-to-long melt) — the inverse of q36; constant
    // per-row fanout, no shuffle at all.
    Query(
      "q45_unpivot",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_orderkey" % 100 === 0)
          .unpivot(
            Array($"l_orderkey", $"l_linenumber"),
            Array($"l_quantity", $"l_discount", $"l_tax"),
            "metric", "value")
          .orderBy($"l_orderkey", $"l_linenumber", $"metric")
      },
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
             |       l_quantity AS value
             |FROM lineitem WHERE l_orderkey % 100 = 0
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
             |FROM lineitem WHERE l_orderkey % 100 = 0
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
             |FROM lineitem WHERE l_orderkey % 100 = 0
             |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),

    // ------------------------------------------------------------------
    // Q46: array higher-order functions — transform / filter /
    // aggregate / sort_array over the embedding column. These stay
    // inside codegen (NullIntolerant lambda eval), no UDF boundary;
    // the sequential left fold keeps FP order deterministic for the
    // cross-engine compare.
    Query(
      "q46_array_hofs",
      (s, dir) => {
        import s.implicits._
        val v = VF.asDouble($"embedding")
        // size > 0 drops null AND empty arrays on both sides (DuckDB's
        // len(NULL) > 0 is NULL -> excluded): element_at(.., 1) on an
        // empty array is an ANSI error, and empty-array sum2x would
        // read 0.0 here vs NULL in DuckDB. Zero VECTORS stay: array
        // functions need no geometry.
        t(s, dir, "embeddings")
          .filter(size($"embedding") > 0)
          .select($"vec_id",
            round(aggregate(transform(v, x => x * lit(2.0)),
                            lit(0.0), (acc, x) => acc + x), 4).as("sum2x"),
            size(filter(v, x => x > 0)).cast("long").as("n_pos"),
            round(element_at(sort_array(v), 1), 4).as("min_val"))
          .orderBy($"vec_id")
      },
      Some("""SELECT vec_id,
             |  round(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * 2.0),
             |                       'sum'), 4) AS sum2x,
             |  len(list_filter(embedding::DOUBLE[], x -> x > 0))::BIGINT AS n_pos,
             |  round(list_sort(embedding::DOUBLE[])[1], 4) AS min_val
             |FROM embeddings WHERE len(embedding) > 0 ORDER BY vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q47: analytic window family — lag / lead / ntile / running frame
    // / first_value over one (partition, order) pair, so all five
    // evaluate in a single Window operator on a single shuffle.
    Query(
      "q47_analytic_windows",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        t(s, dir, "orders")
          .filter($"o_custkey" % 100 === 7)
          .select($"o_orderkey", $"o_custkey",
            round(lag($"o_totalprice", 1).over(w), 2).as("prev_price"),
            round(lead($"o_totalprice", 1).over(w), 2).as("next_price"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(sum($"o_totalprice")
              .over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).as("run_total"),
            round(first($"o_totalprice").over(w), 2).as("first_price"),
            round(percent_rank().over(w), 4).as("pct_rank"),
            round(cume_dist().over(w), 4).as("cum_dist"))
          .orderBy($"o_custkey", $"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  round(lag(o_totalprice) OVER w, 2) AS prev_price,
             |  round(lead(o_totalprice) OVER w, 2) AS next_price,
             |  (ntile(4) OVER w)::BIGINT AS quartile,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |        ORDER BY o_orderdate, o_orderkey
             |        ROWS UNBOUNDED PRECEDING), 2) AS run_total,
             |  round(first_value(o_totalprice) OVER w, 2) AS first_price,
             |  round(percent_rank() OVER w, 4) AS pct_rank,
             |  round(cume_dist() OVER w, 4) AS cum_dist
             |FROM orders WHERE o_custkey % 100 = 7
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q48: remaining string/date scalar surface — upper, regexp
    // extract/replace, LIKE, trim, datediff — over a broadcast dim
    // join (the heavy filter lands on orders before the join).
    Query(
      "q48_string_date_funcs",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .filter($"o_orderkey" % 500 === 0)
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .select($"o_orderkey", $"c_custkey",
            upper($"c_mktsegment").as("seg_u"),
            regexp_extract($"c_name", "([0-9]+)$", 1).as("name_num"),
            regexp_replace($"c_name", "^Customer#0*", "").as("short_name"),
            $"c_name".like("%2").as("ends2"),
            trim(concat(lit("  "), $"c_mktsegment", lit(" "))).as("seg_trim"),
            datediff($"o_orderdate", lit("1995-01-01").cast("date"))
              .cast("long").as("days_since"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, c_custkey,
             |  upper(c_mktsegment) AS seg_u,
             |  regexp_extract(c_name, '([0-9]+)$', 1) AS name_num,
             |  regexp_replace(c_name, '^Customer#0*', '') AS short_name,
             |  (c_name LIKE '%2') AS ends2,
             |  trim(concat('  ', c_mktsegment, ' ')) AS seg_trim,
             |  datediff('day', DATE '1995-01-01', o_orderdate::DATE)::BIGINT AS days_since
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderkey % 500 = 0 ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q49: zip_with + reverse + array_contains over a documents ⋈
    // embeddings join — the pairwise-lambda array surface not already
    // exercised by the similarity queries.
    Query(
      "q49_zipwith_contains",
      (s, dir) => {
        import s.implicits._
        val v = VF.asDouble($"embedding")
        t(s, dir, "embeddings")
          .join(t(s, dir, "documents"), $"vec_id" === $"doc_id")
          .filter($"vec_id" % 25 === 0)
          .select($"vec_id",
            round(aggregate(zip_with(v, reverse(v), (a, b) => a * b),
                            lit(0.0), (acc, x) => acc + x), 4).as("revdot"),
            array_contains(split(trim($"text"), "\\s+"), "spark").as("has_spark"))
          .orderBy($"vec_id")
      },
      Some("""SELECT vec_id,
             |  round(list_dot_product(embedding::DOUBLE[],
             |        list_reverse(embedding::DOUBLE[])), 4) AS revdot,
             |  list_contains(string_split_regex(trim(text), '\s+'), 'spark') AS has_spark
             |FROM embeddings JOIN documents ON vec_id = doc_id
             |WHERE vec_id % 25 = 0 ORDER BY vec_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q51: stratified content-hash split — q43's stable bucketing
    // WITHIN language strata, so each language keeps the same
    // train/holdout proportions (the sampling shape a multilingual
    // corpus needs; rand()-based stratified sampling is not
    // reproducible across engines or repartitionings).
    Query(
      "q51_stratified_split",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .withColumn("bucket", TF.stableBucket($"text", 5))
          .groupBy($"lang", $"bucket")
          .agg(count(lit(1)).as("n_docs"),
               round(avg($"n_chars"), 2).as("avg_chars"))
          .orderBy($"lang", $"bucket")
      },
      Some("""SELECT lang, ('0x' || substr(md5(text), 1, 4))::BIGINT % 5 AS bucket,
             |       count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
             |FROM documents GROUP BY lang, bucket
             |ORDER BY lang, bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // Q50: TF-IDF — term frequency per (doc, token), document
    // frequency per token, top-3 scoring tokens per document. Three
    // aggregations over one tokenized frame plus a broadcast-sized
    // df table joined back; the rank key is the ROUNDED score (ln()
    // can differ in ULPs across engines/libms, and a tie at rank 3
    // must break identically on both sides).
    Query(
      "q50_tfidf",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        // corpus size folded into the plan as a broadcast one-row
        // aggregate instead of an eager driver count() — one fewer
        // full job per execution, same value enters the IDF arithmetic
        val nDocs = docs.agg(count(lit(1)).cast("double").as("__nd"))
        // tf stays UN-pinned even though the df rollup broadcasts and
        // re-runs the tokenize chain: a localCheckpoint here measured
        // net-neutral-to-worse at sf0.1 (the blocking materialization
        // of the (doc, tok) grain ≈ the second tokenize pass).
        val toks = docs
          .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("tok"))
        val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        // tf has exactly one row per (doc, tok), so document frequency
        // is a plain count over it — no second token scan, no
        // distinct-expansion aggregate
        val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
        val scored = tf.join(broadcast(df), "tok")
          .crossJoin(broadcast(nDocs))
          .select($"doc_id", $"tok",
            round($"tf" * log($"__nd" / $"df"), 4).as("tfidf"))
        val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"tok")
        scored.withColumn("rnk", row_number().over(w).cast("long"))
          .filter($"rnk" <= 3)
          .select($"doc_id", $"rnk", $"tok", $"tfidf")
          .orderBy($"doc_id", $"rnk")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
             |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
             |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
             |scored AS (
             |  SELECT tf.doc_id, tf.tok,
             |         round(tf.tf * ln(n.n / df.df), 4) AS tfidf
             |  FROM tf JOIN df USING (tok) CROSS JOIN n),
             |ranked AS (
             |  SELECT doc_id, tok, tfidf,
             |         row_number() OVER (PARTITION BY doc_id
             |                            ORDER BY tfidf DESC, tok) AS rnk
             |  FROM scored)
             |SELECT doc_id, rnk, tok, tfidf FROM ranked WHERE rnk <= 3
             |ORDER BY doc_id, rnk""".stripMargin)),

    // ------------------------------------------------------------------
    // Q52: PII redaction — the scrubbing pass of a training-data
    // pipeline. The corpus is synthetic (no real PII), so each row
    // deterministically plants email/URL/phone fragments derived from
    // its own keys; the query then counts and masks them with the
    // shared RE2-compatible patterns (TextFunctions.redactPii). Three
    // row-local regex passes, zero shuffles before the final sort.
    Query(
      "q52_pii_redact",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .withColumn("raw", concat(
            $"text",
            when($"doc_id" % 3 === 0,
              concat(lit(" reach me at user"), $"doc_id".cast("string"), lit("@example.org")))
              .otherwise(lit("")),
            when($"doc_id" % 4 === 1,
              concat(lit(" see https://docs.example.com/"), $"lang", lit("/"), $"doc_id".cast("string")))
              .otherwise(lit("")),
            when($"doc_id" % 5 === 2,
              concat(lit(" call +1-555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
              .otherwise(lit(""))))
          .select($"doc_id",
            TF.countMatches($"raw", TF.EmailPattern).as("n_emails"),
            TF.countMatches($"raw", TF.UrlPattern).as("n_urls"),
            TF.countMatches($"raw", TF.PhonePattern).as("n_phones"),
            md5(TF.redactPii($"raw")).as("redacted_md5"))
          .orderBy($"doc_id")
      },
      Some("""WITH raw AS (
             |  SELECT doc_id, text
             |    || CASE WHEN doc_id % 3 = 0 THEN ' reach me at user' || doc_id || '@example.org' ELSE '' END
             |    || CASE WHEN doc_id % 4 = 1 THEN ' see https://docs.example.com/' || lang || '/' || doc_id ELSE '' END
             |    || CASE WHEN doc_id % 5 = 2 THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
             |    AS raw
             |  FROM documents)
             |SELECT doc_id,
             |  len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             |  len(regexp_extract_all(raw, 'https?://[^\s]+')) AS n_urls,
             |  len(regexp_extract_all(raw, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS n_phones,
             |  md5(regexp_replace(regexp_replace(regexp_replace(raw,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      'https?://[^\s]+', '<URL>', 'g'),
             |      '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
             |FROM raw ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q53: repetition-quality metrics (Gopher-style filters) — per
    // document over word bigrams: top-bigram fraction and the fraction
    // of bigram occurrences belonging to a repeated bigram. High
    // values flag boilerplate/spam for corpus filtering. One explode +
    // two aggregations, all partial-aggregated map-side.
    Query(
      "q53_repetition_quality",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .filter(size(TF.tokens($"text")) >= 2)
          .select($"doc_id", explode(TF.shingles($"text", 2)).as("bg"))
          .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id")
          .agg(sum($"c").as("n_bigrams"),
               round(max($"c") / sum($"c"), 4).as("top_frac"),
               round(sum(when($"c" >= 2, $"c").otherwise(0L)) / sum($"c"), 4).as("dup_frac"))
          .orderBy($"doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
             |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
             |                i -> tk[i] || ' ' || tk[i+1])) AS bg
             |       FROM tk WHERE len(tk) >= 2),
             |c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
             |SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
             |       round(max(c) / sum(c), 4) AS top_frac,
             |       round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) / sum(c), 4) AS dup_frac
             |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q54: token-level Shannon entropy per document — the
    // information-density quality signal (low entropy = repetitive /
    // templated text). Counts per (doc, token), per-doc total via one
    // window over the same partitioning, then -sum(p ln p), rounded on
    // both engines (FP sum order differs across engines).
    Query(
      "q54_token_entropy",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "documents")
          .select($"doc_id", explode(TF.tokens($"text")).as("tok"))
          .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
        val w = Window.partitionBy($"doc_id")
        c.withColumn("n", sum($"c").over(w))
          .groupBy($"doc_id")
          .agg(max($"n").as("n_tokens"),
               count(lit(1)).as("vocab"),
               round(-sum(($"c" / $"n") * log($"c" / $"n")), 4).as("entropy"))
          .orderBy($"doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |           FROM documents),
             |c AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
             |w AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM c)
             |SELECT doc_id, max(n)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab,
             |       round(-sum((c / n) * ln(c / n)), 4) AS entropy
             |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q55: PMI collocations — corpus-level pointwise mutual
    // information over word bigrams: pmi = ln(p(ab) / (p(a) p(b))).
    // The unigram table and the two scalar totals are broadcast (the
    // vocabulary is dwarfed by the corpus at any scale), so the only
    // wide shuffles are the two counting aggregations, both map-side
    // partial. Ranked on the ROUNDED pmi so the top-20 cut breaks
    // ties identically across engines.
    Query(
      "q55_pmi_bigrams",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").filter(size(TF.tokens($"text")) >= 2)
        val uni = docs.select(explode(TF.tokens($"text")).as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("cu"))
        val bi = docs.select(explode(TF.shingles($"text", 2)).as("bg"))
          .groupBy($"bg").agg(count(lit(1)).as("cb"))
        val totals = uni.agg(sum($"cu").cast("double").as("u_total"))
          .crossJoin(bi.agg(sum($"cb").cast("double").as("b_total")))
        bi.filter($"cb" >= 20)
          .withColumn("w1", element_at(split($"bg", " "), 1))
          .withColumn("w2", element_at(split($"bg", " "), 2))
          .join(broadcast(uni.select($"tok".as("w1"), $"cu".as("c1"))), "w1")
          .join(broadcast(uni.select($"tok".as("w2"), $"cu".as("c2"))), "w2")
          .crossJoin(broadcast(totals))
          .select($"bg", $"cb",
            round(log(($"cb".cast("double") * $"u_total" * $"u_total") /
                      ($"b_total" * $"c1" * $"c2")), 4).as("pmi"))
          .orderBy($"pmi".desc, $"bg")
          .limit(20)
      },
      Some("""WITH docs AS (SELECT string_split_regex(trim(text), '\s+') AS tk FROM documents
             |              WHERE len(string_split_regex(trim(text), '\s+')) >= 2),
             |uc AS (SELECT tok, count(*) AS cu FROM (SELECT unnest(tk) AS tok FROM docs) GROUP BY 1),
             |bc AS (SELECT bg, count(*) AS cb
             |       FROM (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
             |                    i -> tk[i] || ' ' || tk[i+1])) AS bg FROM docs)
             |       GROUP BY 1),
             |tot AS (SELECT (SELECT sum(cu)::DOUBLE FROM uc) AS u_total,
             |               (SELECT sum(cb)::DOUBLE FROM bc) AS b_total),
             |scored AS (
             |  SELECT bg, cb,
             |         round(ln((cb::DOUBLE * u_total * u_total) / (b_total * c1.cu * c2.cu)), 4) AS pmi
             |  FROM bc, tot, uc c1, uc c2
             |  WHERE cb >= 20
             |    AND c1.tok = string_split(bg, ' ')[1]
             |    AND c2.tok = string_split(bg, ' ')[2])
             |SELECT bg, cb, pmi FROM scored ORDER BY pmi DESC, bg LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // Q56: URL parsing surface — parse_url HOST/PATH/QUERY-key/
    // PROTOCOL over deterministically constructed URLs (the synthetic
    // corpus has none). Pure row-local projection; the oracle
    // reconstructs each part from the same source columns.
    Query(
      "q56_url_parse",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .filter($"doc_id" % 10 === 3)
          .withColumn("url", concat(
            lit("https://data.example.com/"), $"lang", lit("/doc/"),
            $"doc_id".cast("string"), lit("?src="), $"source",
            lit("&n="), $"n_chars".cast("string")))
          .select($"doc_id", $"url",
            parse_url($"url", lit("HOST")).as("host"),
            parse_url($"url", lit("PATH")).as("path"),
            parse_url($"url", lit("QUERY"), lit("src")).as("qsrc"),
            parse_url($"url", lit("PROTOCOL")).as("proto"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |       'https://data.example.com/' || lang || '/doc/' || doc_id
             |         || '?src=' || source || '&n=' || n_chars AS url,
             |       'data.example.com' AS host,
             |       '/' || lang || '/doc/' || doc_id AS path,
             |       source AS qsrc,
             |       'https' AS proto
             |FROM documents WHERE doc_id % 10 = 3 ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q57: outer positional flatten — posexplode_outer keeps documents
    // whose match array is empty (NULL pos/hit) instead of dropping
    // them, the LEFT-JOIN-LATERAL shape needed when a flattened
    // feature must not silently drop rows from the corpus.
    Query(
      "q57_explode_outer",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .withColumn("hits",
            regexp_extract_all($"text", lit("\\b(spark|window|merge)\\b"), lit(0)))
          .select($"doc_id", posexplode_outer($"hits").as(Seq("pos", "hit")))
          .select($"doc_id", $"pos".cast("long").as("pos"), $"hit")
          .orderBy($"doc_id", $"pos")
      },
      Some("""WITH h AS (SELECT doc_id, regexp_extract_all(text, '\b(spark|window|merge)\b') AS hits
             |           FROM documents),
             |e AS (SELECT doc_id, coalesce(len(hits), 0) AS nh,
             |             CASE WHEN hits IS NULL OR len(hits) = 0 THEN [NULL] ELSE hits END AS hits2
             |      FROM h),
             |z AS (SELECT doc_id, nh,
             |             unnest(list_zip(hits2, generate_series(1, len(hits2)))) AS z
             |      FROM e)
             |SELECT doc_id,
             |       (CASE WHEN nh = 0 THEN NULL ELSE z[2] - 1 END)::BIGINT AS pos,
             |       z[1] AS hit
             |FROM z ORDER BY doc_id, pos""".stripMargin)),

    // ------------------------------------------------------------------
    // Q58: near-dup GROUP resolution — connected components over the
    // exact 3-shingle Jaccard pairs (q32's 25 planted pairs), giving
    // each duplicate cluster a canonical id (min doc_id) and size.
    // The operator is iterative min-label propagation
    // (operators.ConnectedComponents); the DuckDB oracle computes the
    // same components via a recursive transitive closure. Verify-only:
    // pair generation is the O(n^2) exact path (the scale path is
    // q33's LSH candidates feeding the same component operator).
    Query(
      "q58_neardup_groups",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id", array_distinct(TF.shingles($"text", 3)).as("sh"))
        val a = docs.select($"doc_id".as("doc_a"), $"sh".as("sha"))
        val b = docs.select($"doc_id".as("doc_b"), $"sh".as("shb"))
        val pairs = a.join(broadcast(b), $"doc_a" < $"doc_b")
          .withColumn("j",
            size(array_intersect($"sha", $"shb")).cast("double") /
            size(array_union($"sha", $"shb")))
          .filter($"j" >= 0.5)
          .select($"doc_a", $"doc_b")
        graft.operators.ConnectedComponents.minLabel(pairs)
          .groupBy($"component")
          .agg(count(lit(1)).as("n_docs"), max($"node").as("max_doc"))
          .orderBy($"component")
      },
      Some("""WITH RECURSIVE
             |tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
             |sh AS (SELECT doc_id, list_distinct(list_transform(
             |         generate_series(1, len(tk) - 2),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh FROM tk),
             |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db
             |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |          WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
             |                len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
             |sym AS (SELECT da AS s, db AS d FROM pairs
             |        UNION SELECT db, da FROM pairs),
             |reach(s, d) AS (
             |  SELECT s, d FROM sym
             |  UNION
             |  SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s AND e.d <> r.s),
             |lab AS (SELECT n.s AS node, least(n.s, min(r.d)) AS component
             |        FROM (SELECT DISTINCT s FROM sym) n
             |        LEFT JOIN reach r ON r.s = n.s GROUP BY n.s)
             |SELECT component, count(*) AS n_docs, max(node) AS max_doc
             |FROM lab GROUP BY component ORDER BY component""".stripMargin),
      headline = false),

    // ------------------------------------------------------------------
    // Q59: salted skew join — SkewJoin.saltedInner wired into the
    // correctness gate: lineitem ⋈ supplier with the left side spread
    // over 8 salt buckets, aggregated back per supplier. The result is
    // identical to the plain equi-join (the oracle), proving the
    // salt+replicate rewrite preserves join semantics.
    Query(
      "q59_salted_join",
      (s, dir) => {
        import s.implicits._
        graft.operators.SkewJoin.saltedInner(
            t(s, dir, "lineitem").select($"l_suppkey", $"l_extendedprice"),
            t(s, dir, "supplier").select($"s_suppkey", $"s_name"),
            leftKey = "l_suppkey", rightKey = "s_suppkey", buckets = 8)
          .groupBy($"s_suppkey", $"s_name")
          .agg(count(lit(1)).as("n_lines"),
               round(sum($"l_extendedprice"), 2).as("rev"))
          .orderBy($"s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name, count(*) AS n_lines,
             |       round(sum(l_extendedprice), 2) AS rev
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q60: Bloom-prefiltered selective join — the dim side (suppliers
    // of three nations) is aggregated into one Bloom sketch that
    // pre-filters the fact side BEFORE the join shuffle
    // (operators.BloomPrefilter). At 100 TB this cuts the shuffled
    // fact volume to ~selectivity + fpp; false positives are removed
    // by the exact join, so the result is identical to the plain
    // join — which is exactly what the oracle checks.
    Query(
      "q60_bloom_join",
      (s, dir) => {
        import s.implicits._
        val dim = t(s, dir, "supplier")
          .filter($"s_nationkey" < 3)
          .select($"s_suppkey", $"s_nationkey")
        val fact = t(s, dir, "lineitem").select($"l_suppkey", $"l_extendedprice")
        graft.operators.BloomPrefilter
          .prefilteredInner(fact, "l_suppkey", dim, "s_suppkey",
            expectedItems = 4096)
          .groupBy($"s_nationkey")
          .agg(count(lit(1)).as("n_lines"),
               round(sum($"l_extendedprice"), 2).as("rev"))
          .orderBy($"s_nationkey")
      },
      Some("""SELECT s_nationkey, count(*) AS n_lines,
             |       round(sum(l_extendedprice), 2) AS rev
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |WHERE s_nationkey < 3
             |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q61: fuzzy near-dup by edit distance — supplier-name pairs within
    // one edit, via deletion-neighborhood signatures (FuzzyJoin): each
    // name emits |s|+1 one-deletion residues, candidates come from a
    // shuffle EQUI-join on the residue instead of an O(n^2) nested
    // loop, and the thresholded levenshtein (early-exit past 1)
    // verifies survivors. Identical result to the naive cross join —
    // which is exactly what the oracle computes.
    Query(
      "q61_fuzzy_levenshtein",
      (s, dir) => {
        import s.implicits._
        graft.operators.FuzzyJoin
          .editDistance1SelfJoin(t(s, dir, "supplier"), "s_suppkey", "s_name")
          .orderBy($"k1", $"k2")
      },
      Some("""SELECT a.s_suppkey AS k1, b.s_suppkey AS k2,
             |       levenshtein(a.s_name, b.s_name)::BIGINT AS dist
             |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
             |WHERE levenshtein(a.s_name, b.s_name) <= 1
             |ORDER BY k1, k2""".stripMargin)),

    // ------------------------------------------------------------------
    // Q62: grouped median / interpolated percentiles on a BOUNDED-
    // cardinality column (l_quantity has 50 distinct values, so the
    // exact counts-map state stays O(50) per group at any scale — the
    // same boundedness rule q37 documents; unbounded columns go to
    // approx_percentile/q37b instead).
    Query(
      "q62_group_median",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            round(median($"l_quantity"), 4).as("med_qty"),
            round(percentile($"l_quantity", lit(0.25)), 4).as("p25_qty"),
            round(percentile($"l_quantity", lit(0.75)), 4).as("p75_qty"),
            round(avg($"l_quantity"), 4).as("avg_qty"),
            count(lit(1)).as("n"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       round(median(l_quantity), 4) AS med_qty,
             |       round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty,
             |       round(quantile_cont(l_quantity, 0.75), 4) AS p75_qty,
             |       round(avg(l_quantity), 4) AS avg_qty,
             |       count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ------------------------------------------------------------------
    // Q63: ordered string aggregation — per-nation sorted list of the
    // distinct market segments of its customers. collect_set +
    // array_sort keeps the result deterministic under any
    // partitioning (a bare collect_list order would be
    // partition-layout-dependent and unreproducible).
    Query(
      "q63_string_agg",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .groupBy($"c_nationkey")
          .agg(
            array_join(array_sort(collect_set($"c_mktsegment")), ",").as("segments"),
            countDistinct($"c_mktsegment").as("n_segments"),
            count(lit(1)).as("n_customers"))
          .orderBy($"c_nationkey")
      },
      Some("""SELECT c_nationkey,
             |       array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',') AS segments,
             |       count(DISTINCT c_mktsegment) AS n_segments,
             |       count(*) AS n_customers
             |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q64: conditional aggregation (the FILTER-clause surface) —
    // branch-free conditional metrics in ONE aggregation pass instead
    // of N filtered scans: count_if plus when()-gated sum/avg/max
    // (nulls outside the branch are ignored by the aggregate, matching
    // SQL FILTER semantics).
    Query(
      "q64_conditional_agg",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            count_if($"o_orderstatus" === "F").as("n_finished"),
            round(sum(when($"o_orderstatus" === "O", $"o_totalprice").otherwise(0.0)), 2)
              .as("open_rev"),
            round(avg(when($"o_orderstatus" === "F", $"o_totalprice")), 4)
              .as("avg_finished_price"),
            max(when($"o_orderstatus" === "P", $"o_totalprice")).as("max_pending_price"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |       count(*) AS n_orders,
             |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
             |       round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 0), 2) AS open_rev,
             |       round(avg(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 4) AS avg_finished_price,
             |       max(o_totalprice) FILTER (WHERE o_orderstatus = 'P') AS max_pending_price
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ------------------------------------------------------------------
    // Q65: fixed-width histogram of order value — 20 buckets of 30k
    // with the top bucket clamped open-ended. One map-side-combined
    // aggregation; the bucket expression is a pure projection, so the
    // shuffle carries 20 keys regardless of table size.
    Query(
      "q65_histogram",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .select(least(floor($"o_totalprice" / 30000), lit(19)).cast("long").as("bucket"),
                  $"o_totalprice")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_orders"),
               round(min($"o_totalprice"), 2).as("lo"),
               round(max($"o_totalprice"), 2).as("hi"))
          .orderBy($"bucket")
      },
      Some("""SELECT least(floor(o_totalprice / 30000), 19)::BIGINT AS bucket,
             |       count(*) AS n_orders,
             |       round(min(o_totalprice), 2) AS lo,
             |       round(max(o_totalprice), 2) AS hi
             |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // Q66: forward as-of join — for each event, the FIRST order placed
    // on or after the event, per user (AsOfJoin.earliestOnOrAfter, the
    // mirror of q08's backward direction; same one-shuffle union +
    // window rewrite). DuckDB's ASOF JOIN with a <= condition is the
    // oracle.
    Query(
      "q66_asof_forward",
      (s, dir) => {
        import s.implicits._
        val ordersByDay = t(s, dir, "orders")
          .groupBy($"o_custkey", $"o_orderdate")
          .agg(min($"o_orderkey").as("ok"))
        val ev = t(s, dir, "events").select($"event_id", $"user_id", $"ts")
        AsOfJoin.earliestOnOrAfter(ev, ordersByDay,
            leftKey = "user_id", rightKey = "o_custkey",
            leftTime = "ts", rightTime = "o_orderdate",
            rightVal = "ok", outCol = "next_orderkey")
          .select($"event_id", $"user_id", $"next_orderkey")
          .orderBy($"event_id")
      },
      Some("""WITH od AS (
             |  SELECT o_custkey, o_orderdate, min(o_orderkey) AS ok
             |  FROM orders GROUP BY o_custkey, o_orderdate)
             |SELECT e.event_id, e.user_id, od.ok AS next_orderkey
             |FROM events e ASOF LEFT JOIN od
             |  ON e.user_id = od.o_custkey AND e.ts <= od.o_orderdate
             |ORDER BY e.event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q67: end-to-end near-dup REMOVAL — the training-corpus dedup
    // pipeline composed to its final output: exact 3-gram Jaccard
    // pairs (q32) → connected components (q58) → keep the min-doc_id
    // representative per duplicate group, drop the rest, emit the
    // surviving corpus. Verify-only like q58 (the all-pairs ground
    // truth); the 100 TB path swaps the pair generator for the
    // MinHash+LSH candidates of q33 — the component/survivor stages
    // are identical.
    Query(
      "q67_dedup_survivors",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").select($"doc_id", $"lang", $"text")
        val sh = docs
          .select($"doc_id", array_distinct(TF.shingles($"text", 3)).as("sh"))
        val a = sh.select($"doc_id".as("doc_a"), $"sh".as("sha"))
        val b = sh.select($"doc_id".as("doc_b"), $"sh".as("shb"))
        val pairs = a.join(broadcast(b), $"doc_a" < $"doc_b")
          .withColumn("j",
            size(array_intersect($"sha", $"shb")).cast("double") /
            size(array_union($"sha", $"shb")))
          .filter($"j" >= 0.5)
          .select($"doc_a", $"doc_b")
        val dropped = graft.operators.ConnectedComponents.minLabel(pairs)
          .filter($"node" =!= $"component")
          .select($"node".as("doc_id"))
        docs.join(dropped, Seq("doc_id"), "left_anti")
          .select($"doc_id", $"lang")
          .orderBy($"doc_id")
      },
      Some("""WITH RECURSIVE
             |tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
             |sh AS (SELECT doc_id, list_distinct(list_transform(
             |         generate_series(1, len(tk) - 2),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh FROM tk),
             |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db
             |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |          WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
             |                len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
             |sym AS (SELECT da AS s, db AS d FROM pairs
             |        UNION SELECT db, da FROM pairs),
             |reach(s, d) AS (
             |  SELECT s, d FROM sym
             |  UNION
             |  SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s AND e.d <> r.s),
             |lab AS (SELECT n.s AS node, least(n.s, min(r.d)) AS component
             |        FROM (SELECT DISTINCT s FROM sym) n
             |        LEFT JOIN reach r ON r.s = n.s GROUP BY n.s)
             |SELECT d.doc_id, d.lang FROM documents d
             |WHERE d.doc_id NOT IN (SELECT node FROM lab WHERE node <> component)
             |ORDER BY d.doc_id""".stripMargin),
      headline = false),

    // ------------------------------------------------------------------
    // Q68: time-RANGE window frame — per-user trailing-1-hour rolling
    // average and count over the events stream, the time-series
    // feature shape (rolling engagement, rate limits) that rowsBetween
    // cannot express when event spacing is irregular. The frame is a
    // rangeBetween over floor-second epochs so both engines bound the
    // window identically; one shuffle on user_id, no self-join.
    Query(
      "q68_time_rollavg",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id")
          .orderBy(unix_timestamp($"ts"))
          .rangeBetween(-3600, 0)
        t(s, dir, "events")
          .select($"event_id", $"user_id", $"ts", $"value")
          .select($"event_id", $"user_id",
            round(avg($"value").over(w), 4).as("avg_1h"),
            count(lit(1)).over(w).as("n_1h"))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, user_id,
             |       round(avg(value) OVER w, 4) AS avg_1h,
             |       count(*) OVER w AS n_1h
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY (epoch_ms(ts) // 1000)
             |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q69: distribution-ranking window family — percent_rank,
    // cume_dist, dense_rank, ntile(4) per nation over supplier
    // balances (q47 covers the lag/lead/frame side). The order key
    // includes the unique s_suppkey so every rank is deterministic.
    Query(
      "q69_rank_funcs",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"s_nationkey")
          .orderBy($"s_acctbal", $"s_suppkey")
        t(s, dir, "supplier")
          .select($"s_suppkey", $"s_nationkey",
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"),
            dense_rank().over(w).cast("long").as("dr"),
            ntile(4).over(w).cast("long").as("quartile"))
          .orderBy($"s_suppkey")
      },
      Some("""SELECT s_suppkey, s_nationkey,
             |       round(percent_rank() OVER w, 6) AS pr,
             |       round(cume_dist() OVER w, 6) AS cd,
             |       (dense_rank() OVER w)::BIGINT AS dr,
             |       (ntile(4) OVER w)::BIGINT AS quartile
             |FROM supplier
             |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
             |ORDER BY s_suppkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q70: quantile-bucket profiling — documents cut into per-language
    // length deciles (ntile over a partitioned, uniquely-ordered
    // window — partitioning by lang keeps the sort distributed instead
    // of a single-partition global ntile), then per-decile length
    // stats: the corpus-profiling step before length-based filtering.
    Query(
      "q70_decile_stats",
      // Round 8: ntile decomposed via operators.Ntile.closed — a
      // PrefixScan rank over n_chars with doc_id as the tie-break
      // (pids are a pure function of the n_chars VALUE, so tied rows
      // share a partition and the tie-break is exact at any id scale),
      // broadcast group sizes, and ntile's bucket rule in closed form.
      // Identical output; no |languages|-partition window ever sees
      // fact-scale rows.
      (s, dir) => {
        import s.implicits._
        graft.operators.Ntile.closed(
            t(s, dir, "documents").select($"lang", $"n_chars", $"doc_id"),
            Seq("lang"), "n_chars", Seq("doc_id"), 10, "decile", 32)
          .groupBy($"lang", $"decile")
          .agg(count(lit(1)).as("n"),
            min($"n_chars").as("min_chars"),
            max($"n_chars").as("max_chars"),
            round(avg($"n_chars"), 4).as("avg_chars"))
          .orderBy($"lang", $"decile")
      },
      Some("""WITH d AS (
             |  SELECT lang, n_chars,
             |         ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)::BIGINT AS decile
             |  FROM documents)
             |SELECT lang, decile, count(*) AS n,
             |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
             |       round(avg(n_chars), 4) AS avg_chars
             |FROM d GROUP BY lang, decile ORDER BY lang, decile""".stripMargin)),

    // ------------------------------------------------------------------
    // Q71: one full k-means Lloyd iteration — label-group positional
    // centroids (q31's coarse quantizer), nearest-centroid assignment
    // by cosine, then the UPDATE step: recompute each cluster's
    // centroid from its assigned members. Output flattened to
    // (cluster, pos, component, member count) so the compare hashes
    // scalars, not arrays. Two shuffles (centroid agg, reassign agg);
    // the assignment join is a broadcast of k centroids.
    Query(
      "q71_kmeans_step",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
          .filter(VF.usableVec($"embedding")) // zero-norm/empty: no geometry (ANSI /0)
          .select($"vec_id", $"label", VF.asDouble($"embedding").as("v"))
        val centroids = e
          .select($"label", posexplode($"v").as(Seq("pos", "x")))
          .groupBy($"label", $"pos")
          .agg(round(avg($"x"), 6).as("cx"))
          .groupBy($"label")
          .agg(array_sort(collect_list(struct($"pos", $"cx"))).as("pairs"))
          .select($"label".as("c_label"),
                  expr("transform(pairs, p -> p.cx)").as("cv"))
          .withColumn("cnrm", sqrt(VF.dot($"cv", $"cv")))
        val assigned = e
          .withColumn("nrm", sqrt(VF.dot($"v", $"v")))
          .join(broadcast(centroids))
          .select($"vec_id", $"v", $"c_label",
                  (VF.dot($"v", $"cv") / ($"nrm" * $"cnrm")).as("sim"))
        val w = Window.partitionBy($"vec_id").orderBy($"sim".desc, $"c_label")
        assigned
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"c_label".as("cluster"), posexplode($"v").as(Seq("pos", "x")))
          .groupBy($"cluster", $"pos")
          .agg(round(avg($"x"), 6).as("cx_new"),
               count(lit(1)).as("n_members"))
          .orderBy($"cluster", $"pos")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
             |          WHERE list_sum(list_transform(
             |                embedding::DOUBLE[], x -> x*x)) > 0),
             |flat AS (SELECT label, unnest(v) AS x,
             |                unnest(range(1, len(v) + 1)) AS pos FROM e),
             |cent AS (SELECT label AS c_label,
             |                array_agg(cx ORDER BY pos) AS cv
             |         FROM (SELECT label, pos, round(avg(x), 6) AS cx FROM flat GROUP BY 1, 2)
             |         GROUP BY label),
             |assigned AS (
             |  SELECT e.vec_id, e.v, c.c_label,
             |         list_dot_product(e.v, c.cv) /
             |           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS sim
             |  FROM e CROSS JOIN cent c),
             |ranked AS (SELECT vec_id, v, c_label, sim,
             |                  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rn
             |           FROM assigned),
             |members AS (SELECT c_label AS cluster, unnest(v) AS x,
             |                   unnest(range(0, len(v))) AS pos
             |            FROM ranked WHERE rn = 1)
             |SELECT cluster, pos, round(avg(x), 6) AS cx_new,
             |       count(*) AS n_members
             |FROM members GROUP BY cluster, pos ORDER BY cluster, pos""".stripMargin)),

    // ------------------------------------------------------------------
    // Q72: rolling 7-day distinct users per day — the DAU/WAU shape.
    // Spelled shuffle-light: dedup to (day, user), EXPLODE each pair
    // into the 7 future days it contributes to (map-side ×7, no range
    // join), semi-join onto observed days, then one count-distinct
    // aggregation. At 100 TB the alternative day×events interval join
    // shuffles the fact table per day-bucket; this expansion keeps a
    // single shuffle keyed by day.
    Query(
      "q72_rolling_distinct",
      (s, dir) => {
        import s.implicits._
        val du = t(s, dir, "events")
          .select(to_date($"ts").as("d"), $"user_id").distinct()
        val days = du.select($"d".as("day")).distinct()
        du.select(explode(sequence($"d", date_add($"d", 6))).as("day"), $"user_id")
          .join(days, Seq("day"), "left_semi")
          .groupBy($"day")
          .agg(countDistinct($"user_id").as("u7"))
          .orderBy($"day")
      },
      Some("""WITH du AS (SELECT DISTINCT ts::DATE AS d, user_id FROM events),
             |days AS (SELECT DISTINCT d AS day FROM du)
             |SELECT dy.day, count(DISTINCT e.user_id) AS u7
             |FROM days dy JOIN du e ON e.d BETWEEN dy.day - 6 AND dy.day
             |GROUP BY dy.day ORDER BY dy.day""".stripMargin)),

    // ------------------------------------------------------------------
    // Q73: median absolute deviation — robust dispersion per group,
    // a two-pass exact-median pipeline (group median → broadcast back
    // → median of absolute residuals). The outlier-robust spread
    // metric length/quality filters want when stddev is skew-inflated.
    Query(
      "q73_mad",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem").select($"l_returnflag", $"l_quantity")
        val med = li.groupBy($"l_returnflag")
          .agg(median($"l_quantity").as("med"))
        li.join(broadcast(med), Seq("l_returnflag"))
          .groupBy($"l_returnflag")
          .agg(round(first($"med"), 4).as("med_qty"),
            round(median(abs($"l_quantity" - $"med")), 4).as("mad_qty"),
            round(stddev($"l_quantity"), 4).as("sd_qty"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH med AS (SELECT l_returnflag, median(l_quantity) AS med
             |            FROM lineitem GROUP BY l_returnflag)
             |SELECT l.l_returnflag,
             |       round(any_value(m.med), 4) AS med_qty,
             |       round(median(abs(l.l_quantity - m.med)), 4) AS mad_qty,
             |       round(stddev(l.l_quantity), 4) AS sd_qty
             |FROM lineitem l JOIN med m USING (l_returnflag)
             |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin)),

    // ------------------------------------------------------------------
    // Q74: benchmark decontamination — for each held-out "eval" doc
    // (doc_id % 97 == 0, a stand-in benchmark set), how many training
    // docs share a distinct 5-gram with it and how many grams leak.
    // The eval side's exploded grams are broadcast (an eval set is
    // tiny next to a 100 TB corpus), so the training corpus streams
    // through one broadcast-hash join — no shuffle of the big side.
    // Left join keeps clean eval docs in the report with zero counts.
    Query(
      "q74_decontaminate",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").select($"doc_id", $"text")
        val grams = docs.select($"doc_id",
          explode(array_distinct(TF.shingles($"text", 5))).as("g"))
        val eg = grams.filter($"doc_id" % 97 === 0)
          .select($"doc_id".as("eval_id"), $"g")
        val tg = grams.filter($"doc_id" % 97 =!= 0)
          .select($"doc_id".as("train_id"), $"g")
        val hits = tg.join(broadcast(eg), Seq("g"))
          .groupBy($"eval_id")
          .agg(countDistinct($"train_id").as("n_contaminating_docs"),
               countDistinct($"g").as("n_shared_ngrams"))
        docs.filter($"doc_id" % 97 === 0).select($"doc_id".as("eval_id"))
          .join(hits, Seq("eval_id"), "left")
          .select($"eval_id",
            coalesce($"n_contaminating_docs", lit(0L)).as("n_contaminating_docs"),
            coalesce($"n_shared_ngrams", lit(0L)).as("n_shared_ngrams"))
          .orderBy($"eval_id")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
             |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |        generate_series(1, len(tk) - 4),
             |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
             |             tk[i+3] || ' ' || tk[i+4]))) AS g FROM tk),
             |e AS (SELECT doc_id AS eval_id, g FROM g WHERE doc_id % 97 = 0),
             |tr AS (SELECT doc_id AS train_id, g FROM g WHERE doc_id % 97 <> 0),
             |hits AS (SELECT eval_id, count(DISTINCT train_id) AS n_contaminating_docs,
             |                count(DISTINCT e.g) AS n_shared_ngrams
             |         FROM e JOIN tr USING (g) GROUP BY eval_id)
             |SELECT d.doc_id AS eval_id,
             |       coalesce(h.n_contaminating_docs, 0) AS n_contaminating_docs,
             |       coalesce(h.n_shared_ngrams, 0) AS n_shared_ngrams
             |FROM documents d LEFT JOIN hits h ON h.eval_id = d.doc_id
             |WHERE d.doc_id % 97 = 0 ORDER BY eval_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q75: corpus source-mix profile — docs, corpus share, and mean
    // length per (source, language). The global-total window runs over
    // the ALREADY-AGGREGATED ~|sources|x|langs| frame, so the
    // single-partition window is a few hundred rows regardless of
    // corpus size — aggregate first, then window.
    Query(
      "q75_source_mix",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .groupBy($"source", $"lang")
          .agg(count(lit(1)).as("n_docs"),
               round(avg($"n_chars"), 4).as("avg_chars"))
          .withColumn("share",
            round($"n_docs" / sum($"n_docs")
              .over(Window.partitionBy(gpin($"source"))), 6))
          .select($"source", $"lang", $"n_docs", $"share", $"avg_chars")
          .orderBy($"source", $"lang")
      },
      Some("""WITH m AS (SELECT source, lang, count(*) AS n_docs,
             |                  round(avg(n_chars), 4) AS avg_chars
             |           FROM documents GROUP BY source, lang)
             |SELECT source, lang, n_docs,
             |       round(n_docs / sum(n_docs) OVER (), 6) AS share,
             |       avg_chars
             |FROM m ORDER BY source, lang""".stripMargin)),

    // ------------------------------------------------------------------
    // Q76: temperature-scaled sampling weights — the data-mixing step:
    // per-source weight ∝ n^0.7 (upsamples small sources, tempers
    // large ones), normalized, with the expected document count for a
    // 10k-doc epoch. Weights rounded to 6 dp before the epoch
    // multiply so both engines round identical doubles.
    Query(
      "q76_sampling_weights",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w07", pow($"n_docs", 0.7d))
          .withColumn("weight", round($"w07" / sum($"w07")
            .over(Window.partitionBy(gpin($"source"))), 6))
          .select($"source", $"n_docs", $"weight",
            round($"weight" * 10000, 0).cast("long").as("docs_per_epoch"))
          .orderBy($"source")
      },
      Some("""WITH m AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
             |w AS (SELECT source, n_docs,
             |             round(pow(n_docs, 0.7) / sum(pow(n_docs, 0.7)) OVER (), 6) AS weight
             |      FROM m)
             |SELECT source, n_docs, weight,
             |       round(weight * 10000, 0)::BIGINT AS docs_per_epoch
             |FROM w ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Q77: sequence packing (concat-and-split) — the GPT-pretraining
    // layout: per language stream, documents are concatenated in
    // doc_id order and split into fixed 2048-token blocks; each doc
    // reports the block range it lands in. One running-sum window per
    // language partition — packing 100 TB is a single shuffle keyed by
    // the stream id, not a sequential driver loop.
    Query(
      "q77_sequence_pack",
      // Round 8: the running sum goes through PrefixScan — a bare
      // (lang)-keyed window has |languages| partitions of corpus-scale
      // width, the q160-class funnel. Same result, hash-green.
      (s, dir) => {
        import s.implicits._
        graft.operators.PrefixScan.scan(
            t(s, dir, "documents")
              .select($"doc_id", $"lang", TF.tokenCount($"text").as("ntok")),
            Seq("lang"), "doc_id", "ntok", "cum", "sum", 32)
          .select($"doc_id", $"lang", $"ntok",
            (($"cum" - $"ntok") / 2048).cast("long").as("start_block"),
            (($"cum" - 1) / 2048).cast("long").as("end_block"))
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, lang,
             |                  len(string_split_regex(trim(text), '\s+'))::BIGINT AS ntok
             |           FROM documents),
             |c AS (SELECT doc_id, lang, ntok,
             |             sum(ntok) OVER (PARTITION BY lang ORDER BY doc_id) AS cum FROM d)
             |SELECT doc_id, lang, ntok,
             |       ((cum - ntok) // 2048)::BIGINT AS start_block,
             |       ((cum - 1) // 2048)::BIGINT AS end_block
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q78: per-group top-k as a MERGEABLE AGGREGATE (TopKAggregator) —
    // unlike the q07 window spelling, the map side reduces every
    // partition to ≤ k entries per group BEFORE the shuffle, so the
    // exchange carries O(groups × k) rows, not O(rows): the difference
    // between per-group top-k that scales and one that sorts the
    // corpus. Result == the window form, which is what the oracle
    // computes.
    Query(
      "q78_topk_agg",
      (s, dir) => {
        import s.implicits._
        val topk = udaf(new graft.functions.TopKAggregator(3))
        t(s, dir, "customer")
          .groupBy($"c_nationkey")
          .agg(topk($"c_acctbal", $"c_custkey").as("top"))
          .select($"c_nationkey", posexplode($"top").as(Seq("pos", "e")))
          .select($"c_nationkey", ($"pos" + 1).cast("long").as("rank"),
            $"e._2".as("c_custkey"), $"e._1".as("bal"))
          .orderBy($"c_nationkey", $"rank")
      },
      Some("""SELECT c_nationkey, rank, c_custkey, bal FROM (
             |  SELECT c_nationkey, c_custkey, c_acctbal AS bal,
             |         row_number() OVER (PARTITION BY c_nationkey
             |           ORDER BY c_acctbal DESC, c_custkey)::BIGINT AS rank
             |  FROM customer)
             |WHERE rank <= 3 ORDER BY c_nationkey, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // Q79: FULL OUTER join surface — per-nation customer stats vs
    // supplier counts. Both sides are pre-aggregated to nation grain
    // BEFORE the join, so the full-outer exchange moves ≤ |nation|
    // rows per side regardless of fact-table size; null sides
    // materialize as 0-counts / null averages.
    Query(
      "q79_full_outer",
      (s, dir) => {
        import s.implicits._
        val cu = t(s, dir, "customer")
          .groupBy($"c_nationkey".as("ck"))
          .agg(count(lit(1)).as("n_cust"), round(avg($"c_acctbal"), 4).as("avg_bal"))
        val su = t(s, dir, "supplier")
          .groupBy($"s_nationkey".as("sk"))
          .agg(count(lit(1)).as("n_supp"))
        cu.join(su, $"ck" === $"sk", "full_outer")
          .select(coalesce($"ck", $"sk").as("nationkey"),
                  coalesce($"n_cust", lit(0L)).as("n_cust"), $"avg_bal",
                  coalesce($"n_supp", lit(0L)).as("n_supp"))
          .orderBy($"nationkey")
      },
      Some("""WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust,
             |                  round(avg(c_acctbal), 4) AS avg_bal
             |           FROM customer GROUP BY 1),
             |s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
             |      FROM supplier GROUP BY 1)
             |SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
             |       coalesce(n_cust, 0)::BIGINT AS n_cust, avg_bal,
             |       coalesce(n_supp, 0)::BIGINT AS n_supp
             |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
             |ORDER BY nationkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q80: correlated LATERAL join (SQL entry point) — top-2 customers
    // by balance per region. Catalyst decorrelates the LIMIT'd lateral
    // subquery into a ranked window over the joined input (DomainJoin
    // rewrite), so the plan is one join + one bounded window, not a
    // per-region re-scan of customer.
    Query(
      "q80_lateral_topn",
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""
          SELECT r_name, c_custkey, c_name, c_acctbal
          FROM region JOIN LATERAL (
            SELECT c_custkey, c_name, c_acctbal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_regionkey = r_regionkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
          ORDER BY r_name, c_acctbal DESC, c_custkey""")
      },
      Some("""SELECT r_name, c_custkey, c_name, c_acctbal
             |FROM region, LATERAL (
             |  SELECT c_custkey, c_name, c_acctbal
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  WHERE n_regionkey = r_regionkey
             |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
             |ORDER BY r_name, c_acctbal DESC, c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q81: chunk-level corpus dedup (CCNet-style) — every document is
    // cut into aligned 10-token chunks; a chunk survives only at its
    // first corpus occurrence (min doc_id, pos). Per-doc keep ratio is
    // the quality/contamination signal. One shuffle keyed by chunk
    // (the row_number partition); at 100 TB the chunk key would be a
    // hash, not the text — same plan, narrower exchange.
    Query(
      "q81_chunk_dedup",
      (s, dir) => {
        import s.implicits._
        val ch = t(s, dir, "documents")
          .select($"doc_id", split($"text", " ").as("ts"))
          .select($"doc_id", posexplode(expr(
            """transform(sequence(0, cast(ceil(size(ts)/10.0) as int) - 1),
               i -> array_join(slice(ts, i*10+1, 10), ' '))""")).as(Seq("pos", "chunk")))
          .select($"doc_id", $"pos".cast("long").as("pos"), $"chunk")
        val w = Window.partitionBy($"chunk").orderBy($"doc_id", $"pos")
        ch.withColumn("rn", row_number().over(w))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_chunks"),
               sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_kept"))
          .select($"doc_id", $"n_chunks", $"n_kept",
                  round($"n_kept".cast("double") / $"n_chunks", 4).as("keep_ratio"))
          .orderBy($"doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |lst AS (SELECT doc_id, list_transform(
             |          generate_series(0, CAST(ceil(len(ts)/10.0) AS BIGINT) - 1),
             |          i -> {'pos': i::BIGINT, 'chunk': array_to_string(ts[i*10+1 : i*10+10], ' ')}) AS cs
             |        FROM tok),
             |ch AS (SELECT doc_id, u.pos AS pos, u.chunk AS chunk
             |       FROM lst, LATERAL (SELECT unnest(cs, recursive := true)) u),
             |r AS (SELECT doc_id, pos, chunk,
             |             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn FROM ch)
             |SELECT doc_id, count(*) AS n_chunks,
             |       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             |       round(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS keep_ratio
             |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q82: BM25 retrieval (k1=1.2, b=0.75) for a fixed query term set —
    // the classic lexical scorer a training-data search/dedup stack
    // needs next to embedding ANN. tf comes from one explode+filter
    // pass (the filter prunes to query terms BEFORE the aggregation
    // shuffle); df and corpus stats are tiny broadcast frames. Scores
    // rounded to 4 dp on both engines before the top-20 rank.
    Query(
      "q82_bm25",
      (s, dir) => {
        import s.implicits._
        val terms = Seq("spark", "join", "merge")
        val tok = t(s, dir, "documents")
          .select($"doc_id", TF.tokens($"text").as("ts"))
        val dl = tok.select($"doc_id", size($"ts").cast("double").as("dl"))
        val stats = dl.agg(count(lit(1)).cast("double").as("n"), avg($"dl").as("avgdl"))
        val tf = tok.select($"doc_id", explode($"ts").as("term"))
          .filter($"term".isin(terms: _*))
          .groupBy($"doc_id", $"term")
          .agg(count(lit(1)).cast("double").as("tf"))
        val df = tf.groupBy($"term").agg(count(lit(1)).cast("double").as("df"))
        tf.join(broadcast(df), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("contrib",
            log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) * $"tf" * 2.2 /
              ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")))
          .groupBy($"doc_id")
          .agg(round(sum($"contrib"), 4).as("bm25"))
          .orderBy($"bm25".desc, $"doc_id")
          .limit(20)
      },
      Some("""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |dl AS (SELECT doc_id, len(ts)::DOUBLE AS dl FROM tok),
             |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
             |tf AS (SELECT doc_id, t AS term, count(*)::DOUBLE AS tf
             |       FROM tok, LATERAL unnest(ts) AS u(t)
             |       WHERE t IN ('spark', 'join', 'merge') GROUP BY 1, 2),
             |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id,
             |              sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf.tf * 2.2 /
             |                  (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS score
             |       FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, stats
             |       GROUP BY 1)
             |SELECT doc_id, round(score, 4) AS bm25
             |FROM sc ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // Q83: mode (most frequent value) per group with a deterministic
    // tie-break — count-then-rank, the distributed argmax spelling:
    // the count aggregation collapses to (group × value) grain before
    // the tiny ranking window.
    Query(
      "q83_mode_agg",
      (s, dir) => {
        import s.implicits._
        val j = t(s, dir, "orders")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment".as("segment"), $"o_orderpriority".as("priority"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy($"segment").orderBy($"n".desc, $"priority")
        j.withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"segment", $"priority".as("mode_priority"), $"n".as("n_orders"))
          .orderBy($"segment")
      },
      Some("""WITH j AS (SELECT c_mktsegment AS segment, o_orderpriority AS priority, count(*) AS n
             |           FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
             |r AS (SELECT segment, priority, n,
             |             row_number() OVER (PARTITION BY segment ORDER BY n DESC, priority) AS rn
             |      FROM j)
             |SELECT segment, priority AS mode_priority, n AS n_orders
             |FROM r WHERE rn = 1 ORDER BY segment""".stripMargin)),

    // ------------------------------------------------------------------
    // Q84: equi-depth histogram via ntile — exact decile buckets of
    // order value with per-bucket count/min/max/avg. The global ntile
    // window (operators.EquiDepth.exactHistogram) is the oracle-able
    // contract; the 100 TB spelling is EquiDepth.approxHistogram —
    // approx_percentile sketch cut points broadcast as literals, no
    // global sort — spec-asserted to agree on edges within sketch
    // error (PairKernelsSpec/EquiDepthSpec).
    Query(
      "q84_equidepth_hist",
      (s, dir) => {
        import s.implicits._
        graft.operators.EquiDepth
          .exactHistogram(t(s, dir, "orders"), $"o_totalprice", $"o_orderkey", 10)
          .select($"bucket", $"n",
                  round($"lo", 2).as("lo"), round($"hi", 2).as("hi"),
                  round($"avg_v", 4).as("avg_price"))
          .orderBy($"bucket")
      },
      Some("""WITH b AS (SELECT o_totalprice,
             |                  ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
             |           FROM orders)
             |SELECT bucket::BIGINT AS bucket, count(*) AS n,
             |       round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi,
             |       round(avg(o_totalprice), 4) AS avg_price
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // Q85: winsorized statistics — clamp each group's order values at
    // its exact [p05, p95] and report the robust mean + clip counts.
    // The percentile aggregation runs once per group (bounded groups),
    // then broadcasts back over the facts; unbounded-cardinality
    // columns would use approx_percentile (q37b) for the cut points.
    Query(
      "q85_winsorize",
      (s, dir) => {
        import s.implicits._
        val q = t(s, dir, "orders")
          .groupBy($"o_orderpriority".as("priority"))
          .agg(percentile($"o_totalprice", lit(0.05)).as("p05"),
               percentile($"o_totalprice", lit(0.95)).as("p95"))
        t(s, dir, "orders")
          .join(broadcast(q), $"o_orderpriority" === $"priority")
          .groupBy($"priority", $"p05", $"p95")
          .agg(sum(when($"o_totalprice" < $"p05", 1L).otherwise(0L)).as("n_low"),
               sum(when($"o_totalprice" > $"p95", 1L).otherwise(0L)).as("n_high"),
               round(avg(when($"o_totalprice" < $"p05", $"p05")
                 .when($"o_totalprice" > $"p95", $"p95")
                 .otherwise($"o_totalprice")), 4).as("winsorized_avg"))
          .select($"priority", round($"p05", 4).as("p05"), round($"p95", 4).as("p95"),
                  $"n_low", $"n_high", $"winsorized_avg")
          .orderBy($"priority")
      },
      Some("""WITH q AS (SELECT o_orderpriority AS priority,
             |                  quantile_cont(o_totalprice, 0.05) AS p05,
             |                  quantile_cont(o_totalprice, 0.95) AS p95
             |           FROM orders GROUP BY 1)
             |SELECT priority, round(p05, 4) AS p05, round(p95, 4) AS p95,
             |       sum(CASE WHEN o_totalprice < p05 THEN 1 ELSE 0 END)::BIGINT AS n_low,
             |       sum(CASE WHEN o_totalprice > p95 THEN 1 ELSE 0 END)::BIGINT AS n_high,
             |       round(avg(CASE WHEN o_totalprice < p05 THEN p05
             |                      WHEN o_totalprice > p95 THEN p95
             |                      ELSE o_totalprice END), 4) AS winsorized_avg
             |FROM orders JOIN q ON o_orderpriority = priority
             |GROUP BY priority, p05, p95 ORDER BY priority""".stripMargin)),

    // ------------------------------------------------------------------
    // Q86: dense grid report — CROSS JOIN the dimension domain
    // (region × order status) and LEFT JOIN the measured cells so
    // empty combinations appear as explicit zeros. The grid is tiny
    // (|dims| product) and broadcast; the facts are pre-aggregated to
    // cell grain before touching it.
    Query(
      "q86_dense_grid",
      (s, dir) => {
        import s.implicits._
        val grid = t(s, dir, "region").select($"r_name")
          .crossJoin(t(s, dir, "orders").select($"o_orderstatus".as("status")).distinct())
        val cnt = t(s, dir, "orders")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
          .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name", $"o_orderstatus".as("status"))
          .agg(count(lit(1)).as("n_raw"), round(sum($"o_totalprice"), 2).as("rev_raw"))
        // cnt is cell-grain (|region| × |status|) but sits above an
        // aggregate, so Catalyst has no size estimate for it — hint
        // the broadcast explicitly for the left-outer probe.
        grid.join(broadcast(cnt), Seq("r_name", "status"), "left")
          .select($"r_name", $"status",
                  coalesce($"n_raw", lit(0L)).as("n_orders"),
                  coalesce($"rev_raw", lit(0.0)).as("revenue"))
          .orderBy($"r_name", $"status")
      },
      Some("""WITH grid AS (SELECT r_name, o_orderstatus AS status
             |              FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s),
             |cnt AS (SELECT r_name, o_orderstatus AS status, count(*) AS n_raw,
             |               round(sum(o_totalprice), 2) AS rev_raw
             |        FROM orders JOIN customer ON o_custkey = c_custkey
             |          JOIN nation ON c_nationkey = n_nationkey
             |          JOIN region ON n_regionkey = r_regionkey
             |        GROUP BY 1, 2)
             |SELECT g.r_name, g.status, coalesce(n_raw, 0)::BIGINT AS n_orders,
             |       coalesce(rev_raw, 0.0) AS revenue
             |FROM grid g LEFT JOIN cnt c ON g.r_name = c.r_name AND g.status = c.status
             |ORDER BY g.r_name, g.status""".stripMargin)),

    // ------------------------------------------------------------------
    // Q87: shingle CONTAINMENT — |A∩B| / |A|, the asymmetric near-dup
    // measure that catches a short document embedded inside a longer
    // one (Jaccard misses those: the union is dominated by the long
    // side). Directed pairs, so both (a,b) and (b,a) can report.
    // All-pairs verify-only spelling; the scale generator is the same
    // MinHash/LSH candidate pipeline as q33.
    Query(
      "q87_containment",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id", array_distinct(TF.shingles($"text", 3)).as("sh"))
        val a = docs.select($"doc_id".as("doc_a"), $"sh".as("sha"))
        val b = docs.select($"doc_id".as("doc_b"), $"sh".as("shb"))
        a.join(broadcast(b), $"doc_a" =!= $"doc_b")
          .withColumn("containment",
            size(array_intersect($"sha", $"shb")).cast("double") / size($"sha"))
          .filter($"containment" >= 0.5)
          .select($"doc_a", $"doc_b", round($"containment", 4).as("containment"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
             |sh AS (SELECT doc_id, list_distinct(list_transform(
             |         generate_series(1, len(tk) - 2),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh FROM tk)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 4) AS containment
             |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
             |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh) >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin),
      headline = false),

    // ------------------------------------------------------------------
    // Q88: deterministic weighted corpus sampling — materialize the
    // q76 temperature-mix: per-source targets ∝ n^0.7 for a fixed
    // document budget, then take each source's first `target_n` docs
    // in content-hash order (md5 of the id = a stable uniform draw,
    // reproducible across runs/engines — no rand()). Targets are a
    // tiny broadcast; the per-source rank is one shuffle.
    Query(
      "q88_grouped_sample",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val w07 = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
          .withColumn("weight",
            round(pow($"n_docs", 0.7d) / sum(pow($"n_docs", 0.7d))
              .over(Window.partitionBy(gpin($"source"))), 6))
        val tgt = w07.select($"source",
          least($"n_docs", round($"weight" * 200, 0).cast("long")).as("target_n"))
        val w = Window.partitionBy($"source")
          .orderBy(md5($"doc_id".cast("string")), $"doc_id")
        docs.select($"doc_id", $"source")
          .withColumn("rk", row_number().over(w).cast("long"))
          .join(broadcast(tgt), "source")
          .filter($"rk" <= $"target_n")
          .select($"doc_id", $"source", $"rk")
          .orderBy($"source", $"rk")
      },
      Some("""WITH m AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
             |w AS (SELECT source, n_docs,
             |             round(pow(n_docs, 0.7) / sum(pow(n_docs, 0.7)) OVER (), 6) AS weight
             |      FROM m),
             |tgt AS (SELECT source, least(n_docs, round(weight * 200, 0)::BIGINT) AS target_n FROM w),
             |rk AS (SELECT doc_id, source,
             |              row_number() OVER (PARTITION BY source
             |                ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id) AS rk
             |       FROM documents)
             |SELECT r.doc_id, r.source, r.rk::BIGINT AS rk
             |FROM rk r JOIN tgt ON r.source = tgt.source
             |WHERE r.rk <= tgt.target_n
             |ORDER BY r.source, r.rk""".stripMargin)),

    // ------------------------------------------------------------------
    // Q89: vocabulary coverage curve — cumulative corpus share of the
    // top-k token types at rank checkpoints (every 5 up to 40). The
    // query only ever consumes ranks <= 40, so the top-40 is taken by
    // a distributed sort+limit (per-partition top-40, one tiny merge)
    // and the rank/cumsum window runs over THOSE 40 ROWS ONLY — never
    // an unpartitioned window over the full vocabulary, which over a
    // 100 TB web corpus is heavy-tailed (URLs, numbers, typos:
    // billions of token types funneled through one task). The grand
    // total is a separate one-row aggregate over the SAME token-count
    // exchange (ReuseExchange: the corpus is tokenized and shuffled
    // once; both branches read that shuffle), cross-joined broadcast
    // onto the 8 checkpoint rows. The constant `g` partition key is
    // load-bearing only in that it keeps the 40-row window's
    // partitioning DEFINED (bounded input, no single-partition
    // corpus-grain stage — asserted in PlanAssertionsSpec).
    Query(
      "q89_vocab_coverage",
      (s, dir) => {
        import s.implicits._
        val f = t(s, dir, "documents")
          .select(explode(TF.tokens($"text")).as("term"))
          .groupBy($"term").agg(count(lit(1)).as("n"))
        // `g` is constant 0 for every row (WindowPins.gpin: a literal
        // would be folded and eliminated from the window spec). Cost:
        // one hash exchange of exactly 40 rows.
        val top = f.orderBy($"n".desc, $"term").limit(40)
          .withColumn("g", gpin($"term"))
        val total = f.agg(sum($"n").as("total"))
        val ord = Window.partitionBy($"g").orderBy($"n".desc, $"term")
        top.withColumn("vocab_size", row_number().over(ord).cast("long"))
          .withColumn("cum", sum($"n").over(
            ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter($"vocab_size" % 5 === 0 && $"vocab_size" <= 40)
          .crossJoin(broadcast(total))
          .select($"vocab_size", $"term".as("last_term"), $"n".as("term_freq"),
                  round($"cum".cast("double") / $"total", 6).as("coverage"))
          .orderBy($"vocab_size")
      },
      Some("""WITH tok AS (SELECT t AS term FROM documents,
             |             LATERAL unnest(string_split_regex(trim(text), '\s+')) AS u(t)),
             |f AS (SELECT term, count(*) AS n FROM tok GROUP BY 1),
             |r AS (SELECT term, n,
             |             row_number() OVER (ORDER BY n DESC, term) AS rk,
             |             sum(n) OVER (ORDER BY n DESC, term ROWS UNBOUNDED PRECEDING) AS cum,
             |             sum(n) OVER () AS total
             |      FROM f)
             |SELECT rk::BIGINT AS vocab_size, term AS last_term, n AS term_freq,
             |       round(cum::DOUBLE / total, 6) AS coverage
             |FROM r WHERE rk % 5 = 0 AND rk <= 40 ORDER BY rk""".stripMargin)),

    // ------------------------------------------------------------------
    // Q90: bigram language-model perplexity signal — per-document
    // average negative log-likelihood under the corpus bigram MLE
    // (p(w2|w1) = c12/c1). An unusually high avg_nll flags documents
    // whose word transitions don't match the corpus (noise, boiler-
    // plate, wrong language). Bigram/unigram counts are aggregates of
    // the exploded corpus; the score join is bigram-keyed — all hash
    // joins, no window over the corpus. The broadcast hints hold while
    // the bigram table is bounded (closed vocab, as here — it grows
    // with |V|², not corpus size); an open-vocab corpus drops the
    // hints and the same plan degrades gracefully to a shuffled hash
    // join on (w1, w2).
    Query(
      "q90_bigram_nll",
      (s, dir) => {
        import s.implicits._
        val bg = t(s, dir, "documents")
          .select($"doc_id", TF.tokens($"text").as("ts"))
          .filter(size($"ts") >= 2)
          .select($"doc_id", explode(expr(
            "transform(sequence(0, size(ts) - 2), i -> struct(ts[i] AS w1, ts[i+1] AS w2))")).as("b"))
          .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
        // cnt is consumed twice and BOTH consumers broadcast (the
        // bigram probe and the unigram rollup) — a BroadcastExchange
        // never reuses the other side's shuffle subplan (q141's
        // class), so un-pinned the tokenize + bigram explode + count
        // chain executed three times. Pinned, the explode pass runs
        // twice (cnt build + the probe side) and the unigram rollup
        // reads the bigram-grain checkpoint.
        val cnt = graft.operators.Checkpoints.track(
          bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
            .localCheckpoint(eager = false))
        val uni = cnt.groupBy($"w1").agg(sum($"c12").as("c1"))
        bg.join(broadcast(cnt), Seq("w1", "w2"))
          .join(broadcast(uni), Seq("w1"))
          .select($"doc_id", log($"c1".cast("double") / $"c12").as("nll"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bigrams"), round(avg($"nll"), 4).as("avg_nll"))
          .orderBy($"doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |bg AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
             |       FROM tok, LATERAL unnest(generate_series(1, len(ts) - 1)) AS g(i)),
             |cnt AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
             |uni AS (SELECT w1, sum(c12) AS c1 FROM cnt GROUP BY 1),
             |sc AS (SELECT bg.doc_id, ln(c1::DOUBLE / c12) AS nll
             |       FROM bg JOIN cnt ON bg.w1 = cnt.w1 AND bg.w2 = cnt.w2
             |               JOIN uni ON bg.w1 = uni.w1)
             |SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 4) AS avg_nll
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q91: VARIANT semi-structured path (Spark 4) — parse the JSON
    // props column ONCE into a variant, then typed extraction with
    // variant_get. Versus q29's per-path string functions, variant is
    // the engine's answer for open schemas at scale: one parse,
    // binary-encoded storage, typed access, shredding-friendly.
    Query(
      "q91_variant_extract",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select($"event_type", $"value",
            expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
          .withColumn("k_bucket", ($"k" / 10).cast("long"))
          .groupBy($"event_type", $"k_bucket")
          .agg(count(lit(1)).as("n"), round(avg($"value"), 4).as("avg_value"),
               min($"k").as("k_min"), max($"k").as("k_max"))
          .orderBy($"event_type", $"k_bucket")
      },
      Some("""WITH e AS (SELECT event_type, value,
             |                  json_extract_string(props, '$.k')::BIGINT AS k
             |           FROM events)
             |SELECT event_type, (k // 10)::BIGINT AS k_bucket, count(*) AS n,
             |       round(avg(value), 4) AS avg_value,
             |       min(k) AS k_min, max(k) AS k_max
             |FROM e GROUP BY event_type, k_bucket
             |ORDER BY event_type, k_bucket""".stripMargin)),

    // ------------------------------------------------------------------
    // Q92: mergeable HLL sketch rollup (Datasketches) — per-day user
    // sketches that UNION to any coarser grain without rescanning the
    // facts: the pre-aggregated distinct-count cube a 100 TB pipeline
    // stores instead of raw ids. count(distinct) over the same data is
    // the exactness check (spec asserts < 5% relative error); binary
    // sketches -> rows-only for the driver gate.
    Query(
      "q92_hll_rollup",
      (s, dir) => {
        import s.implicits._
        val daily = t(s, dir, "events")
          .groupBy(date_trunc("DAY", $"ts").as("day"))
          .agg(hll_sketch_agg($"user_id").as("sk"),
               count(lit(1)).as("n_events"))
        daily
          .agg(sum($"n_events").as("n_events"),
               count(lit(1)).as("n_days"),
               hll_sketch_estimate(hll_union_agg($"sk")).as("approx_users"))
      },
      None),

    // ------------------------------------------------------------------
    // Q93: time-series resample + gap fill — regularize each user's
    // event stream to a dense daily grid: missing days appear as n=0
    // rows and the last observed daily value forward-fills across the
    // gap (`last(..., ignoreNulls)` over a per-user window). The
    // calendar expansion is map-side (sequence+explode per user span,
    // no range join); one shuffle for the daily aggregate, one for the
    // per-user fill window.
    Query(
      "q93_gap_fill",
      (s, dir) => {
        import s.implicits._
        val daily = t(s, dir, "events")
          .groupBy($"user_id", date_trunc("DAY", $"ts").as("day"))
          .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("day_value"))
        val cal = daily.groupBy($"user_id")
          .agg(min($"day").as("d0"), max($"day").as("d1"))
          .select($"user_id",
            explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
        val w = Window.partitionBy($"user_id").orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cal.join(daily, Seq("user_id", "day"), "left")
          .select($"user_id", $"day",
            coalesce($"n", lit(0L)).as("n"),
            coalesce($"day_value", lit(0.0)).as("day_value"),
            last($"day_value", ignoreNulls = true).over(w).as("ff_value"))
          .orderBy($"user_id", $"day")
      },
      Some("""WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n,
             |                      round(sum(value), 4) AS day_value
             |               FROM events GROUP BY 1, 2),
             |spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
             |cal AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
             |        FROM spans),
             |filled AS (SELECT c.user_id, c.day, coalesce(d.n, 0)::BIGINT AS n, d.day_value
             |           FROM cal c LEFT JOIN daily d
             |             ON c.user_id = d.user_id AND c.day = d.day)
             |SELECT user_id, day, n, coalesce(day_value, 0.0) AS day_value,
             |       last_value(day_value IGNORE NULLS) OVER (PARTITION BY user_id
             |         ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff_value
             |FROM filled ORDER BY user_id, day""".stripMargin)),

    // ------------------------------------------------------------------
    // Q94: EXACT mergeable distinct counts via bitmap aggregates — the
    // complement to q92's approximate HLL: Spark's bitmap functions
    // pack ids into per-bucket roaring-style bitmaps that OR-merge
    // across partitions/grains, so exact distinct-count cubes can be
    // pre-aggregated and re-rolled like sums. Buckets partition the id
    // space (32768 bits each), so per-bucket cardinalities sum to the
    // exact total — verified against DuckDB's plain count(DISTINCT).
    Query(
      "q94_bitmap_distinct",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy($"event_type",
                   date_trunc("WEEK", $"ts").cast("date").as("wk"),
                   expr("bitmap_bucket_number(user_id)").as("bkt"))
          .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
          .groupBy($"event_type", $"wk")
          .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
          .orderBy($"event_type", $"wk")
      },
      Some("""SELECT event_type, date_trunc('week', ts) AS wk,
             |       count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // Q95: ordered funnel analysis — users progressing view → click →
    // purchase where each step lands within 1 day of the previous
    // step's first occurrence. Each stage collapses to user grain
    // (min first-qualifying ts) BEFORE the next stage joins, so every
    // join input is ≤ |users| rows and the event scans are
    // type-filtered before any shuffle — the funnel never joins
    // event × event.
    Query(
      "q95_funnel",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val day = expr("INTERVAL 1 DAY")
        val v = ev.filter($"event_type" === "view")
          .groupBy($"user_id").agg(min($"ts").as("t1"))
          .select($"user_id".as("vu"), $"t1")
        val cstep = ev.filter($"event_type" === "click")
          .join(v, $"user_id" === $"vu" && $"ts" > $"t1" && $"ts" <= $"t1" + day)
          .groupBy($"user_id").agg(min($"ts").as("t2"))
          .select($"user_id".as("cu"), $"t2")
        val pstep = ev.filter($"event_type" === "purchase")
          .join(cstep, $"user_id" === $"cu" && $"ts" > $"t2" && $"ts" <= $"t2" + day)
          .groupBy($"user_id").agg(min($"ts").as("t3"))
        v.agg(count(lit(1)).as("n_view"))
          .crossJoin(cstep.agg(count(lit(1)).as("n_click_1d")))
          .crossJoin(pstep.agg(count(lit(1)).as("n_purchase_1d")))
          .select($"n_view", $"n_click_1d", $"n_purchase_1d",
            // try_divide: == / when n_view > 0 (every non-degenerate
            // corpus, so the oracle hash is unchanged); on an EMPTY
            // events table it returns a NULL conversion instead of an
            // ANSI DIVIDE_BY_ZERO crash (DegenerateInputsSpec)
            round(try_divide($"n_purchase_1d".cast("double"), $"n_view"), 4)
              .as("conversion"))
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
             |           WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) AS t2
             |      FROM events e JOIN v ON e.user_id = v.user_id
             |        AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 DAY
             |      WHERE e.event_type = 'click' GROUP BY 1),
             |p AS (SELECT e.user_id, min(e.ts) AS t3
             |      FROM events e JOIN c ON e.user_id = c.user_id
             |        AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 1 DAY
             |      WHERE e.event_type = 'purchase' GROUP BY 1)
             |SELECT (SELECT count(*) FROM v) AS n_view,
             |       (SELECT count(*) FROM c) AS n_click_1d,
             |       (SELECT count(*) FROM p) AS n_purchase_1d,
             |       round((SELECT count(*) FROM p)::DOUBLE /
             |             (SELECT count(*) FROM v), 4) AS conversion""".stripMargin)),

    // ------------------------------------------------------------------
    // Q96: cohort retention — users cohorted by the week of their
    // first high-value purchase; n_active counts who repeat k weeks
    // later. Both inputs collapse to user/week grain before the
    // cohort join (≤ |users| × |weeks| rows), giving the classic
    // retention triangle (19 → 5 → 2 → 1 decay on this corpus).
    Query(
      "q96_retention",
      (s, dir) => {
        import s.implicits._
        val purch = t(s, dir, "events")
          .filter($"event_type" === "purchase" && $"value" > 150)
        val f = purch.groupBy($"user_id")
          .agg(date_trunc("WEEK", min($"ts")).cast("date").as("cohort"))
        val act = purch
          .select($"user_id", date_trunc("WEEK", $"ts").cast("date").as("wk"))
          .distinct()
        f.join(act, "user_id")
          .select($"cohort",
            (datediff($"wk", $"cohort") / 7).cast("long").as("week_n"),
            $"user_id")
          .groupBy($"cohort", $"week_n")
          .agg(countDistinct($"user_id").as("n_active"))
          .orderBy($"cohort", $"week_n")
      },
      Some("""WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
             |           FROM events WHERE event_type = 'purchase' AND value > 150
             |           GROUP BY 1),
             |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
             |        FROM events WHERE event_type = 'purchase' AND value > 150),
             |j AS (SELECT f.cohort,
             |             (date_diff('day', f.cohort, act.wk) // 7)::BIGINT AS week_n,
             |             act.user_id
             |      FROM f JOIN act ON f.user_id = act.user_id)
             |SELECT cohort, week_n, count(DISTINCT user_id) AS n_active
             |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // Q97: inverted-index build — sorted posting lists per term, the
    // index-construction step behind q82's BM25 retrieval. One
    // distinct-explode + one grouping shuffle; list size is bounded by
    // document frequency. At 100 TB hot terms shard their postings by
    // doc-id range (bucketed sink) instead of one giant array row —
    // same aggregation plan per shard.
    Query(
      "q97_inverted_index",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id", explode(array_distinct(TF.tokens($"text"))).as("term"))
          .groupBy($"term")
          .agg(count(lit(1)).as("df"),
               // Postings as a canonical comma-joined string, not an
               // ARRAY column: the driver's pandas row-sort cannot hash
               // ndarray cells (round-5 oracle harness crash). Sorted
               // numerically BEFORE the string cast so 2 < 10.
               array_join(transform(sort_array(collect_list($"doc_id")),
                 x => x.cast("string")), ",").as("postings"))
          .orderBy($"term")
      },
      Some("""WITH t AS (SELECT DISTINCT doc_id, t AS term
             |           FROM documents,
             |                LATERAL unnest(list_distinct(
             |                  string_split_regex(trim(text), '\s+'))) AS u(t))
             |SELECT term, count(*) AS df,
             |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
             |FROM t GROUP BY term ORDER BY term""".stripMargin)),

    // ------------------------------------------------------------------
    // Q98: prefix-filtered set-similarity join (AllPairs/PPJoin
    // family) — the EXACT-recall scale path for q32's all-pairs
    // Jaccard. Each document contributes only its |d|-⌈t·|d|⌉+1
    // globally-rarest shingles (rarest-first total order = (df,
    // shingle)); any pair with J ≥ t provably shares a prefix token,
    // so candidates come from an equi-join on rare shingles — near-
    // linear on real corpora — instead of the O(n²) cross product,
    // and unlike MinHash (q33) the guarantee is exact, so this query
    // hash-matches the all-pairs oracle. One agg for df, one per-doc
    // window for prefix ranks, one candidate equi-join, one verify
    // join.
    Query(
      "q98_prefix_filter_neardup",
      // Round 8: the PPJoin machinery is factored into
      // operators.PPJoin.similarPairs (unchanged logic, hash-verified)
      // so PretrainPipeline's near-dup stage reuses it. Measured at
      // sf0.1: 409k → 125k candidates before the exact-verify join.
      // Round 10: identical shingle-sets collapse to one content
      // fingerprint before candidate generation (pairs re-expand
      // after) — on duplicate-heavy corpora candidate volume had
      // grown with the SQUARE of the duplicate rate; measured 15× at
      // 30× replicas, output hash-identical.
      (s, dir) => {
        import s.implicits._
        graft.operators.PPJoin.similarPairs(
            t(s, dir, "documents")
              .select($"doc_id", array_distinct(TF.shingles($"text", 3)).as("sh")),
            "doc_id", "sh", thr = 0.5)
          .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard_r"))
          .orderBy($"doc_a", $"doc_b")
      },
      // Exact recall ⇒ the oracle is the same all-pairs SQL as q32.
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
             |sh AS (SELECT doc_id, list_distinct(list_transform(
             |         generate_series(1, len(tk) - 2),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh FROM tk)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             |             len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard_r
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
             |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Q99: corpus-mix drift — Jensen-Shannon divergence of each
    // source's token distribution against the whole corpus. The
    // monitoring signal a training-data pipeline watches when a new
    // crawl shifts the mix. Exact (no smoothing needed: the corpus
    // mixture has full support wherever either side is nonzero);
    // absent tokens contribute q·ln2 through the dense source×vocab
    // grid. Two token aggs + one grid join; vocab is the only
    // broadcast-sized side, facts never shuffle twice.
    Query(
      "q99_token_drift",
      (s, dir) => {
        import s.implicits._
        val tok = t(s, dir, "documents")
          .select($"source", explode(TF.tokens($"text")).as("tk"))
        val sc = tok.groupBy($"source", $"tk").agg(count(lit(1)).as("c"))
        val st = sc.groupBy($"source").agg(sum($"c").as("ns"))
        val vocab = sc.groupBy($"tk").agg(sum($"c").as("cc"))
        val tot = vocab.agg(sum($"cc").as("n"))
        val grid = st.crossJoin(broadcast(vocab)).crossJoin(broadcast(tot))
        val j = grid.join(sc, Seq("source", "tk"), "left")
          .select($"source",
            (coalesce($"c", lit(0L)).cast("double") / $"ns").as("p"),
            ($"cc".cast("double") / $"n").as("q"))
        j.groupBy($"source")
          .agg(round(sum(
            when($"p" > 0, lit(0.5) * $"p" * log(lit(2.0) * $"p" / ($"p" + $"q")))
              .otherwise(lit(0.0))
            + lit(0.5) * $"q" * log(lit(2.0) * $"q" / ($"p" + $"q"))), 4).as("js_div"))
          .orderBy($"source")
      },
      Some("""WITH tok AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tk
             |             FROM documents),
             |sc AS (SELECT source, tk, count(*) AS c FROM tok GROUP BY 1, 2),
             |st AS (SELECT source, sum(c) AS ns FROM sc GROUP BY 1),
             |vocab AS (SELECT tk, sum(c) AS cc FROM sc GROUP BY 1),
             |tot AS (SELECT sum(cc) AS n FROM vocab),
             |j AS (SELECT st.source,
             |             coalesce(s.c, 0)::DOUBLE / st.ns AS p,
             |             v.cc::DOUBLE / t.n AS q
             |      FROM st CROSS JOIN vocab v CROSS JOIN tot t
             |      LEFT JOIN sc s ON st.source = s.source AND v.tk = s.tk)
             |SELECT source, round(sum(
             |         CASE WHEN p > 0 THEN 0.5 * p * ln(2 * p / (p + q)) ELSE 0 END
             |         + 0.5 * q * ln(2 * q / (p + q))), 4) AS js_div
             |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Q100: one weighted PageRank iteration over the customer-nation →
    // supplier-nation trade graph. The edge build is the heavy part
    // (lineitem⋈orders is the only big shuffle; customer/supplier/
    // nation broadcast) and collapses to nation×nation grain (≤625
    // rows) before any rank math, so the iteration itself is
    // metadata-sized — the standard shape for iterating on a graph
    // whose edge *construction* is the 100 TB step.
    Query(
      "q100_pagerank_step",
      (s, dir) => {
        import s.implicits._
        val edges = t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_suppkey")
          .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
                $"l_orderkey" === $"o_orderkey")
          .join(broadcast(t(s, dir, "customer").select($"c_custkey", $"c_nationkey")),
                $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")),
                $"l_suppkey" === $"s_suppkey")
          .groupBy($"c_nationkey".as("un"), $"s_nationkey".as("vn"))
          .agg(count(lit(1)).as("w"))
        // NOT pinned despite the out-degree/contribution double
        // consumption: the runtime plan already reuses the fact-join
        // exchanges (3 ReusedExchange nodes), and a localCheckpoint
        // here measured +6% (alternating A/B, min-of-3 at sf0.1).
        val nodes = t(s, dir, "nation").select($"n_nationkey", $"n_name")
        val nN = nodes.agg(count(lit(1)).cast("double").as("nn"))
        val outd = edges.groupBy($"un").agg(sum($"w").as("wout"))
        val contrib = edges.join(outd, "un").crossJoin(broadcast(nN))
          .groupBy($"vn")
          .agg(sum((lit(1.0) / $"nn") * $"w" / $"wout").as("cin"))
        nodes.join(contrib, $"n_nationkey" === $"vn", "left")
          .crossJoin(broadcast(nN))
          .select($"n_name",
            round(lit(0.15) / $"nn" + lit(0.85) * coalesce($"cin", lit(0.0)), 6).as("pr"))
          .orderBy($"n_name")
      },
      Some("""WITH e AS (SELECT c.c_nationkey AS un, s.s_nationkey AS vn, count(*) AS w
             |           FROM lineitem l
             |           JOIN orders o ON l.l_orderkey = o.o_orderkey
             |           JOIN customer c ON o.o_custkey = c.c_custkey
             |           JOIN supplier s ON l.l_suppkey = s.s_suppkey
             |           GROUP BY 1, 2),
             |nn AS (SELECT count(*)::DOUBLE AS nn FROM nation),
             |outd AS (SELECT un, sum(w) AS wout FROM e GROUP BY 1),
             |contrib AS (SELECT e.vn, sum((1.0 / nn.nn) * e.w / o.wout) AS cin
             |            FROM e JOIN outd o ON e.un = o.un CROSS JOIN nn GROUP BY 1)
             |SELECT n.n_name, round(0.15 / nn.nn + 0.85 * coalesce(c.cin, 0), 6) AS pr
             |FROM nation n LEFT JOIN contrib c ON n.n_nationkey = c.vn CROSS JOIN nn
             |ORDER BY n.n_name""".stripMargin)),

    // ------------------------------------------------------------------
    // Q101: hopping (sliding) window counts, batch form — 1 h windows
    // every 15 min. Spark's `window(ts, "1 hour", "15 minutes")`
    // expands each event to its 4 covering windows map-side (a
    // Generate, no join against a window-domain table), then one
    // aggregation shuffle; the streaming twin is the same expression
    // under `readStream` + watermark (StreamingWindowsSpec).
    Query(
      "q101_hopping_window",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select($"event_type", window($"ts", "1 hour", "15 minutes").as("w"))
          .groupBy($"w.start".as("w_start"), $"event_type")
          .agg(count(lit(1)).as("n"))
          .orderBy($"w_start", $"event_type")
      },
      Some("""WITH w AS (SELECT event_type,
             |                  unnest(generate_series(
             |                    time_bucket(INTERVAL 15 MINUTES, ts) - INTERVAL 45 MINUTES,
             |                    time_bucket(INTERVAL 15 MINUTES, ts),
             |                    INTERVAL 15 MINUTES)) AS w_start
             |           FROM events)
             |SELECT w_start, event_type, count(*) AS n
             |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // Q102: scalar-quantized (int8) ANN with asymmetric rescoring —
    // embeddings stored as int8 codes + one float scale per vector
    // (4× smaller than float32: at 100 TB that is 4× less scan I/O
    // and 4× more vectors per broadcast/shuffle byte). Queries stay
    // float; the shortlist ranks on the dequantized dot, then the
    // exact cosine rescores shortlist×queries only. Shortlist depth
    // 25 ≫ k=5 makes the max-rank-error budget generous (int8 dot
    // error ~1e-2 relative; observed top-5 identical to exact), so
    // the output hash-matches q13's exact-oracle SQL.
    Query(
      "q102_int8_ann",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
          .filter(VF.usableVec($"embedding")) // zero-norm/empty: no geometry (ANSI /0)
          .select($"vec_id", VF.asDouble($"embedding").as("v"))
        // int8 quantization: per-vector scale, codes in [-127, 127]
        val qd = e.select($"vec_id", $"v",
            (array_max(transform($"v", x => abs(x))) / 127.0).as("scale"))
          .select($"vec_id", $"v", $"scale",
            transform($"v", x => round(x / $"scale").cast("int")).as("code"))
        val queries = e.filter($"vec_id" < 10)
          .select($"vec_id".as("qid"), $"v".as("qv"))
          .withColumn("qnrm", sqrt(VF.dot($"qv", $"qv")))
        // shortlist on the dequantized dot (scale * <code, qv>)
        val approx = qd.join(broadcast(queries), $"vec_id" =!= $"qid")
          .select($"qid", $"vec_id".as("nid"), $"qv", $"qnrm", $"v".as("nv"),
            ($"scale" * VF.dot($"code".cast("array<double>"), $"qv")).as("ascore"))
        val wA = Window.partitionBy($"qid").orderBy($"ascore".desc, $"nid")
        val shortlist = approx
          .withColumn("arank", row_number().over(wA))
          .filter($"arank" <= 25)
        // exact rescore on shortlist only
        val wE = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
        shortlist
          .select($"qid", $"nid",
            (VF.dot($"qv", $"nv") / ($"qnrm" * sqrt(VF.dot($"nv", $"nv")))).as("sim"))
          .withColumn("rank", row_number().over(wE).cast("long"))
          .filter($"rank" <= 5)
          .select($"qid", $"nid", $"rank", round($"sim", 4).as("sim_r"))
          .orderBy($"qid", $"rank")
      },
      // Oracle: the EXACT brute-force top-5 (same as q13) — the
      // quantized shortlist must not lose a true neighbor.
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |          WHERE list_sum(list_transform(
             |                embedding::DOUBLE[], x -> x*x)) > 0),
             |s AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
             |             list_dot_product(q.v, c.v) /
             |               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
             |      FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
             |r AS (SELECT qid, nid, sim,
             |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             |      FROM s)
             |SELECT qid, nid, rank, round(sim, 4) AS sim_r FROM r WHERE rank <= 5
             |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // Q103: semantic near-dup pairs — documents whose embeddings are
    // close (cosine ≥ 0.4) but whose normalized text fingerprints
    // DIFFER: the paraphrase/translation duplicates that lexical
    // dedup (q12/q32) cannot see, tagged cross-lang/cross-source.
    // Pair generation is the blocked exact kernel
    // (operators.CosinePairs) — EXACT recall by construction, which is
    // what lets this hash-match the all-pairs oracle; see the kernel's
    // scaladoc for the measured geometry (qualifying pairs AT the 0.4
    // threshold over a near-random background) that rules out LSH/IVF
    // candidates at this threshold. The narrow metadata (lang, source,
    // fingerprint) broadcasts onto the few surviving pairs AFTER the
    // similarity filter instead of riding through the pair join.
    // Beyond ~10⁹ vectors, where the O(n²·d) arithmetic itself is the
    // wall, CosinePairs.clustered (SemDeDup k-means blocks + the same
    // exact kernel within blocks, recall measured in its scaladoc) is
    // the documented production route; the headline stays exact
    // because exactness is the oracle contract.
    Query(
      "q103_semantic_dedup",
      (s, dir) => {
        import s.implicits._
        val meta = t(s, dir, "documents")
          .select($"doc_id", $"lang", $"source", TF.fingerprint($"text").as("fp"))
        // Pairs over ALL embeddings; the inner meta joins below drop
        // pairs whose vec lacks a document row, which is exactly the
        // pre-join restriction the oracle's `e JOIN m` expresses —
        // moving it after the kernel keeps the build to one scan.
        val e = t(s, dir, "embeddings")
          .select($"vec_id".cast("long"), VF.asDouble($"embedding").as("v"))
          .as[(Long, Array[Double])]
        val ma = meta.select($"doc_id".as("id_a"), $"lang".as("lang_a"),
          $"source".as("src_a"), $"fp".as("fp_a"))
        val mb = meta.select($"doc_id".as("id_b"), $"lang".as("lang_b"),
          $"source".as("src_b"), $"fp".as("fp_b"))
        graft.operators.CosinePairs.exact(e, 0.4)
          .join(broadcast(ma), "id_a").join(broadcast(mb), "id_b")
          .filter($"fp_a" =!= $"fp_b")
          .select($"id_a".as("doc_a"), $"id_b".as("doc_b"),
            round($"sim", 4).as("sim_r"),
            ($"lang_a" =!= $"lang_b").as("cross_lang"),
            ($"src_a" =!= $"src_b").as("cross_source"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH m AS (SELECT doc_id, lang, source,
             |                  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
             |           FROM documents),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |     WHERE list_sum(list_transform(
             |                embedding::DOUBLE[], x -> x*x)) > 0),
             |j AS (SELECT m.doc_id, m.lang, m.source, m.fp, e.v,
             |             sqrt(list_dot_product(e.v, e.v)) AS nrm
             |      FROM e JOIN m ON e.vec_id = m.doc_id)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS sim_r,
             |       a.lang <> b.lang AS cross_lang,
             |       a.source <> b.source AS cross_source
             |FROM j a JOIN j b ON a.doc_id < b.doc_id
             |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
             |  AND a.fp <> b.fp
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Q104: SCD Type-2 dimension build — each entity's change stream
    // becomes versioned rows with [valid_from, valid_to) intervals,
    // version numbers and a current flag, via lead() over one per-
    // entity window (single shuffle on user_id). The batch spelling
    // of the CDC latest-wins view's full history; the streaming twin
    // is `streaming.Scd2View` — the same window re-run per micro-batch
    // over the touched-id slice only (spec: incremental == one-shot).
    Query(
      "q104_scd2_build",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        t(s, dir, "events")
          .select($"user_id", $"event_id", $"ts", $"value")
          .withColumn("valid_from", $"ts")
          .withColumn("valid_to", lead($"ts", 1).over(w))
          .withColumn("version", row_number().over(w).cast("long"))
          .withColumn("is_current", $"valid_to".isNull)
          .select($"user_id", $"event_id", round($"value", 4).as("value"),
            $"valid_from", $"valid_to", $"version", $"is_current")
          .orderBy($"user_id", $"version")
      },
      Some("""SELECT user_id, event_id, round(value, 4) AS value,
             |       ts AS valid_from,
             |       lead(ts) OVER w AS valid_to,
             |       row_number() OVER w AS version,
             |       (lead(ts) OVER w IS NULL) AS is_current
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY user_id, version""".stripMargin)),

    // ------------------------------------------------------------------
    // Q105: skyline / Pareto frontier — orders not dominated on
    // (minimize o_totalprice, maximize o_orderdate): the "no other
    // order is both cheaper and at least as recent" frontier, the
    // shape used for quality-vs-cost data selection. operators.Skyline:
    // collapse to price grain, range-partition the grain, LOCAL prefix
    // date-max per partition (parallel windows), prefix-max merge of
    // the P partition maxima (the only global ordered pass — P rows),
    // broadcast the annotated grain back. O(n log n), exact under
    // ties, no single-task stage — vs the O(n²) NOT-EXISTS dominance
    // join the oracle runs.
    Query(
      "q105_skyline",
      (s, dir) => {
        import s.implicits._
        graft.operators.Skyline.frontier(
            t(s, dir, "orders")
              .select($"o_orderkey", $"o_totalprice", $"o_orderdate"),
            cost = $"o_totalprice", gain = $"o_orderdate")
          .orderBy($"o_totalprice", $"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice, o_orderdate
             |FROM orders a
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM orders b
             |  WHERE b.o_totalprice <= a.o_totalprice
             |    AND b.o_orderdate >= a.o_orderdate
             |    AND (b.o_totalprice < a.o_totalprice
             |         OR b.o_orderdate > a.o_orderdate))
             |ORDER BY o_totalprice, o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q106: group-wise linear regression — per event_type OLS of value
    // on time (days since epoch) via the built-in regr_* aggregates:
    // slope/intercept/R² from one pass of moment sums (constant
    // partial state, map-side combinable — the same mergeable-moments
    // contract as q37's corr/stddev).
    Query(
      "q106_group_regression",
      (s, dir) => {
        import s.implicits._
        // x in days since 2024-01-01, not since the 1970 epoch: the
        // intercept extrapolates to x=0, so a far origin multiplies
        // slope rounding error ~20000x (observed: 1e-3 drift vs the
        // oracle at epoch origin — enough to break the hash compare).
        val origin = lit("2024-01-01 00:00:00").cast("timestamp")
        t(s, dir, "events")
          .select($"event_type",
            ((unix_timestamp($"ts") - unix_timestamp(origin)).cast("double") / 86400.0).as("x"),
            $"value".as("y"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            round(expr("regr_slope(y, x)"), 4).as("slope"),
            round(expr("regr_intercept(y, x)"), 4).as("intercept"),
            round(expr("regr_r2(y, x)"), 4).as("r2"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |       round(regr_slope(value, (epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 86400.0), 4) AS slope,
             |       round(regr_intercept(value, (epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 86400.0), 4) AS intercept,
             |       round(regr_r2(value, (epoch(ts) - epoch(TIMESTAMP '2024-01-01')) / 86400.0), 4) AS r2
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Q107: sparse TF-IDF cosine similarity join — lexical semantic
    // similarity WITHOUT dense vectors: weights live as (doc, term, w)
    // triples, the pairwise dot product is a self-join on term + one
    // sum per pair (inverted-index join, q97's layout as a similarity
    // engine). High-df terms are pruned (df ≤ 10% of docs — after idf
    // they carry ~no weight but would quadratically dominate the term
    // join: the classic stopword blowup), df=1 terms can't pair.
    // Pair volume measured: 31k rows at sf0.1 — candidates scale with
    // shared-rare-term mass, not n².
    Query(
      "q107_sparse_cosine",
      (s, dir) => {
        import s.implicits._
        // The exact relative-prune kernel (operators.SparseCosine with
        // no absolute cap) — the EXACT tier, quadratic on growing
        // distinct corpora (measured 766× at ×10,
        // docs/probes/scalebench_r14_10x_mutate.txt). The spelling to
        // copy at corpus scale is q179_sparse_cosine_capped: the
        // absolute-df cap, linear in posting volume, with its own
        // oracle row.
        graft.operators.SparseCosine.pairs(
            t(s, dir, "documents"), "text", "doc_id", minCos = 0.3)
          .select($"doc_a", $"doc_b", round($"cos", 4).as("cos_r"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
             |             FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
             |w AS (SELECT tf.doc_id, tf.term, tf.tf * ln(nd.n::DOUBLE / df.df) AS w
             |      FROM tf JOIN df USING (term) CROSS JOIN nd
             |      WHERE df.df <= 0.1 * nd.n AND df.df > 1),
             |nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM w GROUP BY 1),
             |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
             |         FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
             |         GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |       round(dot / (na.nrm * nb.nrm), 4) AS cos_r
             |FROM dots JOIN nrm na ON dots.doc_a = na.doc_id
             |          JOIN nrm nb ON dots.doc_b = nb.doc_id
             |WHERE dot / (na.nrm * nb.nrm) >= 0.3
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Q108: co-occurrence lift (market-basket association) — for every
    // pair of event types, lift = P(both)/（P(a)·P(b)) over users.
    // Everything collapses to user×type grain (distinct) before the
    // pair join, so the join moves ≤ |users|·|types| rows and the
    // output is |types|² — the corpus never self-joins.
    Query(
      "q108_basket_lift",
      (s, dir) => {
        import s.implicits._
        val ut = t(s, dir, "events")
          .select($"user_id", $"event_type").distinct()
        val nu = ut.agg(countDistinct($"user_id").cast("double").as("nu"))
        val tn = ut.groupBy($"event_type").agg(count(lit(1)).as("n_t"))
        val pairs = ut.as("a").join(ut.as("b"),
            $"a.user_id" === $"b.user_id" && $"a.event_type" < $"b.event_type")
          .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
          .agg(count(lit(1)).as("n_both"))
        pairs
          .crossJoin(broadcast(nu))
          .join(broadcast(tn.select($"event_type".as("type_a"), $"n_t".as("na"))), "type_a")
          .join(broadcast(tn.select($"event_type".as("type_b"), $"n_t".as("nb"))), "type_b")
          .select($"type_a", $"type_b", $"n_both",
            round(($"n_both" * $"nu") / ($"na" * $"nb"), 4).as("lift"))
          .orderBy($"type_a", $"type_b")
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
             |nu AS (SELECT count(DISTINCT user_id)::DOUBLE AS nu FROM ut),
             |tn AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
             |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
             |      FROM ut a JOIN ut b ON a.user_id = b.user_id
             |                        AND a.event_type < b.event_type
             |      GROUP BY 1, 2)
             |SELECT type_a, type_b, n_both,
             |       round(n_both * nu.nu / (na.n_t * nb.n_t), 4) AS lift
             |FROM p CROSS JOIN nu
             |       JOIN tn na ON p.type_a = na.event_type
             |       JOIN tn nb ON p.type_b = nb.event_type
             |ORDER BY type_a, type_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Q109: RAG chunking — overlapping sliding token windows (size 50,
    // stride 25) per document, each chunk fingerprinted for the
    // retrieval index. Chunk expansion is map-side (sequence+explode
    // over token arrays; a Generate, no join), chunk count =
    // 1 + ceil(max(0, n−50)/25) so the tail is always covered; the
    // overlap means chunk boundaries never cut a passage in half —
    // q81's aligned chunks are the dedup spelling, these are the
    // retrieval spelling.
    Query(
      "q109_chunk_overlap",
      (s, dir) => {
        import s.implicits._
        val size_ = 50
        val stride = 25
        // a missing (NULL) doc yields NO chunks on either side — without
        // the filter, Spark's null-skipping greatest() manufactures one
        // phantom chunk whose fp is md5 of the empty string
        t(s, dir, "documents")
          .filter($"text".isNotNull)
          .select($"doc_id", TF.tokens($"text").as("tk"))
          .withColumn("n", size($"tk").cast("long"))
          .withColumn("nchunks",
            lit(1L) + ceil(greatest($"n" - size_, lit(0L)).cast("double") / stride).cast("long"))
          .select($"doc_id", $"n", $"tk",
            explode(sequence(lit(0L), $"nchunks" - 1)).as("chunk_id"))
          .select($"doc_id", $"chunk_id",
            slice($"tk", ($"chunk_id" * stride + 1).cast("int"), lit(size_)).as("chunk"))
          .select($"doc_id", $"chunk_id",
            size($"chunk").cast("long").as("n_tokens"),
            md5(concat_ws(" ", $"chunk")).as("chunk_fp"))
          .orderBy($"doc_id", $"chunk_id")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
             |            FROM documents WHERE text IS NOT NULL),
             |c AS (SELECT doc_id, tk, len(tk) AS n,
             |             1 + ceil(greatest(len(tk) - 50, 0) / 25.0)::BIGINT AS nchunks
             |      FROM tk),
             |e AS (SELECT doc_id, tk, n, unnest(generate_series(0, nchunks - 1)) AS chunk_id
             |      FROM c)
             |SELECT doc_id, chunk_id,
             |       len(tk[chunk_id * 25 + 1 : least(chunk_id * 25 + 50, n)])::BIGINT AS n_tokens,
             |       md5(array_to_string(tk[chunk_id * 25 + 1 : least(chunk_id * 25 + 50, n)], ' ')) AS chunk_fp
             |FROM e ORDER BY doc_id, chunk_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q110: BPE merge step — the inner loop of tokenizer training: the
    // most frequent adjacent character pairs across the corpus, each a
    // candidate merge rule. The corpus collapses to VOCAB grain first
    // (token -> count, one agg shuffle); pair expansion then explodes
    // |token|-1 positions per DISTINCT token, not per corpus
    // occurrence — at 100 TB the pair scan is O(|vocab| x avg_len),
    // invariant to corpus size. Top-20 by a total (n DESC, pair) order
    // so the limit boundary is deterministic across engines.
    Query(
      "q110_bpe_merge",
      (s, dir) => {
        import s.implicits._
        val vocab = t(s, dir, "documents")
          .select(explode(TF.tokens(lower($"text"))).as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("cnt"))
        vocab
          .filter(length($"tok") >= 2)
          .select($"tok", $"cnt",
            explode(sequence(lit(1), length($"tok") - 1)).as("i"))
          .select($"tok".substr($"i", lit(2)).as("pair"), $"cnt")
          .groupBy($"pair").agg(sum($"cnt").as("n"))
          .orderBy($"n".desc, $"pair")
          .limit(20)
      },
      Some("""WITH tok AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             |             FROM documents),
             |v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
             |p AS (SELECT substring(tok, i, 2) AS pair, cnt
             |      FROM (SELECT tok, cnt, unnest(generate_series(1, length(tok) - 1)) AS i
             |            FROM v WHERE length(tok) >= 2))
             |SELECT pair, sum(cnt)::BIGINT AS n FROM p GROUP BY 1
             |ORDER BY n DESC, pair LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // Q111: canonical-URL dedup — the crawl-side twin of content dedup:
    // scheme/case/www/trailing-slash/utm-tracking variants of the same
    // page collapse to one canonical key. URLs are synthesized
    // deterministically from doc_id (no url column in the corpus), the
    // canonicalizer is the operator under test: strip scheme, strip
    // www., lowercase, drop utm_* params, drop the pre-query slash.
    // Group-by canonical key is one hash-agg shuffle whose key is a
    // short string — the 100 TB shape is identical to exact dedup
    // (q12) with the canonicalizer replacing the fingerprint.
    Query(
      "q111_url_dedup",
      (s, dir) => {
        import s.implicits._
        val messy = t(s, dir, "documents")
          .withColumn("url", concat(
            when($"doc_id" % 2 === 0, "https").otherwise("http"), lit("://"),
            when($"doc_id" % 4 === 0, "www.").otherwise(""),
            when($"doc_id" % 3 === 0, "Data.Example.COM").otherwise("data.example.com"),
            lit("/corpus/"), $"lang", lit("/"), ($"doc_id" % 40).cast("string"),
            when($"doc_id" % 5 === 0, "/").otherwise(""),
            lit("?id="), ($"doc_id" % 40).cast("string"),
            when($"doc_id" % 7 === 0,
              concat(lit("&utm_source="), $"source", lit("&utm_campaign=rerank")))
              .otherwise("")))
        messy
          .withColumn("canon",
            regexp_replace(regexp_replace(regexp_replace(lower(regexp_replace(
              $"url", "^https?://(www\\.)?", "")),
              "&utm_[a-z]+=[^&]*", ""), "/\\?", "?"), "/$", ""))
          .groupBy($"canon")
          .agg(count(lit(1)).as("n_variants"),
               countDistinct($"url").as("n_distinct_urls"),
               min($"doc_id").as("first_doc"))
          .filter($"n_variants" > 1)
          .orderBy($"canon")
      },
      Some("""WITH messy AS (
             |  SELECT doc_id,
             |         (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://'
             |         || (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END)
             |         || (CASE WHEN doc_id % 3 = 0 THEN 'Data.Example.COM' ELSE 'data.example.com' END)
             |         || '/corpus/' || lang || '/' || (doc_id % 40)
             |         || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
             |         || '?id=' || (doc_id % 40)
             |         || (CASE WHEN doc_id % 7 = 0
             |             THEN '&utm_source=' || source || '&utm_campaign=rerank' ELSE '' END) AS url
             |  FROM documents)
             |SELECT regexp_replace(regexp_replace(regexp_replace(lower(regexp_replace(
             |         url, '^https?://(www\.)?', '')),
             |         '&utm_[a-z]+=[^&]*', '', 'g'), '/\?', '?'), '/$', '') AS canon,
             |       count(*) AS n_variants,
             |       count(DISTINCT url) AS n_distinct_urls,
             |       min(doc_id) AS first_doc
             |FROM messy GROUP BY 1 HAVING count(*) > 1 ORDER BY canon""".stripMargin)),

    // ------------------------------------------------------------------
    // Q112: per-group z-score outliers — standardize event values
    // within each event_type and count |z| > 2 tails. Group stats are
    // one agg shuffle collapsing to |types| rows, broadcast back over
    // the facts (no second fact shuffle); the aggregate-then-join
    // shape is the standard two-pass standardization at any scale.
    Query(
      "q112_zscore_outliers",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val stats = ev.groupBy($"event_type")
          .agg(avg($"value").as("mu"), stddev_samp($"value").as("sd"))
        ev.join(broadcast(stats), "event_type")
          .withColumn("z", ($"value" - $"mu") / $"sd")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
               sum(when(abs($"z") > 2, 1L).otherwise(0L)).as("n_outliers"),
               round(avg(abs($"z")), 4).as("mean_abs_z"),
               round(max($"z"), 4).as("max_z"))
          .orderBy($"event_type")
      },
      Some("""WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
             |           FROM events GROUP BY 1)
             |SELECT e.event_type, count(*) AS n,
             |       sum(CASE WHEN abs((value - mu) / sd) > 2 THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
             |       round(avg(abs((value - mu) / sd)), 4) AS mean_abs_z,
             |       round(max((value - mu) / sd), 4) AS max_z
             |FROM events e JOIN s ON e.event_type = s.event_type
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q113: weekday seasonality profile — order volume and value by
    // day-of-week, each day indexed against the overall mean
    // (aggregate-then-window: the global mean runs over the 7-row
    // aggregated frame, never the fact table). Spark dayofweek is
    // 1=Sunday..7=Saturday; DuckDB's is 0=Sunday..6 — the oracle
    // shifts by +1.
    Query(
      "q113_weekday_seasonality",
      (s, dir) => {
        import s.implicits._
        val byDow = t(s, dir, "orders")
          .groupBy(dayofweek($"o_orderdate").as("dow"))
          .agg(count(lit(1)).as("n_orders"),
               avg($"o_totalprice").as("avg_price"))
        byDow
          .withColumn("season_idx",
            round($"avg_price" / avg($"avg_price")
              .over(Window.partitionBy(gpin($"dow"))), 4))
          .select($"dow", $"n_orders", round($"avg_price", 2).as("avg_price_r"),
                  $"season_idx")
          .orderBy($"dow")
      },
      Some("""WITH d AS (SELECT dayofweek(o_orderdate) + 1 AS dow,
             |                  count(*) AS n_orders, avg(o_totalprice) AS avg_price
             |           FROM orders GROUP BY 1)
             |SELECT dow, n_orders, round(avg_price, 2) AS avg_price_r,
             |       round(avg_price / avg(avg_price) OVER (), 4) AS season_idx
             |FROM d ORDER BY dow""".stripMargin)),

    // ------------------------------------------------------------------
    // Q114: n-gram novelty — per document, the fraction of its
    // distinct 3-shingles never seen in any EARLIER document (first
    // occurrence = min doc_id over the corpus). The dedup/quality
    // signal behind "how much of this crawl snapshot is new": shingle
    // grain is the one big shuffle (first-occurrence agg), the join
    // back is shingle-keyed, the output collapses to doc grain.
    Query(
      "q114_ngram_novelty",
      (s, dir) => {
        import s.implicits._
        val sh = t(s, dir, "documents")
          .select($"doc_id",
            explode(array_distinct(TF.shingles($"text", 3))).as("sh"))
        val first = sh.groupBy($"sh").agg(min($"doc_id").as("first_doc"))
        sh.join(first, "sh")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_shingles"),
               sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty",
            round($"n_novel".cast("double") / $"n_shingles", 4))
          .orderBy($"doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
             |sh AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 3
             |         THEN [array_to_string(tk, ' ')]
             |         ELSE list_distinct(list_transform(
             |           generate_series(1, len(tk) - 2),
             |           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END) AS sh FROM tk),
             |f AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1)
             |SELECT s.doc_id, count(*) AS n_shingles,
             |       sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
             |       round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)::DOUBLE
             |             / count(*), 4) AS novelty
             |FROM sh s JOIN f ON s.sh = f.sh
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q115: Count-Min-sketch heavy hitters — per-supplier lineitem
    // counts read from ONE mergeable sketch instead of a key-grained
    // aggregation. Build is Spark's own `count_min_sketch` aggregate
    // (partials merge cell-wise, so per-partition/per-day sketches
    // roll up like sums — the streaming/cube-friendly counting path);
    // probe is the engine's [[graft.functions.CmsEstimate]] over the
    // broadcast one-row sketch. At this width (eps 5e-4 ⇒ 4000 cells
    // x 10 rows, ~320 KB) and key cardinality the estimates are
    // collision-free and the DuckDB exact-count oracle hash-matches —
    // the sketch's determinism (fixed seed) makes that a stable
    // property of this dataset, spec-asserted alongside the
    // inequality guarantees (CmsSpec).
    Query(
      "q115_cms_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        // Attach the one-row sketch as a scalar subquery (same shape
        // as BloomPrefilter): it evaluates once and reaches every
        // probe row as ONE literal reference — a broadcast join would
        // copy the sketch bytes per row and force per-row cache checks.
        val sk = t(s, dir, "lineitem")
          .agg(expr("count_min_sketch(l_suppkey, 0.0005d, 0.999d, 42)").as("cms"))
          .scalar()
        t(s, dir, "supplier").select($"s_suppkey")
          .select($"s_suppkey",
            graft.functions.CmsEstimate(sk, $"s_suppkey").as("n_lines"))
          .filter($"n_lines" > 0)
          .orderBy($"s_suppkey")
      },
      Some("""SELECT s_suppkey, count(*) AS n_lines
             |FROM supplier JOIN lineitem ON l_suppkey = s_suppkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q116: Flesch reading-ease — the classic readability quality
    // signal (words/sentence, syllables/word with a vowel-group
    // heuristic, ≥1 per word). Entirely row-local (two regex scans +
    // one array fold per document, no shuffle at all) — at 100 TB this
    // is a pure map stage that fuses into whatever scan feeds it.
    // The 2-dp presentation rounding is spelled floor(x*100 + 0.5)/100
    // rather than round(x, 2): every step is a plain IEEE double op
    // that both engines execute identically, so boundary doubles
    // (85.16499999999999 at sf0.1) cannot split the engines the way
    // their differing round() decimal semantics measurably did.
    Query(
      "q116_readability",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "documents")
          .withColumn("n_words", TF.tokenCount($"text"))
          .withColumn("n_sent", greatest(lit(1L), size(filter(
            split($"text", "[.!?]+"), x => length(trim(x)) > 0)).cast("long")))
          // native char-scan syllable counter (SyllableCount); the HOF
          // regex fold is the spec-asserted bit-identical reference
          .withColumn("n_syll",
            graft.functions.SyllableCount(TF.tokens(lower($"text"))))
        d.select($"doc_id", $"n_sent", $"n_words", $"n_syll",
            (floor((lit(206.835)
              - lit(1.015) * ($"n_words".cast("double") / $"n_sent")
              - lit(84.6) * ($"n_syll".cast("double") / $"n_words")) * 100 + 0.5)
              / 100).as("flesch_r"))
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_words,
             |         greatest(1, len(list_filter(string_split_regex(text, '[.!?]+'),
             |                                     x -> trim(x) <> '')))::BIGINT AS n_sent,
             |         list_sum(list_transform(string_split_regex(trim(lower(text)), '\s+'),
             |           w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))::BIGINT AS n_syll
             |  FROM documents)
             |SELECT doc_id, n_sent, n_words, n_syll,
             |       floor((206.835 - 1.015 * (n_words::DOUBLE / n_sent)
             |                      - 84.6 * (n_syll::DOUBLE / n_words)) * 100 + 0.5)
             |         / 100 AS flesch_r
             |FROM d ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q117: embedding-cluster dispersion — per label: centroid norm,
    // mean and worst member-to-centroid cosine. The cluster-quality
    // audit behind IVF/k-means ops (q31/q44/q71): positional centroid
    // aggregation (one shuffle at label×pos grain), broadcast
    // centroids joined back, one label-grain aggregate. Centroid
    // components rounded 6 dp for cross-engine sum-order stability
    // (same contract as q31).
    Query(
      "q117_embedding_dispersion",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
          // degenerate vectors excluded on BOTH sides: count(lit(1)) would
          // otherwise include rows whose cos every avg/min skips, and a
          // zero-norm vector's cosine is an ANSI DIVIDE_BY_ZERO
          .filter(VF.usableVec($"embedding"))
          .select($"vec_id", $"label", VF.asDouble($"embedding").as("v"))
        val centroids = e
          .select($"label", posexplode($"v").as(Seq("pos", "x")))
          .groupBy($"label", $"pos")
          .agg(round(avg($"x"), 6).as("cx"))
          .groupBy($"label")
          .agg(array_sort(collect_list(struct($"pos", $"cx"))).as("pairs"))
          .select($"label", expr("transform(pairs, p -> p.cx)").as("cv"))
          .withColumn("cnrm", sqrt(VF.dot($"cv", $"cv")))
        e.join(broadcast(centroids), "label")
          .withColumn("cos",
            VF.dot($"v", $"cv") / (sqrt(VF.dot($"v", $"v")) * $"cnrm"))
          .groupBy($"label")
          .agg(count(lit(1)).as("n"),
               round(first($"cnrm"), 4).as("centroid_norm"),
               round(avg($"cos"), 4).as("mean_cos"),
               round(min($"cos"), 4).as("min_cos"))
          .orderBy($"label")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
             |          WHERE list_sum(list_transform(
             |                embedding::DOUBLE[], x -> x*x)) > 0),
             |flat AS (SELECT label, unnest(v) AS x,
             |                unnest(range(1, len(v) + 1)) AS pos FROM e),
             |cent AS (SELECT label, array_agg(cx ORDER BY pos) AS cv
             |         FROM (SELECT label, pos, round(avg(x), 6) AS cx FROM flat GROUP BY 1, 2)
             |         GROUP BY label),
             |j AS (SELECT e.label,
             |             sqrt(list_dot_product(c.cv, c.cv)) AS cnrm,
             |             list_dot_product(e.v, c.cv) /
             |               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos
             |      FROM e JOIN cent c ON e.label = c.label)
             |SELECT label, count(*) AS n,
             |       round(any_value(cnrm), 4) AS centroid_norm,
             |       round(avg(cos), 4) AS mean_cos,
             |       round(min(cos), 4) AS min_cos
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q118: reciprocal-rank fusion — merge two retrieval rankings
    // (embedding cosine to a query vector; lexical tf of a query term)
    // into one RRF score: Σ 1/(60 + rank). The standard hybrid-search
    // combiner in RAG stacks. Each ranking collapses to doc grain,
    // then ranks via operators.GlobalRank — a range-partitioned sort +
    // zipWithIndex, NOT a global window, so no stage funnels the
    // corpus through one task. Top-N shortlisting was measured and
    // rejected: RRF is dominated by a doc's BEST rank, and the fused
    // top-20 here contains docs whose other rank is 1294/4190 (sf0.1)
    // — any shortlist that preserves the output would be corpus-sized,
    // so both rankings keep exact global ranks. Ties broken by id so
    // ranks are total; the cosine ranks on the raw sequential-fold dot
    // product — bit-equal across engines (q13/q31 contract).
    Query(
      "q118_rrf_fusion",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
          .filter(VF.usableVec($"embedding")) // zero-norm/empty: no geometry (ANSI /0)
          .select($"vec_id", VF.asDouble($"embedding").as("v"))
        val qv = e.filter($"vec_id" === 0).select($"v".as("qv")).scalar()
        val cosRank = graft.operators.GlobalRank.withRank(
          e.filter($"vec_id" =!= 0)
            .withColumn("cos", VF.dot($"v", qv) /
              (sqrt(VF.dot($"v", $"v")) * sqrt(VF.dot(qv, qv))))
            .select($"vec_id".as("doc_id"), $"cos"),
          "rank_cos", $"cos".desc, $"doc_id")
          .select($"doc_id", $"rank_cos")
        val tfRank = graft.operators.GlobalRank.withRank(
          t(s, dir, "documents")
            .filter($"doc_id" =!= 0)
            .withColumn("tf", size(filter(TF.tokens(lower($"text")), w => w === "the"))
              .cast("long"))
            .select($"doc_id", $"tf"),
          "rank_tf", $"tf".desc, $"doc_id")
          .select($"doc_id", $"rank_tf")
        cosRank.join(tfRank, "doc_id")
          .withColumn("rrf", round(
            lit(1.0) / (lit(60) + $"rank_cos") + lit(1.0) / (lit(60) + $"rank_tf"), 6))
          .select($"doc_id", $"rank_cos", $"rank_tf", $"rrf")
          .orderBy($"rrf".desc, $"doc_id")
          .limit(20)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |          WHERE list_sum(list_transform(
             |                embedding::DOUBLE[], x -> x*x)) > 0),
             |qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
             |cr AS (SELECT vec_id AS doc_id,
             |              row_number() OVER (ORDER BY
             |                list_dot_product(v, qv) /
             |                  (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
             |                DESC, vec_id) AS rank_cos
             |       FROM e CROSS JOIN qv WHERE vec_id <> 0),
             |tr AS (SELECT doc_id,
             |              row_number() OVER (ORDER BY
             |                len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |                                w -> w = 'the')) DESC, doc_id) AS rank_tf
             |       FROM documents WHERE doc_id <> 0)
             |SELECT cr.doc_id, rank_cos, rank_tf,
             |       round(1.0 / (60 + rank_cos) + 1.0 / (60 + rank_tf), 6) AS rrf
             |FROM cr JOIN tr ON cr.doc_id = tr.doc_id
             |ORDER BY rrf DESC, cr.doc_id LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // Q119: TPC-H Q5-shaped star join — local-supplier revenue: six
    // tables, revenue where customer and supplier share a nation,
    // one region, one order-date year. The canonical join-order test:
    // every dimension (region→nation→supplier, customer) broadcasts
    // with its filters pushed; the ONLY shuffle join is
    // lineitem⋈orders on orderkey — the two fact tables.
    Query(
      "q119_local_supplier_rev",
      (s, dir) => {
        import s.implicits._
        val nations = t(s, dir, "nation")
          .join(t(s, dir, "region").filter($"r_name" === "ASIA"),
            $"n_regionkey" === $"r_regionkey")
          .select($"n_nationkey", $"n_name")
        val cust = t(s, dir, "customer")
          .join(broadcast(nations), $"c_nationkey" === $"n_nationkey")
          .select($"c_custkey", $"c_nationkey", $"n_name")
        val supp = t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
        val ord = t(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
                  $"o_orderdate" <  lit("1998-01-01").cast("timestamp"))
          .select($"o_orderkey", $"o_custkey")
        t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
          .join(ord, $"l_orderkey" === $"o_orderkey")
          .join(broadcast(cust), $"o_custkey" === $"c_custkey")
          .join(broadcast(supp), $"l_suppkey" === $"s_suppkey" &&
                                 $"c_nationkey" === $"s_nationkey")
          .groupBy($"n_name")
          .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2)
            .as("revenue"))
          .orderBy($"n_name")
      },
      Some("""SELECT n_name,
             |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
             |FROM customer, orders, lineitem, supplier, nation, region
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1997-01-01'
             |  AND o_orderdate <  TIMESTAMP '1998-01-01'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ------------------------------------------------------------------
    // Q120: last-touch attribution — each purchase credits the most
    // recent click/view of the same user within a 7-day lookback
    // (else 'direct'); revenue and conversion counts roll up per
    // channel. The as-of operator (one shuffle, q08's union+window
    // plan) carries (touch_ts, channel) as a struct so the lookback
    // horizon filters AFTER the match; touches pre-dedup to one per
    // (user, ts) so same-instant ties are deterministic on both
    // engines.
    Query(
      "q120_attribution",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val touches = ev.filter($"event_type".isin("click", "view"))
          .groupBy($"user_id", $"ts").agg(max($"event_type").as("ch"))
          .select($"user_id", $"ts",
            struct($"ts".as("tts"), $"ch".as("ch")).as("touch"))
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts", $"value")
        graft.operators.AsOfJoin.latestOnOrBefore(purchases, touches,
            leftKey = "user_id", rightKey = "user_id",
            leftTime = "ts", rightTime = "ts",
            rightVal = "touch", outCol = "touch")
          .withColumn("channel",
            when($"touch".isNotNull &&
                 $"touch.tts" >= $"ts" - expr("INTERVAL 7 DAYS"), $"touch.ch")
              .otherwise("direct"))
          .groupBy($"channel")
          .agg(count(lit(1)).as("n_conv"),
               round(sum($"value"), 2).as("revenue"))
          .orderBy($"channel")
      },
      Some("""WITH tch AS (SELECT user_id, ts, max(event_type) AS ch
             |             FROM events WHERE event_type IN ('click', 'view')
             |             GROUP BY 1, 2),
             |p AS (SELECT event_id, user_id, ts, value FROM events
             |      WHERE event_type = 'purchase'),
             |a AS (SELECT p.value,
             |             CASE WHEN tch.ts IS NOT NULL
             |                   AND tch.ts >= p.ts - INTERVAL 7 DAY
             |                  THEN tch.ch ELSE 'direct' END AS channel
             |      FROM p ASOF LEFT JOIN tch
             |        ON p.user_id = tch.user_id AND p.ts >= tch.ts)
             |SELECT channel, count(*) AS n_conv, round(sum(value), 2) AS revenue
             |FROM a GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q121: vocabulary encoding — apply a top-K token vocabulary to
    // the corpus: token → id (rank by corpus frequency, OOV → 0),
    // per-doc OOV rate and an ORDER-SENSITIVE fingerprint of the
    // encoded id sequence (md5 of the space-joined ids), i.e. the
    // tokenizer-application step of a training pipeline. The vocab is
    // built aggregate-then-window (rank runs over |vocab| rows) and
    // broadcasts back over the exploded corpus; position order is
    // restored per doc with one sort_array over (pos, id) structs —
    // never a window over the corpus.
    Query(
      "q121_vocab_encode",
      (s, dir) => {
        import s.implicits._
        val toks = t(s, dir, "documents")
          .select($"doc_id", posexplode(TF.tokens(lower($"text"))).as(Seq("pos", "tok")))
        // Vocab = top-1000 by (cnt DESC, tok): the sort+limit is a
        // distributed per-partition top-1000 with one bounded merge,
        // and the id-assignment window runs over THOSE 1000 ROWS only
        // — never an unpartitioned rank over the full (heavy-tailed,
        // corpus-scale) token-type frame. Identical ids to the old
        // rank-then-filter spelling because (cnt DESC, tok) is a
        // total order. The constant `g` (WindowPins.gpin) keeps the
        // bounded window's partitioning defined — PlanAssertionsSpec
        // pins the shape; one hash exchange of exactly 1000 rows.
        val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc, $"tok").limit(1000)
          .withColumn("g", gpin($"tok"))
          .withColumn("id", row_number().over(
            Window.partitionBy($"g").orderBy($"cnt".desc, $"tok")).cast("long"))
          .select($"tok", $"id")
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .select($"doc_id", $"pos", coalesce($"id", lit(0L)).as("id"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"),
               sum(when($"id" === 0, 1L).otherwise(0L)).as("n_oov"),
               md5(concat_ws(" ",
                 expr("transform(array_sort(collect_list(struct(pos, id))), p -> p.id)")))
                 .as("ids_fp"))
          .withColumn("oov_rate", round($"n_oov".cast("double") / $"n_tokens", 4))
          .orderBy($"doc_id")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok,
             |         generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) - 1 AS pos
             |  FROM documents),
             |v AS (SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS id
             |      FROM tok GROUP BY tok QUALIFY id <= 1000),
             |enc AS (SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
             |        FROM tok t LEFT JOIN v USING (tok))
             |SELECT doc_id, count(*) AS n_tokens,
             |       sum(CASE WHEN id = 0 THEN 1 ELSE 0 END)::BIGINT AS n_oov,
             |       md5(string_agg(id, ' ' ORDER BY pos)) AS ids_fp,
             |       round(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END)::DOUBLE
             |             / count(*), 4) AS oov_rate
             |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q122: median imputation — repair missing measures with the
    // per-group median of the OBSERVED values (the testdata has no
    // nulls, so a deterministic event_id % 11 mask creates them —
    // the imputation is the operator under test). Median computes on
    // the group-collapsed frame and broadcasts back over the facts;
    // nulls never poison the aggregates (`avg`/`median` skip them,
    // asserted by the imputed-vs-observed means diverging). The
    // missing-data pass every feature pipeline runs before training.
    Query(
      "q122_impute",
      (s, dir) => {
        import s.implicits._
        val masked = t(s, dir, "events")
          .select($"event_id", $"event_type",
            when($"event_id" % 11 === 0, lit(null).cast("double"))
              .otherwise($"value").as("value"))
        val med = masked.groupBy($"event_type")
          .agg(median($"value").as("med"))
        masked.join(broadcast(med), "event_type")
          .withColumn("imputed", coalesce($"value", $"med"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
               sum(when($"value".isNull, 1L).otherwise(0L)).as("n_imputed"),
               round(first($"med"), 4).as("med_r"),
               round(avg($"value"), 4).as("mean_observed"),
               round(avg($"imputed"), 4).as("mean_imputed"))
          .orderBy($"event_type")
      },
      Some("""WITH m AS (SELECT event_id, event_type,
             |                  CASE WHEN event_id % 11 = 0 THEN NULL
             |                       ELSE value END AS value
             |           FROM events),
             |med AS (SELECT event_type, median(value) AS med FROM m GROUP BY 1)
             |SELECT m.event_type, count(*) AS n,
             |       sum(CASE WHEN m.value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_imputed,
             |       round(any_value(med.med), 4) AS med_r,
             |       round(avg(m.value), 4) AS mean_observed,
             |       round(avg(coalesce(m.value, med.med)), 4) AS mean_imputed
             |FROM m JOIN med ON m.event_type = med.event_type
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q123: Markov transition matrix — per-user time-ordered event
    // sequences, counts and probabilities of each (current → next)
    // event-type transition. The session-model / user-journey operator.
    // One user-partitioned window (the natural key partition) + one
    // agg; the probability window runs aggregate-then-window over the
    // |types|² frame, never the events.
    Query(
      "q123_markov_transition",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        t(s, dir, "events")
          .select($"user_id", $"event_type", $"ts", $"event_id")
          .withColumn("next_type", lead($"event_type", 1).over(w))
          .filter($"next_type".isNotNull)
          .select($"event_type".as("cur_type"), $"next_type")
          .groupBy($"cur_type", $"next_type")
          .agg(count(lit(1)).as("n"))
          .withColumn("p_r", round($"n".cast("double") /
            sum($"n").over(Window.partitionBy($"cur_type")), 4))
          .orderBy($"cur_type", $"next_type")
      },
      Some("""WITH s AS (SELECT event_type AS cur_type,
             |                  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
             |           FROM events),
             |c AS (SELECT cur_type, next_type, count(*) AS n
             |      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
             |SELECT cur_type, next_type, n,
             |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY cur_type), 4) AS p_r
             |FROM c ORDER BY cur_type, next_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Q124: skip-gram co-occurrence counts (word2vec-style training
    // pairs) — unordered token pairs within distance 1..2, top-30.
    // The pair expansion is PURE map side: transform-with-index over
    // the token array zips each token with its d-ahead neighbor
    // (named_struct inside a HOF), so the per-doc ×2 blowup never
    // shuffles — only the (w1, w2) counts do, and top-30 is
    // TakeOrdered. The self-join-on-position spelling is rejected: it
    // would shuffle every token row twice.
    Query(
      "q124_skipgram_cooc",
      (s, dir) => {
        import s.implicits._
        val pairCols = (1 to 2).map { d =>
          expr(s"""transform(slice(toks, 1, greatest(size(toks) - $d, 0)),
                  (x, i) -> named_struct(
                    'w1', least(x, element_at(toks, i + 1 + $d)),
                    'w2', greatest(x, element_at(toks, i + 1 + $d))))""")
        }
        t(s, dir, "documents")
          .withColumn("toks", TF.tokens(lower($"text")))
          .select(explode(concat(pairCols: _*)).as("p"))
          .filter($"p.w1" =!= $"p.w2")
          .select($"p.w1".as("w1"), $"p.w2".as("w2"))
          .groupBy($"w1", $"w2")
          .agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"w1", $"w2")
          .limit(30)
      },
      Some("""WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
             |           FROM documents),
             |p AS (SELECT least(toks[i], toks[i + d]) AS w1,
             |             greatest(toks[i], toks[i + d]) AS w2
             |      FROM t, generate_series(1, 2) AS g(d),
             |           generate_series(1, 4096) AS s(i)
             |      WHERE i + d <= len(toks) AND toks[i] <> toks[i + d])
             |SELECT w1, w2, count(*) AS n FROM p
             |GROUP BY 1, 2 ORDER BY n DESC, w1, w2 LIMIT 30""".stripMargin)),

    // ------------------------------------------------------------------
    // Q125: schema profile — per-column null count / distinct count /
    // min / max over `orders`, the ANALYZE/data-quality pass every
    // ingest runs. One column-pruned mini-aggregation PER COLUMN,
    // unioned: a single distinct per aggregate keeps Spark on the
    // efficient two-phase distinct plan, and each scan reads ONLY its
    // column — total bytes equal one full scan, with none of the ×6
    // row blowup the multi-countDistinct Expand plan pays (measured
    // 3.4 s → the union spelling at sf0.1). At 100 TB the exact
    // count-distincts swap for approx_count_distinct (q09b's HLL
    // contract) and the pass fuses back into one scan.
    Query(
      "q125_schema_profile",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        def profNum(c: String) = o.select(col(c).cast("double").as("v"))
          .agg(count(lit(1)).as("n"),
               sum(isnull($"v").cast("long")).as("n_null"),
               countDistinct($"v").as("n_distinct"),
               min($"v").as("min_num"), max($"v").as("max_num"))
          .select(lit(c).as("col_name"), $"n", $"n_null", $"n_distinct",
                  $"min_num", $"max_num",
                  lit(null).cast("string").as("min_str"),
                  lit(null).cast("string").as("max_str"))
        def profStr(c: String, e: Column) = o.select(e.as("v"))
          .agg(count(lit(1)).as("n"),
               sum(isnull($"v").cast("long")).as("n_null"),
               countDistinct($"v").as("n_distinct"),
               min($"v").as("min_str"), max($"v").as("max_str"))
          .select(lit(c).as("col_name"), $"n", $"n_null", $"n_distinct",
                  lit(null).cast("double").as("min_num"),
                  lit(null).cast("double").as("max_num"),
                  $"min_str", $"max_str")
        Seq(profNum("o_orderkey"), profNum("o_custkey"), profNum("o_totalprice"),
            profStr("o_orderstatus", $"o_orderstatus"),
            profStr("o_orderpriority", $"o_orderpriority"),
            // date column profiled at day grain, date-string form
            profStr("o_orderdate", to_date($"o_orderdate").cast("string")))
          .reduce(_ unionByName _)
          .orderBy($"col_name")
      },
      Some("""WITH base AS (SELECT count(*) AS n FROM orders)
             |SELECT 'o_custkey' AS col_name, n,
             |       (SELECT sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) FROM orders)::BIGINT AS n_null,
             |       (SELECT count(DISTINCT o_custkey) FROM orders) AS n_distinct,
             |       (SELECT CAST(min(o_custkey) AS DOUBLE) FROM orders) AS min_num,
             |       (SELECT CAST(max(o_custkey) AS DOUBLE) FROM orders) AS max_num,
             |       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM base
             |UNION ALL
             |SELECT 'o_orderdate', n,
             |       (SELECT sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) FROM orders)::BIGINT,
             |       (SELECT count(DISTINCT CAST(o_orderdate AS DATE)) FROM orders),
             |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             |       (SELECT CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) FROM orders),
             |       (SELECT CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) FROM orders) FROM base
             |UNION ALL
             |SELECT 'o_orderkey', n,
             |       (SELECT sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) FROM orders)::BIGINT,
             |       (SELECT count(DISTINCT o_orderkey) FROM orders),
             |       (SELECT CAST(min(o_orderkey) AS DOUBLE) FROM orders),
             |       (SELECT CAST(max(o_orderkey) AS DOUBLE) FROM orders),
             |       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM base
             |UNION ALL
             |SELECT 'o_orderpriority', n,
             |       (SELECT sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) FROM orders)::BIGINT,
             |       (SELECT count(DISTINCT o_orderpriority) FROM orders),
             |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             |       (SELECT min(o_orderpriority) FROM orders),
             |       (SELECT max(o_orderpriority) FROM orders) FROM base
             |UNION ALL
             |SELECT 'o_orderstatus', n,
             |       (SELECT sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) FROM orders)::BIGINT,
             |       (SELECT count(DISTINCT o_orderstatus) FROM orders),
             |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             |       (SELECT min(o_orderstatus) FROM orders),
             |       (SELECT max(o_orderstatus) FROM orders) FROM base
             |UNION ALL
             |SELECT 'o_totalprice', n,
             |       (SELECT sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) FROM orders)::BIGINT,
             |       (SELECT count(DISTINCT o_totalprice) FROM orders),
             |       (SELECT min(o_totalprice) FROM orders),
             |       (SELECT max(o_totalprice) FROM orders),
             |       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM base
             |ORDER BY col_name""".stripMargin)),

    // ------------------------------------------------------------------
    // Q126: Benford leading-digit audit — distribution of the leading
    // digit of order totals vs Benford's log10(1 + 1/d) expectation.
    // The fraud/data-quality screen. Digit extraction is pure
    // arithmetic (no string formatting — double→string rendering
    // differs between engines); one agg shuffle over 9 groups; the
    // share window runs on the 9-row frame.
    Query(
      "q126_benford",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .filter($"o_totalprice" > 0)
          .select(floor($"o_totalprice" /
            pow(lit(10.0), floor(log10($"o_totalprice")))).cast("long").as("digit"))
          .groupBy($"digit")
          .agg(count(lit(1)).as("n"))
          .withColumn("share_r", round($"n".cast("double") /
            sum($"n").over(Window.partitionBy(gpin($"digit"))), 4))
          .withColumn("benford_r", round(log10(lit(1.0) + lit(1.0) / $"digit"), 4))
          .withColumn("dev_r", round($"n".cast("double") /
            sum($"n").over(Window.partitionBy(gpin($"digit"))) -
            log10(lit(1.0) + lit(1.0) / $"digit"), 4))
          .orderBy($"digit")
      },
      Some("""WITH d AS (SELECT CAST(floor(o_totalprice / power(10, floor(log10(o_totalprice)))) AS BIGINT) AS digit
             |           FROM orders WHERE o_totalprice > 0),
             |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1)
             |SELECT digit, n,
             |       round(CAST(n AS DOUBLE) / sum(n) OVER (), 4) AS share_r,
             |       round(log10(1.0 + 1.0 / digit), 4) AS benford_r,
             |       round(CAST(n AS DOUBLE) / sum(n) OVER () - log10(1.0 + 1.0 / digit), 4) AS dev_r
             |FROM c ORDER BY digit""".stripMargin)),

    // ------------------------------------------------------------------
    // Q127: RFM segmentation — recency/frequency/monetary scores per
    // customer, segment census. Scores come from EXACT global quartile
    // cut points (one 9-scalar aggregate over the customer-grain
    // frame, broadcast back via crossJoin) — NOT a global ntile
    // window, so no single-task funnel; at unbounded grain the cuts
    // swap for approx_percentile (q37b / EquiDepth.approxHistogram
    // contract). Recency scores invert (recent = high).
    Query(
      "q127_rfm_segments",
      (s, dir) => {
        import s.implicits._
        // Monetary is carried in CENTS as exact integers: money sums
        // over doubles are summation-ORDER-dependent in the last ulp,
        // and the degenerate gate measured a group avg landing on a
        // 2-dp rounding knife-edge where the engines' different sum
        // orders split .36 vs .37. Integer-valued doubles below 2^53
        // sum exactly in ANY order, so cents make every aggregate —
        // per-customer totals, quantile cuts, group averages —
        // bit-identical across engines by construction (the q116
        // closure pattern, applied one level earlier).
        val cust = t(s, dir, "orders")
          .groupBy($"o_custkey")
          .agg(max(to_date($"o_orderdate")).as("last_d"),
               count(lit(1)).as("freq"),
               sum(round($"o_totalprice" * 100).cast("long")).as("monetary"))
        val mx = cust.agg(max($"last_d").as("mx")).scalar()
        val graded = cust.withColumn("recency_d", datediff(mx, $"last_d"))
        val cuts = graded.agg(
          percentile($"recency_d", lit(0.25)).as("r1"),
          percentile($"recency_d", lit(0.5)).as("r2"),
          percentile($"recency_d", lit(0.75)).as("r3"),
          percentile($"freq", lit(0.25)).as("f1"),
          percentile($"freq", lit(0.5)).as("f2"),
          percentile($"freq", lit(0.75)).as("f3"),
          percentile($"monetary", lit(0.25)).as("m1"),
          percentile($"monetary", lit(0.5)).as("m2"),
          percentile($"monetary", lit(0.75)).as("m3"))
        graded.crossJoin(broadcast(cuts))
          .select(
            when($"recency_d" <= $"r1", 4L).when($"recency_d" <= $"r2", 3L)
              .when($"recency_d" <= $"r3", 2L).otherwise(1L).as("r_score"),
            (lit(1L) + ($"freq" > $"f1").cast("long") +
              ($"freq" > $"f2").cast("long") +
              ($"freq" > $"f3").cast("long")).as("f_score"),
            (lit(1L) + ($"monetary" > $"m1").cast("long") +
              ($"monetary" > $"m2").cast("long") +
              ($"monetary" > $"m3").cast("long")).as("m_score"),
            $"monetary")
          .groupBy($"r_score", $"f_score", $"m_score")
          // avg over exact cents is order-independent; back to dollars
          // rounded to the cent via the q116 floor spelling (single
          // identical IEEE ops on an identical double)
          .agg(count(lit(1)).as("n_customers"),
               (floor(avg($"monetary") + 0.5) / 100).as("avg_monetary"))
          .orderBy($"r_score", $"f_score", $"m_score")
      },
      Some("""WITH cust AS (SELECT o_custkey, CAST(max(o_orderdate) AS DATE) AS last_d,
             |                     count(*) AS freq,
             |                     sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary
             |              FROM orders GROUP BY 1),
             |g AS (SELECT *, date_diff('day', last_d, (SELECT max(last_d) FROM cust)) AS recency_d
             |      FROM cust),
             |cuts AS (SELECT quantile_cont(recency_d, 0.25) AS r1, quantile_cont(recency_d, 0.5) AS r2,
             |                quantile_cont(recency_d, 0.75) AS r3,
             |                quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
             |                quantile_cont(freq, 0.75) AS f3,
             |                quantile_cont(monetary, 0.25) AS m1, quantile_cont(monetary, 0.5) AS m2,
             |                quantile_cont(monetary, 0.75) AS m3
             |         FROM g)
             |SELECT (CASE WHEN recency_d <= r1 THEN 4 WHEN recency_d <= r2 THEN 3
             |             WHEN recency_d <= r3 THEN 2 ELSE 1 END)::BIGINT AS r_score,
             |       (1 + (freq > f1)::INT + (freq > f2)::INT + (freq > f3)::INT)::BIGINT AS f_score,
             |       (1 + (monetary > m1)::INT + (monetary > m2)::INT + (monetary > m3)::INT)::BIGINT AS m_score,
             |       count(*) AS n_customers,
             |       floor(avg(monetary) + 0.5) / 100 AS avg_monetary
             |FROM g, cuts GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ------------------------------------------------------------------
    // Q128: conversion lag (survival-style) — per user, first 'view'
    // and the first 'purchase' on/after it; converted iff within a
    // 72 h horizon; cohorted by the first view's weekday. Every side
    // collapses to user grain BEFORE joining (q95's funnel
    // discipline). avg lag aggregates in integer seconds (exact sums)
    // and divides once, so no cross-engine fp-order drift.
    Query(
      "q128_conversion_lag",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val v = ev.filter($"event_type" === "view")
          .groupBy($"user_id").agg(min($"ts").as("first_view"))
        val p = ev.filter($"event_type" === "purchase")
          .join(v, "user_id")
          .filter($"ts" >= $"first_view")
          .groupBy($"user_id").agg(min($"ts").as("first_purchase"))
        v.join(p, Seq("user_id"), "left")
          .withColumn("lag_s",
            when(unix_timestamp($"first_purchase") - unix_timestamp($"first_view")
                   <= 72L * 3600L,
                 unix_timestamp($"first_purchase") - unix_timestamp($"first_view")))
          .groupBy(dayofweek($"first_view").as("cohort_dow"))
          .agg(count(lit(1)).as("n_users"),
               count($"lag_s").as("n_converted"),
               round(count($"lag_s").cast("double") / count(lit(1)), 4).as("conv_rate"),
               round(avg($"lag_s") / 3600.0, 4).as("avg_hours"))
          .orderBy($"cohort_dow")
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS first_view FROM events
             |           WHERE event_type = 'view' GROUP BY 1),
             |p AS (SELECT v.user_id, min(e.ts) AS first_purchase
             |      FROM v JOIN events e ON e.user_id = v.user_id
             |       AND e.event_type = 'purchase' AND e.ts >= v.first_view
             |      GROUP BY 1),
             |j AS (SELECT v.user_id, first_view,
             |             CASE WHEN date_diff('second', first_view, first_purchase) <= 72 * 3600
             |                  THEN date_diff('second', first_view, first_purchase) END AS lag_s
             |      FROM v LEFT JOIN p USING (user_id))
             |SELECT dayofweek(first_view) + 1 AS cohort_dow, count(*) AS n_users,
             |       count(lag_s) AS n_converted,
             |       round(CAST(count(lag_s) AS DOUBLE) / count(*), 4) AS conv_rate,
             |       round(avg(lag_s) / 3600.0, 4) AS avg_hours
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q129: Kolmogorov–Smirnov drift — per source, the KS statistic
    // between its doc-length distribution and the REST of the corpus.
    // The two-sample distribution test complementing q99's JS
    // divergence (JS sees token mix, KS sees any numeric feature).
    // Step functions only jump at observed values, so evaluating both
    // CDFs on the |distinct values| × |sources| grid is exact; all
    // cumulative sums are integer counts (no fp drift), windows
    // partition by source — no global window, the grid is
    // aggregate-grain.
    Query(
      "q129_ks_drift",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val c = docs.groupBy($"source", $"n_chars".as("v"))
          .agg(count(lit(1)).as("n"))
        val tot = c.groupBy($"v").agg(sum($"n").as("nv"))
        // null-SAFE (<=>) count match: distinct/groupBy keep a NULL
        // source, so a plain using-join would zero out that source's
        // own counts (ns = 0 -> DIVIDE_BY_ZERO); with <=> the unknown-
        // source stratum is a first-class row (same value on any
        // corpus without null sources — oracle hash unchanged)
        val grid = docs.select($"source").distinct()
          .crossJoin(broadcast(tot))
          .join(c.select($"source".as("c_src"), $"v".as("c_v"), $"n"),
            $"source" <=> $"c_src" && $"v" <=> $"c_v", "left")
          .drop("c_src", "c_v")
          .na.fill(0L, Seq("n"))
        val wc = Window.partitionBy($"source").orderBy($"v")
        val wp = Window.partitionBy($"source")
        grid
          .withColumn("cs", sum($"n").over(wc))
          .withColumn("ct", sum($"nv").over(wc))
          .withColumn("ns", sum($"n").over(wp))
          .withColumn("nt", sum($"nv").over(wp))
          .groupBy($"source")
          .agg(max($"ns").as("n_docs"),
               // try_divide: == / whenever another source exists (every
               // non-degenerate corpus, oracle hash unchanged); on a
               // SINGLE-source corpus nt == ns and the drift-vs-others
               // statistic is undefined — NULL, not a crash
               // (DegenerateInputsSpec single-row lane)
               round(max(abs($"cs".cast("double") / $"ns" -
                 try_divide(($"ct" - $"cs").cast("double"), $"nt" - $"ns"))), 4)
                 .as("ks_r"))
          .orderBy($"source")
      },
      Some("""WITH c AS (SELECT source, n_chars AS v, count(*) AS n FROM documents GROUP BY 1, 2),
             |tot AS (SELECT v, sum(n) AS nv FROM c GROUP BY 1),
             |grid AS (SELECT s.source, t.v, t.nv, coalesce(c.n, 0) AS n
             |         FROM (SELECT DISTINCT source FROM documents) s
             |         CROSS JOIN tot t
             |         LEFT JOIN c ON c.source IS NOT DISTINCT FROM s.source
             |                    AND c.v IS NOT DISTINCT FROM t.v),
             |cum AS (SELECT source, v,
             |               sum(n) OVER (PARTITION BY source ORDER BY v) AS cs,
             |               sum(nv) OVER (PARTITION BY source ORDER BY v) AS ct,
             |               sum(n) OVER (PARTITION BY source) AS ns,
             |               sum(nv) OVER (PARTITION BY source) AS nt
             |        FROM grid)
             |SELECT source, max(ns)::BIGINT AS n_docs,
             |       round(max(abs(CAST(cs AS DOUBLE) / ns - CAST(ct - cs AS DOUBLE) / (nt - ns))), 4) AS ks_r
             |FROM cum GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Q130: pairwise source similarity — cosine between source-level
    // token-frequency vectors via an inverted-index term join (q107's
    // sparse-cosine shape at source grain). The corpus collapses to
    // (source, token) counts FIRST; the pair join moves only the
    // shared-token mass. Counts are integers, so dot products and
    // norms are exact across engines (integer-valued double sums).
    Query(
      "q130_source_cosine",
      (s, dir) => {
        import s.implicits._
        val tok = t(s, dir, "documents")
          .select($"source", explode(TF.tokens(lower($"text"))).as("token"))
          .groupBy($"source", $"token")
          .agg(count(lit(1)).as("n"))
        val nrm = tok.groupBy($"source")
          .agg(sqrt(sum(($"n" * $"n").cast("double"))).as("nn"))
        tok.as("a").join(tok.as("b"),
            $"a.token" === $"b.token" && $"a.source" < $"b.source")
          .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
          .agg(sum(($"a.n" * $"b.n").cast("double")).as("dot"))
          .join(broadcast(nrm.select($"source".as("src_a"), $"nn".as("na"))), "src_a")
          .join(broadcast(nrm.select($"source".as("src_b"), $"nn".as("nb"))), "src_b")
          .select($"src_a", $"src_b", round($"dot" / ($"na" * $"nb"), 4).as("cos_r"))
          .orderBy($"src_a", $"src_b")
      },
      Some("""WITH tok AS (SELECT source, t AS token, count(*) AS n
             |             FROM documents,
             |                  LATERAL unnest(string_split_regex(trim(lower(text)), '\s+')) AS u(t)
             |             GROUP BY 1, 2),
             |nrm AS (SELECT source, sqrt(sum(CAST(n AS DOUBLE) * n)) AS nn FROM tok GROUP BY 1),
             |dots AS (SELECT a.source AS src_a, b.source AS src_b,
             |                sum(CAST(a.n AS DOUBLE) * b.n) AS dot
             |         FROM tok a JOIN tok b ON a.token = b.token AND a.source < b.source
             |         GROUP BY 1, 2)
             |SELECT src_a, src_b, round(dot / (na.nn * nb.nn), 4) AS cos_r
             |FROM dots JOIN nrm na ON na.source = src_a JOIN nrm nb ON nb.source = src_b
             |ORDER BY src_a, src_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Q131: peak detection — days whose event count exceeds both
    // neighbors and ≥1.05× the trailing 7-day mean. The
    // monitoring/anomaly screen. Aggregate-then-window (q113's
    // discipline): events collapse to day grain first, every window
    // runs over the ~|days| frame; the trailing mean is an integer
    // sum ÷ count, exact across engines.
    Query(
      "q131_peak_days",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy(gpin($"day")).orderBy($"day")
        t(s, dir, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n"))
          .withColumn("prev_n", lag($"n", 1).over(w))
          .withColumn("next_n", lead($"n", 1).over(w))
          .withColumn("trail", avg($"n").over(w.rowsBetween(-7, -1)))
          .filter($"prev_n".isNotNull && $"next_n".isNotNull &&
            $"n" > $"prev_n" && $"n" > $"next_n" && $"n" >= lit(1.05) * $"trail")
          .select($"day".cast("string").as("day_s"), $"n",
                  round($"trail", 4).as("trail_r"))
          .orderBy($"day_s")
      },
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1),
             |w AS (SELECT day, n,
             |             lag(n) OVER (ORDER BY day) AS prev_n,
             |             lead(n) OVER (ORDER BY day) AS next_n,
             |             avg(n) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail
             |      FROM d)
             |SELECT CAST(day AS VARCHAR) AS day_s, n, round(trail, 4) AS trail_r
             |FROM w WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
             |  AND n > prev_n AND n > next_n AND n >= 1.05 * trail
             |ORDER BY day_s""".stripMargin)),

    // ------------------------------------------------------------------
    // Q132: trade reachability — BFS hop distances from nation 0 over
    // the top-2-partner trade graph (each customer nation keeps its 2
    // heaviest cross-border supplier nations). The reachability /
    // supply-chain-depth operator (operators.ShortestPaths) beside
    // components (q58) and PageRank (q100). Edge build is the only
    // fact shuffle (q100's shape) collapsed to nation grain before
    // the top-2 window; BFS rounds then run at |V| grain. Oracle =
    // DuckDB recursive-CTE BFS (UNION-dedup'd frontier, min dist).
    Query(
      "q132_trade_hops",
      (s, dir) => {
        import s.implicits._
        val w = t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_suppkey")
          .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
                $"l_orderkey" === $"o_orderkey")
          .join(broadcast(t(s, dir, "customer").select($"c_custkey", $"c_nationkey")),
                $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")),
                $"l_suppkey" === $"s_suppkey")
          .filter($"c_nationkey" =!= $"s_nationkey")
          .groupBy($"c_nationkey".as("un"), $"s_nationkey".as("vn"))
          .agg(count(lit(1)).as("wt"))
        val e = w.withColumn("rk",
            row_number().over(Window.partitionBy($"un").orderBy($"wt".desc, $"vn")))
          .filter($"rk" <= 2)
          .select($"un", $"vn")
        val src = t(s, dir, "nation").filter($"n_nationkey" === 0)
          .select($"n_nationkey".as("node"))
        // collectThreshold: the edge set is nation-grain BY
        // CONSTRUCTION (rk <= 2 out-edges per nation, |nation| = 25 at
        // every SF — TPC-H's fixed dimension), so the BFS runs on the
        // driver in one collect instead of 2-3 jobs per hop; distances
        // identical (round 17, oracle-checked)
        graft.operators.ShortestPaths.hops(e, src, collectThreshold = 4096)
          .join(broadcast(t(s, dir, "nation")), $"node" === $"n_nationkey")
          .select($"n_name", $"dist")
          .orderBy($"dist", $"n_name")
      },
      Some("""WITH RECURSIVE w AS (SELECT c.c_nationkey AS un, s.s_nationkey AS vn, count(*) AS wt
             |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |           JOIN customer c ON o.o_custkey = c.c_custkey
             |           JOIN supplier s ON l.l_suppkey = s.s_suppkey
             |           WHERE c.c_nationkey <> s.s_nationkey
             |           GROUP BY 1, 2),
             |e AS (SELECT un, vn FROM (
             |        SELECT un, vn, row_number() OVER (PARTITION BY un ORDER BY wt DESC, vn) AS rk
             |        FROM w) WHERE rk <= 2),
             |r AS (SELECT CAST(0 AS INTEGER) AS node, 0 AS dist
             |      UNION
             |      SELECT e.vn, r.dist + 1 FROM r JOIN e ON e.un = r.node WHERE r.dist < 25)
             |SELECT n_name, min(dist)::BIGINT AS dist
             |FROM r JOIN nation ON n_nationkey = node
             |GROUP BY 1 ORDER BY dist, n_name""".stripMargin)),

    // ------------------------------------------------------------------
    // Q133: tokenizer fertility — per language, BPE-tokens-per-word
    // and chars-per-BPE-token (the tokenizer-efficiency metric that
    // drives per-language training cost). Pure map stage (two token
    // counts per doc, q34's machinery) + one agg; ratio averages
    // rounded on both sides per the order-dependent-double contract.
    Query(
      "q133_tokenizer_fertility",
      (s, dir) => {
        import s.implicits._
        // bpe = 0 (empty / whitespace-only doc) must be GUARDED, not
        // divided by: ANSI Spark throws on /0 where DuckDB returns
        // NULL, so without the explicit guard a single empty document
        // aborts the whole job at 100 TB. ws >= 1 always (split of a
        // non-null trimmed string emits at least one element), so only
        // the bpe divisor needs it; both sides skip the degenerate doc
        // in the averages while n_docs still counts it.
        t(s, dir, "documents")
          .select($"lang", $"n_chars",
                  TF.tokenCount($"text").as("ws"),
                  TF.bpeTokenCount($"text").as("bpe"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
               round(avg($"bpe".cast("double") / $"ws"), 4).as("fertility_r"),
               round(avg(when($"bpe" > 0, $"n_chars".cast("double") / $"bpe")), 4)
                 .as("chars_per_tok_r"))
          .orderBy($"lang")
      },
      Some("""WITH d AS (SELECT lang, n_chars,
             |                  len(string_split_regex(trim(text), '\s+')) AS ws,
             |                  len(regexp_extract_all(text,
             |                      '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+')) AS bpe
             |           FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |       round(avg(CAST(bpe AS DOUBLE) / ws), 4) AS fertility_r,
             |       round(avg(CASE WHEN bpe > 0 THEN CAST(n_chars AS DOUBLE) / bpe END), 4) AS chars_per_tok_r
             |FROM d GROUP BY lang ORDER BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // Q134: Wilson confidence bound — per event type, the success
    // share (value > 50) with its Wilson lower bound at z = 1.96: the
    // uncertainty-aware CTR ranking that beats raw proportions on
    // low-n arms. One agg to |types| grain; the bound is pure scalar
    // math over exact integer (n, s), written with the same
    // expression structure on both sides so the doubles agree
    // bit-for-bit before rounding.
    Query(
      "q134_ctr_wilson",
      (s, dir) => {
        import s.implicits._
        val z2 = 1.96 * 1.96
        t(s, dir, "events")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
               sum(when($"value" > 50, 1L).otherwise(0L)).as("s"))
          .withColumn("p", $"s".cast("double") / $"n")
          .select($"event_type", $"n", $"s",
            round($"p", 4).as("p_r"),
            round(($"p" + lit(z2) / (lit(2) * $"n") -
                lit(1.96) * sqrt(($"p" * (lit(1) - $"p") + lit(z2) / (lit(4) * $"n")) / $"n")) /
              (lit(1) + lit(z2) / $"n"), 4).as("wilson_low_r"))
          .orderBy($"event_type")
      },
      Some("""WITH c AS (SELECT event_type, count(*) AS n,
             |                  sum(CASE WHEN value > 50 THEN 1 ELSE 0 END)::BIGINT AS s
             |           FROM events GROUP BY 1)
             |SELECT event_type, n, s,
             |       round(CAST(s AS DOUBLE) / n, 4) AS p_r,
             |       round(((CAST(s AS DOUBLE)/n) + 1.96*1.96/(2*n)
             |              - 1.96 * sqrt(((CAST(s AS DOUBLE)/n)*(1 - CAST(s AS DOUBLE)/n) + 1.96*1.96/(4*n)) / n))
             |             / (1 + 1.96*1.96/n), 4) AS wilson_low_r
             |FROM c ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Q135: A/B lift — users deterministically split into two arms by
    // content hash (q43's stable bucket, reproducible across engines
    // and runs — no rand()), per event type: arm means, relative
    // lift, and the two-sample z statistic from var_samp. One agg to
    // |types| grain; moment aggregates are constant partial state
    // (q37's contract); z rounded to 3 (var_samp accumulation order).
    Query(
      "q135_ab_lift",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select($"event_type",
                  TF.stableBucket($"user_id".cast("string"), 2).as("arm"),
                  $"value")
          .groupBy($"event_type")
          .agg(count(when($"arm" === 0, 1)).as("na"),
               avg(when($"arm" === 0, $"value")).as("ma"),
               var_samp(when($"arm" === 0, $"value")).as("va"),
               count(when($"arm" === 1, 1)).as("nb"),
               avg(when($"arm" === 1, $"value")).as("mb"),
               var_samp(when($"arm" === 1, $"value")).as("vb"))
          .select($"event_type", $"na", $"nb",
            round($"ma", 4).as("mean_a_r"), round($"mb", 4).as("mean_b_r"),
            round(($"mb" - $"ma") / $"ma", 4).as("lift_r"),
            round(($"mb" - $"ma") / sqrt($"va" / $"na" + $"vb" / $"nb"), 3).as("z_r"))
          .orderBy($"event_type")
      },
      Some("""WITH a AS (SELECT event_type,
             |                  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2 AS arm,
             |                  value
             |           FROM events),
             |g AS (SELECT event_type,
             |             count(CASE WHEN arm = 0 THEN 1 END) AS na,
             |             avg(CASE WHEN arm = 0 THEN value END) AS ma,
             |             var_samp(CASE WHEN arm = 0 THEN value END) AS va,
             |             count(CASE WHEN arm = 1 THEN 1 END) AS nb,
             |             avg(CASE WHEN arm = 1 THEN value END) AS mb,
             |             var_samp(CASE WHEN arm = 1 THEN value END) AS vb
             |      FROM a GROUP BY 1)
             |SELECT event_type, na, nb,
             |       round(ma, 4) AS mean_a_r, round(mb, 4) AS mean_b_r,
             |       round((mb - ma) / ma, 4) AS lift_r,
             |       round((mb - ma) / sqrt(va / na + vb / nb), 3) AS z_r
             |FROM g ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Q136: cohort LTV triangle — customers cohorted by first-order
    // month, cumulative revenue per customer by month index. The
    // lifetime-value companion to q96's retention triangle. First-order
    // collapse is one customer-grain agg; the cumulative window runs
    // at (cohort × month) grain, partitioned by cohort.
    Query(
      "q136_cohort_ltv",
      (s, dir) => {
        import s.implicits._
        val f = t(s, dir, "orders")
          .groupBy($"o_custkey")
          .agg(min(date_trunc("month", $"o_orderdate")).as("cohort"))
        val sz = f.groupBy($"cohort").agg(count(lit(1)).as("n_customers"))
        // Every order amount converts to integer CENTS before ANY
        // summation (per-row cents are exact — amounts are 2-dp by
        // construction — so all sums are exact longs), and the final
        // per-customer division rounds at CENT precision, not 2-dp
        // dollars: a 2-dp round of a double hits values like x.465
        // that the double cannot represent, where Spark (BigDecimal
        // shortest-repr HALF_UP) and DuckDB (raw-double round)
        // disagree; at 0 decimals the .5 boundary IS representable
        // and both engines round it away from zero (measured: 4/1845
        // then 2/1845 rows off by $0.01 before this spelling).
        val r = t(s, dir, "orders")
          .join(f, "o_custkey")
          .groupBy($"cohort",
            ((year($"o_orderdate") * 12 + month($"o_orderdate")) -
             (year($"cohort") * 12 + month($"cohort"))).as("month_idx"))
          .agg(sum(round($"o_totalprice" * 100).cast("long")).as("rev_c"))
        r.withColumn("cum_c",
            sum($"rev_c").over(Window.partitionBy($"cohort").orderBy($"month_idx")))
          .join(broadcast(sz), "cohort")
          .select(date_format($"cohort", "yyyy-MM").as("cohort_m"),
                  $"month_idx".cast("long").as("month_idx"),
                  $"n_customers",
                  (round($"cum_c".cast("double") / $"n_customers").cast("long")
                    .cast("double") / 100.0).as("cum_rev_per_cust_r"))
          .orderBy($"cohort_m", $"month_idx")
      },
      Some("""WITH f AS (SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cohort
             |           FROM orders GROUP BY 1),
             |sz AS (SELECT cohort, count(*) AS n_customers FROM f GROUP BY 1),
             |r AS (SELECT f.cohort,
             |             (year(o.o_orderdate)*12 + month(o.o_orderdate))
             |               - (year(f.cohort)*12 + month(f.cohort)) AS month_idx,
             |             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev_c
             |      FROM orders o JOIN f ON o.o_custkey = f.o_custkey GROUP BY 1, 2),
             |c AS (SELECT cohort, month_idx,
             |             sum(rev_c) OVER (PARTITION BY cohort ORDER BY month_idx) AS cum_c
             |      FROM r)
             |SELECT strftime(cohort, '%Y-%m') AS cohort_m, month_idx::BIGINT AS month_idx,
             |       any_value(n_customers)::BIGINT AS n_customers,
             |       CAST(round(CAST(any_value(cum_c) AS DOUBLE) / any_value(n_customers)) AS BIGINT) / 100.0 AS cum_rev_per_cust_r
             |FROM c JOIN sz USING (cohort)
             |GROUP BY cohort, month_idx ORDER BY cohort_m, month_idx""".stripMargin)),

    // ------------------------------------------------------------------
    // Q137: mean-shift changepoint scan — the split day maximizing
    // |mean(before) − mean(after)| of daily event counts, 5-day
    // margins each side. The drift-alarm companion to q131's local
    // peaks. Aggregate-then-window at day grain; cumulative sums are
    // integers (exact); top-3 is TakeOrdered.
    Query(
      "q137_mean_shift",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n"))
        val tot = d.agg(count(lit(1)).as("nt"), sum($"n").as("st"))
        val w = Window.partitionBy(gpin($"day")).orderBy($"day")
        d.withColumn("cs", sum($"n").over(w))
          .withColumn("i", row_number().over(w).cast("long"))
          .crossJoin(broadcast(tot))
          .filter($"i" >= 5 && $"i" <= $"nt" - 5)
          .select($"day".cast("string").as("day_s"),
            round($"cs".cast("double") / $"i", 4).as("left_mean_r"),
            round(($"st" - $"cs").cast("double") / ($"nt" - $"i"), 4).as("right_mean_r"),
            round(abs($"cs".cast("double") / $"i" -
              ($"st" - $"cs").cast("double") / ($"nt" - $"i")), 4).as("shift_r"))
          .orderBy($"shift_r".desc, $"day_s")
          .limit(3)
      },
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1),
             |t AS (SELECT count(*) AS nt, sum(n) AS st FROM d),
             |c AS (SELECT day, n,
             |             sum(n) OVER (ORDER BY day) AS cs,
             |             row_number() OVER (ORDER BY day) AS i
             |      FROM d)
             |SELECT CAST(day AS VARCHAR) AS day_s,
             |       round(CAST(cs AS DOUBLE) / i, 4) AS left_mean_r,
             |       round(CAST(st - cs AS DOUBLE) / (nt - i), 4) AS right_mean_r,
             |       round(abs(CAST(cs AS DOUBLE) / i - CAST(st - cs AS DOUBLE) / (nt - i)), 4) AS shift_r
             |FROM c, t WHERE i >= 5 AND i <= nt - 5
             |ORDER BY shift_r DESC, day_s LIMIT 3""".stripMargin)),

    // ------------------------------------------------------------------
    // Q138: blocked entity resolution — fuzzy name matching via the
    // native JaroWinkler expression (Spark has levenshtein but no
    // Jaro-Winkler; semantics pinned bit-for-bit to DuckDB's
    // jaro_winkler_similarity, so this hash-matches an oracle that
    // uses the engine-builtin). Candidates come from cheap equality
    // blocking on (p_brand, first name token) — the standard ER
    // design where block granularity is the scale lever: at 10x the
    // corpus, brand-only blocks grow 10x and pair volume 100x (8M JW
    // calls at sf0.1, measured 7.4 s), while the compound key keeps
    // blocks bounded (1M pairs, ~1 s) at the usual blocking-recall
    // tradeoff (1612 of 1883 brand-only matches at sf0.01).
    // Identical names are excluded — exact duplicates are q12's
    // exact-dedup contract, this is the FUZZY residue.
    //
    // Round 11 scale hardening, both exact:
    //  - NAME COLLAPSE (the DupCollapse discipline, keyed on the JW
    //    input): JW is a function of the name PAIR alone, so the
    //    quadratic kernel runs over DISTINCT (block, name) pairs and
    //    re-expands by two membership joins. A duplicate-heavy corpus
    //    (the replica model measured 66x at 10x) multiplies the
    //    OUTPUT, which is the answer itself, not the JW calls.
    //  - LOUD PER-BLOCK BUDGET on the remaining quadratic driver
    //    (distinct names per block): a hot (brand, first-token) block
    //    past 4096 distinct names (~8M JW calls) fails with the block
    //    NAMED instead of going quadratic silently — refining the
    //    blocking key is a recall decision the user must make, not
    //    one the engine may take silently (PrefixScan's budget
    //    discipline). sf0.1 max block = 128 distinct names.
    //
    // Round 15: PER-PAIR cost bounded by contract, not corpus luck —
    // JW is O(len²) per pair, so replica-lengthened names (the ×10
    // mutate model prefixes every token) inflate every call even when
    // block sizes hold. The verify compares a declared 16-char name
    // resolution (substring both sides): identical wherever names fit
    // (p_name ≤ 12 chars at every SF — clamp-identity spec-asserted
    // in JaroWinklerSpec), and a hard per-pair ceiling beyond.
    Query(
      "q138_entity_resolution",
      (s, dir) => {
        import s.implicits._
        val jwResolution = 16
        val blockCap = 4096
        val p = t(s, dir, "part")
          .withColumn("blk", concat($"p_brand", lit("|"),
                                    split($"p_name", " ").getItem(0)))
        val names = p.select($"blk", $"p_name").distinct()
        val guarded = names
          .withColumn("__bn", count(lit(1)).over(Window.partitionBy($"blk")))
          .filter(when($"__bn" <= blockCap, lit(true)).otherwise(
            raise_error(concat(
              lit("q138 block '"), $"blk", lit("' has "),
              $"__bn".cast("string"),
              lit(s" distinct names (budget $blockCap): refine the blocking key")))))
          .drop("__bn")
        val np = guarded.as("x").join(guarded.as("y"),
            $"x.blk" === $"y.blk" && $"x.p_name" < $"y.p_name")
          .select($"x.blk".as("blk"), $"x.p_name".as("n1"), $"y.p_name".as("n2"))
          .withColumn("jw", graft.functions.JaroWinkler(
            substring($"n1", 1, jwResolution), substring($"n2", 1, jwResolution)))
          .filter($"jw" >= 0.88)
        np.join(p.select($"blk", $"p_name".as("n1"), $"p_partkey".as("ka")),
                Seq("blk", "n1"))
          .join(p.select($"blk", $"p_name".as("n2"), $"p_partkey".as("kb")),
                Seq("blk", "n2"))
          .select(least($"ka", $"kb").as("k1"), greatest($"ka", $"kb").as("k2"),
                  round($"jw", 4).as("jw_r"))
          .orderBy($"k1", $"k2")
      },
      Some("""SELECT a.p_partkey AS k1, b.p_partkey AS k2,
             |       round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw_r
             |FROM part a JOIN part b
             |  ON a.p_brand = b.p_brand
             | AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
             | AND a.p_partkey < b.p_partkey
             |WHERE a.p_name <> b.p_name
             |  AND jaro_winkler_similarity(a.p_name, b.p_name) >= 0.88
             |ORDER BY k1, k2""".stripMargin)),

    // ------------------------------------------------------------------
    // Q139: product-quantization ANN (operators.PqAnn) — the
    // memory-scale ANN path beside IVF (q44: scan less of the corpus)
    // and int8 (q102: 4x denser scan): PQ codes are 32x denser than
    // float32, shortlist by quantized inner product, exact rescore.
    // Codebook training is Lloyd-in-DataFrames with a seedless stable
    // init, so the result is deterministic — but k-means-in-SQL is
    // not reasonably DuckDB-expressible: rows-only here, recall and
    // determinism spec-asserted in PqAnnSpec.
    Query(
      "q139_pq_ann",
      (s, dir) => {
        import s.implicits._
        graft.operators.PqAnn.topK(
          t(s, dir, "embeddings")
            .filter(VF.usableVec($"embedding")) // zero-norm/empty: no geometry (ANSI /0)
            .select($"vec_id", VF.asDouble($"embedding").as("v")),
          isQuery = $"vec_id" < 10, m = 8, subDim = 8, k = 5)
          .select($"qid", $"nid", $"rank", round($"sim", 4).as("sim_r"))
          .orderBy($"qid", $"rank")
      },
      None),

    // ------------------------------------------------------------------
    // Q140: triangle counting — co-purchase graph (parts co-occurring
    // in an order, co-occurrence >= 2 to thin noise edges), triangles
    // via the oriented wedge join: every edge stored once as u < v,
    // wedges e(a,b)x(b,c) closed against e(a,c). The orientation
    // means each triangle is produced exactly once and the join never
    // builds the unoriented 6x wedge space. Per-node participation
    // counts, top 20 — the graph-structure companion to q100/q132.
    Query(
      "q140_triangles",
      (s, dir) => {
        import s.implicits._
        val lp = t(s, dir, "lineitem")
          .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
        val e = lp.as("a").join(lp.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
          .groupBy($"a.p".as("u"), $"b.p".as("v"))
          .agg(count(lit(1)).as("c"))
          .filter($"c" >= 2)
          .select($"u", $"v")
        val tri = e.as("e1")
          .join(e.as("e2"), $"e2.u" === $"e1.v")
          .join(e.as("e3"), $"e3.u" === $"e1.u" && $"e3.v" === $"e2.v")
          .select($"e1.u".as("a"), $"e1.v".as("b"), $"e2.v".as("c"))
        tri.select(explode(array($"a", $"b", $"c")).as("node"))
          .groupBy($"node")
          .agg(count(lit(1)).as("n_triangles"))
          .orderBy($"n_triangles".desc, $"node")
          .limit(20)
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
             |e AS (SELECT a.p AS u, b.p AS v FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
             |      GROUP BY 1, 2 HAVING count(*) >= 2),
             |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
             |        FROM e e1 JOIN e e2 ON e2.u = e1.v
             |             JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
             |n AS (SELECT unnest([a, b, c]) AS node FROM tri)
             |SELECT node, count(*) AS n_triangles FROM n
             |GROUP BY 1 ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // Q141: EWMA smoothing of daily event counts (alpha = 0.3) — the
    // recursive filter in closed form: e_t = sum_j w_j x_j with
    // w_j = a(1-a)^(t-j) for j > 1 and (1-a)^(t-1) for j = 1,
    // spelled as a triangular self-join AT DAY GRAIN — the recursion
    // collapses to ~90 rows after the one aggregation shuffle, so the
    // O(days^2) join is constant work regardless of corpus size (the
    // same aggregate-then-window contract as q131/q137). BOUND: this
    // spelling is O(days^2) in the SERIES length — fine at ~90 days
    // (~8k joined rows), 13M joined rows per key at a 10-year daily
    // grain. Multi-year or per-key series use the linear segmented
    // spelling instead: operators.Ewma.linear (q171 is its oracle-
    // gated twin on this exact series). Weighted sums are
    // order-dependent doubles: rounded 4 dp both sides.
    Query(
      "q141_ewma",
      (s, dir) => {
        import s.implicits._
        // Both sides of the triangular self-join consume the same
        // day-grain frame, and the non-equi join broadcasts one side —
        // a BroadcastExchange never reuses the other side's shuffle
        // subplan, so without the checkpoint the events scan + day agg
        // executed TWICE (measured: the whole plan carried 8 exchanges
        // and double the scan; the round-14 2×-contract flag's root
        // cause). The checkpointed frame is |days| rows.
        val d = graft.operators.Checkpoints.track(
          t(s, dir, "events")
            .groupBy(to_date($"ts").as("day"))
            .agg(count(lit(1)).as("n"))
            .withColumn("i", row_number().over(
              Window.partitionBy(gpin($"day")).orderBy($"day")).cast("long"))
            .localCheckpoint(eager = false))
        d.as("x").join(d.as("y"), $"y.i" <= $"x.i")
          .groupBy($"x.day".as("day"), $"x.n".as("n"))
          .agg(round(sum(
            $"y.n" * pow(lit(0.7), $"x.i" - $"y.i") *
              when($"y.i" === 1, lit(1.0)).otherwise(lit(0.3))), 4).as("ewma_r"))
          .select($"day".cast("string").as("day_s"), $"n", $"ewma_r")
          .orderBy($"day_s")
      },
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1),
             |i AS (SELECT day, n, row_number() OVER (ORDER BY day) AS i FROM d)
             |SELECT CAST(x.day AS VARCHAR) AS day_s, x.n,
             |       round(sum(y.n * pow(0.7, x.i - y.i) *
             |                 CASE WHEN y.i = 1 THEN 1.0 ELSE 0.3 END), 4) AS ewma_r
             |FROM i x JOIN i y ON y.i <= x.i
             |GROUP BY x.day, x.n ORDER BY day_s""".stripMargin)),

    // ------------------------------------------------------------------
    // Q142: composite quality gate — the Gopher-style multi-rule
    // document filter that sits in front of every training-data
    // pipeline: word count, mean word length, distinct-token ratio,
    // stopword presence, each a reusable TF metric (exact q19
    // spellings so the two engines agree bit-for-bit), combined into
    // a pass flag + per-rule fail counts per source. One scan, one
    // agg to |sources| grain; at 100 TB the gate is map-side work and
    // the output is the mixture report.
    Query(
      "q142_quality_gate",
      (s, dir) => {
        import s.implicits._
        val stop = array(Seq("the", "of", "and", "to", "in").map(lit): _*)
        t(s, dir, "documents")
          .select($"source",
                  TF.tokenCount($"text").as("ws"),
                  TF.avgTokenLen($"text").as("awl"),
                  TF.distinctTokenRatio($"text").as("dtr"),
                  arrays_overlap(TF.tokens($"text"), stop).as("has_stop"))
          .select($"source",
                  ($"ws" >= 20 && $"ws" <= 1000).as("r1"),
                  ($"awl" >= 4.0 && $"awl" <= 6.5).as("r2"),
                  ($"dtr" >= 0.45).as("r3"),
                  $"has_stop".as("r4"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
               sum(when(!$"r1", 1L).otherwise(0L)).as("fail_len"),
               sum(when(!$"r2", 1L).otherwise(0L)).as("fail_awl"),
               sum(when(!$"r3", 1L).otherwise(0L)).as("fail_rep"),
               sum(when(!$"r4", 1L).otherwise(0L)).as("fail_stop"),
               sum(when($"r1" && $"r2" && $"r3" && $"r4", 1L).otherwise(0L)).as("n_pass"))
          .withColumn("pass_rate_r",
                      round($"n_pass".cast("double") / $"n_docs", 4))
          .orderBy($"source")
      },
      Some("""WITH m AS (SELECT source,
             |  len(string_split_regex(trim(text), '\s+')) AS ws,
             |  length(regexp_replace(text, '\s', '', 'g'))::DOUBLE /
             |    len(string_split_regex(trim(text), '\s+')) AS awl,
             |  len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE /
             |    len(string_split_regex(trim(text), '\s+')) AS dtr,
             |  len(list_intersect(string_split_regex(trim(text), '\s+'),
             |      ['the','of','and','to','in'])) >= 1 AS has_stop
             |  FROM documents),
             |r AS (SELECT source,
             |  ws BETWEEN 20 AND 1000 AS r1,
             |  awl BETWEEN 4.0 AND 6.5 AS r2,
             |  dtr >= 0.45 AS r3,
             |  has_stop AS r4
             |  FROM m)
             |SELECT source, count(*) AS n_docs,
             |  sum(CASE WHEN NOT r1 THEN 1 ELSE 0 END)::BIGINT AS fail_len,
             |  sum(CASE WHEN NOT r2 THEN 1 ELSE 0 END)::BIGINT AS fail_awl,
             |  sum(CASE WHEN NOT r3 THEN 1 ELSE 0 END)::BIGINT AS fail_rep,
             |  sum(CASE WHEN NOT r4 THEN 1 ELSE 0 END)::BIGINT AS fail_stop,
             |  sum(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
             |  round(sum(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END)::DOUBLE
             |        / count(*), 4) AS pass_rate_r
             |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Q143: cross-snapshot incremental dedup
    // (operators.IncrementalDedup) — the daily-ingest pipeline shape:
    // the NEW batch (sources src10+) dedupes against the HISTORICAL
    // corpus (src0-9) without a history self-join. Exact tier is a
    // fingerprint-index probe; near-dup tier generates candidates
    // with the cross-corpus PPJoin prefix filter (exact recall, so
    // this hash-matches an ALL-PAIRS oracle), verifies with the
    // sorted-merge Jaccard. Per-batch cost follows batch size, not
    // corpus size — the property that matters when history is 100 TB.
    Query(
      "q143_incremental_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .withColumn("src_n", substring($"source", 4, 10).cast("int"))
        graft.operators.IncrementalDedup.against(
          batch = docs.filter($"src_n" >= 10).select($"doc_id", $"text"),
          history = docs.filter($"src_n" < 10).select($"doc_id", $"text"),
          thr = 0.5)
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text,
             |                  CAST(substr(source, 4) AS INT) AS src_n FROM documents),
             |h AS (SELECT * FROM d WHERE src_n < 10),
             |bt AS (SELECT * FROM d WHERE src_n >= 10),
             |fh AS (SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             |              min(doc_id) AS hid FROM h GROUP BY 1),
             |ex AS (SELECT b.doc_id, fh.hid AS exact_id
             |       FROM (SELECT doc_id,
             |               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
             |             FROM bt) b JOIN fh USING (fp)),
             |shb AS (SELECT doc_id, list_distinct(list_transform(
             |          generate_series(1, len(tk) - 2),
             |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
             |        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
             |              FROM bt WHERE doc_id NOT IN (SELECT doc_id FROM ex))),
             |shh AS (SELECT doc_id, list_distinct(list_transform(
             |          generate_series(1, len(tk) - 2),
             |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
             |        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM h)),
             |j AS (SELECT b.doc_id, h.doc_id AS hid,
             |             len(list_intersect(b.sh, h.sh))::DOUBLE /
             |               len(list_distinct(list_concat(b.sh, h.sh))) AS j
             |      FROM shb b CROSS JOIN shh h),
             |best AS (SELECT doc_id, hid AS near_id, j FROM (
             |           SELECT doc_id, hid, j,
             |                  row_number() OVER (PARTITION BY doc_id
             |                                     ORDER BY j DESC, hid) AS brn
             |           FROM j WHERE j >= 0.5) WHERE brn = 1)
             |SELECT bt.doc_id,
             |       CASE WHEN ex.exact_id IS NOT NULL THEN 'exact'
             |            WHEN best.near_id IS NOT NULL THEN 'neardup'
             |            ELSE 'kept' END AS verdict,
             |       coalesce(ex.exact_id, best.near_id) AS match_id,
             |       CASE WHEN best.near_id IS NOT NULL THEN round(best.j, 4) END AS j_r
             |FROM bt LEFT JOIN ex ON ex.doc_id = bt.doc_id
             |        LEFT JOIN best ON best.doc_id = bt.doc_id
             |ORDER BY bt.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q144: deterministic weighted sampling WITHOUT replacement —
    // Efraimidis-Spirakis exponential race: per row, key =
    // −ln(u)/w with u a hash-derived uniform in (0, 1]; the k
    // smallest keys per group are a weighted sample without
    // replacement. No rand(): u comes from md5(id) (q43/q88's
    // engine-portable determinism), so the sample is reproducible
    // across runs, engines, and partitionings — the property a
    // data-mixture pipeline needs for auditable subsets. One
    // per-group rank shuffle; key math is row-local.
    Query(
      "q144_weighted_sample",
      (s, dir) => {
        import s.implicits._
        val u = (conv(substring(md5($"o_orderkey".cast("string")), 1, 8),
                      16, 10).cast("long") + 1L) / lit(4294967296.0)
        val k = -log(u) / $"o_totalprice"
        val w = Window.partitionBy($"o_orderpriority").orderBy($"k", $"o_orderkey")
        t(s, dir, "orders")
          .select($"o_orderpriority", $"o_orderkey", $"o_totalprice", k.as("k"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter($"rk" <= 10)
          .select($"o_orderpriority", $"rk", $"o_orderkey", $"o_totalprice",
                  round($"k" * lit(1e6), 6).as("key_ppm_r"))
          .orderBy($"o_orderpriority", $"rk")
      },
      Some("""WITH keyed AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
             |  -ln((('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT + 1)
             |      / 4294967296.0) / o_totalprice AS k
             |  FROM orders),
             |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
             |                                   ORDER BY k, o_orderkey) AS rk
             |      FROM keyed)
             |SELECT o_orderpriority, rk::BIGINT AS rk, o_orderkey, o_totalprice,
             |       round(k * 1e6, 6) AS key_ppm_r
             |FROM r WHERE rk <= 10
             |ORDER BY o_orderpriority, rk""".stripMargin)),

    // ------------------------------------------------------------------
    // Q145: PCA fit + projection (operators.Pca) — the dimensionality-
    // reduction step of an embedding pipeline, here on a 2-D feature
    // space so the eigensolve itself is oracle-checkable: ONE moments
    // pass (each partition reduces to a d + d(d+1)/2 buffer, shuffle
    // carries O(partitions·d²) bytes), a driver-side Jacobi eigensolve,
    // and a map-only projection with the axes baked in as literals.
    // Features are integer-valued (whitespace token count, n_chars),
    // so the double-summed moments are EXACT (≪ 2^53) and identical to
    // the oracle's sums under ANY partition/summation order; the oracle
    // solves the same 2×2 symmetric eigenproblem in closed form with
    // the same mean-then-covariance arithmetic and the same
    // largest-|entry|-positive sign canonicalization, so the per-row
    // projections agree to ~1e-11 and hash-match at 4 decimals. The
    // 64-D embedding fit (not SQL-expressible) is spec-covered
    // (PcaSpec: planted axes, decorrelation, partitioning-invariance).
    Query(
      "q145_pca_project",
      (s, dir) => {
        import s.implicits._
        // NULL-text docs carry no token-count feature: excluded on BOTH
        // sides, or the fit moments diverge (the oracle's null-skipping
        // sums over count(*) rows would mix populations)
        val f = t(s, dir, "documents")
          .filter($"text".isNotNull)
          .select($"doc_id",
            array(size(TF.tokens($"text")).cast("double"),
                  $"n_chars".cast("double")).as("vec"))
        val m = graft.operators.Pca.fit(f, $"vec", dim = 2, k = 2)
        graft.operators.Pca.project(f, $"vec", m)
          .select($"doc_id", round($"pc1", 4).as("pc1_r"),
                  round($"pc2", 4).as("pc2_r"))
          .orderBy($"doc_id")
      },
      Some("""WITH f AS (SELECT doc_id,
             |                  len(string_split_regex(trim(text), '\s+'))::DOUBLE AS x,
             |                  n_chars::DOUBLE AS y
             |           FROM documents WHERE text IS NOT NULL),
             |s AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
             |             sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
             |      FROM f),
             |c AS (SELECT sx/n AS mx, sy/n AS my,
             |             sxx/n - (sx/n)*(sx/n) AS a,
             |             sxy/n - (sx/n)*(sy/n) AS cv,
             |             syy/n - (sy/n)*(sy/n) AS b
             |      FROM s),
             |e AS (SELECT mx, my, a, b, cv,
             |             (a+b)/2 + sqrt(((a-b)/2)*((a-b)/2) + cv*cv) AS l1,
             |             (a+b)/2 - sqrt(((a-b)/2)*((a-b)/2) + cv*cv) AS l2
             |      FROM c),
             |u AS (SELECT mx, my,
             |             cv / sqrt(cv*cv + (l1-a)*(l1-a)) AS u1x,
             |             (l1-a) / sqrt(cv*cv + (l1-a)*(l1-a)) AS u1y,
             |             cv / sqrt(cv*cv + (l2-a)*(l2-a)) AS u2x,
             |             (l2-a) / sqrt(cv*cv + (l2-a)*(l2-a)) AS u2y
             |      FROM e),
             |v AS (SELECT mx, my,
             |             CASE WHEN (CASE WHEN abs(u1y) > abs(u1x) THEN u1y ELSE u1x END) < 0
             |                  THEN -u1x ELSE u1x END AS v1x,
             |             CASE WHEN (CASE WHEN abs(u1y) > abs(u1x) THEN u1y ELSE u1x END) < 0
             |                  THEN -u1y ELSE u1y END AS v1y,
             |             CASE WHEN (CASE WHEN abs(u2y) > abs(u2x) THEN u2y ELSE u2x END) < 0
             |                  THEN -u2x ELSE u2x END AS v2x,
             |             CASE WHEN (CASE WHEN abs(u2y) > abs(u2x) THEN u2y ELSE u2x END) < 0
             |                  THEN -u2y ELSE u2y END AS v2y
             |      FROM u)
             |SELECT doc_id,
             |       round(x*v1x + y*v1y - (v1x*mx + v1y*my), 4) AS pc1_r,
             |       round(x*v2x + y*v2y - (v2x*mx + v2y*my), 4) AS pc2_r
             |FROM f CROSS JOIN v
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q146: Z-order data layout — Morton-interleave (functions.ZOrder,
    // the expression behind every "Z-ORDER BY" clustering command)
    // events on quantized (value, time), pack the sorted stream into
    // 256-row "files", and report each file's bounding box on BOTH
    // dimensions: the min/max envelopes a parquet/manifest reader
    // prunes against (measured in ScaleToolsSpec: z-sorted envelopes
    // prune ~an order of magnitude more of a 2-D box scan than a
    // linear sort). All quantization is INTEGER arithmetic (cents,
    // epoch-ms, `div`) so both engines bucket identically; the global
    // order is operators.GlobalRank — a range-partitioned sort +
    // zipWithIndex, no single-task WindowExec. One scan, one scalar
    // agg broadcast, one sort shuffle, one group agg.
    Query(
      "q146_zorder_layout",
      (s, dir) => {
        import s.implicits._
        // coalesce(value, 0): a layout query must place EVERY row —
        // a NULL metric would give a NULL z-key, which Spark ranks
        // first and DuckDB last (cross-engine split), and "this row
        // goes nowhere" is not a valid file assignment. Zero cell is
        // the deterministic home for missing metrics on both sides.
        val ev = t(s, dir, "events")
          .select($"event_id", unix_millis($"ts").as("tm"),
                  round(coalesce($"value", lit(0.0)) * 100).cast("long").as("vc"))
        val b = ev.agg(min($"tm").as("mnt"), max($"tm").as("mxt"),
                       min($"vc").as("mnv"), max($"vc").as("mxv"))
        val q = ev.crossJoin(broadcast(b))
          // greatest(range, 1): when a column is CONSTANT (single-row
          // or all-equal corpus) its range is 0 and every value
          // quantizes to cell 0 instead of an integer-div-by-zero
          // crash; range > 0 is bit-identical to the bare div
          .withColumn("xq", expr("((vc - mnv) * 255) div greatest(mxv - mnv, 1)"))
          .withColumn("yq", expr("((tm - mnt) * 255) div greatest(mxt - mnt, 1)"))
          .withColumn("zkey", graft.functions.ZOrder.zValue($"xq", $"yq", 8))
          .select($"event_id", $"xq", $"yq", $"zkey")
        graft.operators.GlobalRank.withRank(q, "rk", $"zkey", $"event_id")
          .withColumn("file_id", expr("(rk - 1) div 256"))
          .groupBy($"file_id")
          .agg(count(lit(1)).as("n"),
               min($"xq").as("x_lo"), max($"xq").as("x_hi"),
               min($"yq").as("y_lo"), max($"yq").as("y_hi"))
          .orderBy($"file_id")
      },
      Some {
        val zterms = (0 until 8).flatMap(i => Seq(
          s"(((xq >> $i) & 1) << ${2 * i})",
          s"(((yq >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
        s"""WITH ev AS (SELECT event_id, epoch_ms(ts) AS tm,
           |                   CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS vc
           |            FROM events),
           |b AS (SELECT min(tm) AS mnt, max(tm) AS mxt,
           |             min(vc) AS mnv, max(vc) AS mxv FROM ev),
           |q AS (SELECT event_id,
           |             ((vc - mnv) * 255) // greatest(mxv - mnv, 1) AS xq,
           |             ((tm - mnt) * 255) // greatest(mxt - mnt, 1) AS yq
           |      FROM ev CROSS JOIN b),
           |z AS (SELECT event_id, xq, yq, $zterms AS zkey FROM q),
           |r AS (SELECT event_id, xq, yq,
           |             row_number() OVER (ORDER BY zkey, event_id) AS rk
           |      FROM z)
           |SELECT (rk - 1) // 256 AS file_id, count(*) AS n,
           |       min(xq) AS x_lo, max(xq) AS x_hi,
           |       min(yq) AS y_lo, max(yq) AS y_hi
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Q147: label propagation (operators.LabelPropagation) — spread
    // trusted supplier nation labels across the who-supplies-whom
    // graph onto unlabeled customer nodes: one round of mode-of-
    // labeled-neighbors with fixed seeds, min-label tie-break, vote
    // counts kept as provenance. The bipartite id spaces are kept
    // disjoint by offsetting customers. Multi-round convergence,
    // frontier bookkeeping and checkpoint hygiene are spec-covered
    // (LabelPropagationSpec); one round is the SQL-expressible slice
    // the oracle checks exactly. Per round: one edge⋈label equi-join,
    // one anti-join, one count agg, one per-node window — every
    // shuffle keyed by node id.
    Query(
      "q147_label_prop",
      (s, dir) => {
        import s.implicits._
        // NOT pinned (measured +22% with a localCheckpoint here, r16
        // A/B) and NOT distinct'd here (round 17): LabelPropagation
        // dedups undirected edges itself on the canonical orientation
        // (Symmetrize.undirected), so a distinct at this site was a
        // second full exchange of the edge set for the same row set.
        val edges = t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
          .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
                $"l_orderkey" === $"o_orderkey")
          .select($"l_suppkey".cast("long").as("src"),
                  ($"o_custkey" + 1000000L).as("dst"))
        val seeds = t(s, dir, "supplier")
          .select($"s_suppkey".cast("long").as("node"),
                  $"s_nationkey".cast("long").as("lbl"))
        graft.operators.LabelPropagation.propagate(edges, seeds, maxRounds = 1)
          .filter($"round" === 1)
          .select(($"node" - 1000000L).as("custkey"), $"lbl".as("label"),
                  $"votes".as("n_votes"))
          .orderBy($"custkey")
      },
      Some("""WITH e AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS c
             |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |v AS (SELECT e.c, sup.s_nationkey::BIGINT AS label, count(*) AS n
             |      FROM e JOIN supplier sup ON e.s = sup.s_suppkey
             |      GROUP BY 1, 2),
             |r AS (SELECT c, label, n,
             |             row_number() OVER (PARTITION BY c ORDER BY n DESC, label) AS rk
             |      FROM v)
             |SELECT c AS custkey, label, n AS n_votes
             |FROM r WHERE rk = 1 ORDER BY custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q148: naive-Bayes language ID, trained IN-PLAN — the trained
    // counterpart of q18's fixed n-gram heuristic: word-unigram
    // likelihoods with Laplace smoothing are learned from the 80%
    // train split (doc_id % 5 ≠ 0) and score the held-out 20%, with
    // log-priors from class frequencies. Everything is count
    // aggregates + one (lang, tok) equi-join; the 5-row class totals
    // broadcast onto the test tokens, so the only wide shuffles are
    // keyed by token. Out-of-vocabulary test tokens are dropped
    // (in-vocab semi-join) — the standard NB contract that also keeps
    // the oracle exact. Scores are fp-rounded at 4 dp (summation
    // order differs across engines ~1e-12; q90 precedent).
    Query(
      "q148_nb_langid",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").select($"doc_id", $"lang", $"text")
        // the train-token frame feeds FOUR consumers (per-(lang, tok)
        // counts, per-lang totals, the vocabulary, the priors) — each
        // re-ran the scan + tokenize + explode un-pinned, because the
        // consumers broadcast or take different aggregation keys (no
        // reusable exchange). SIZE-GUARDED (round 17): the frame is
        // the exploded token stream — fact-scale at 100 TB, where
        // materializing it to save a map-only re-tokenize is the
        // wrong trade; the guard pins at sf0.1 and recomputes at scale
        val tr = graft.operators.Checkpoints.pinIfSmall(
          docs.filter($"doc_id" % 5 =!= 0)
            .select($"doc_id", $"lang", explode(TF.tokens($"text")).as("tok")))
        val cnt = tr.groupBy($"lang", $"tok").agg(count(lit(1)).as("n"))
        val tot = tr.groupBy($"lang").agg(count(lit(1)).as("t"))
        val vocab = tr.select($"tok").distinct()
        // vocabulary size and train-doc count folded into the plan as
        // broadcast one-row aggregates instead of eager driver
        // count()s — two fewer full jobs per execution, identical
        // values enter the smoothing/prior arithmetic
        val vocabN = vocab.agg(count(lit(1)).as("__v"))
        val nTrainA = docs.filter($"doc_id" % 5 =!= 0)
          .agg(count(lit(1)).cast("double").as("__ntd"))
        val priors = tr.select($"lang", $"doc_id").distinct()
          .groupBy($"lang").agg(count(lit(1)).as("nd"))
        val te = docs.filter($"doc_id" % 5 === 0)
          .select($"doc_id", $"lang".as("true_lang"), explode(TF.tokens($"text")).as("tok"))
          .groupBy($"doc_id", $"true_lang", $"tok").agg(count(lit(1)).as("c"))
          .join(vocab, "tok") // in-vocab only
        val term = $"c" * log((coalesce($"n", lit(0L)) + 1L).cast("double") /
                              ($"t" + $"__v").cast("double"))
        val sc = te.crossJoin(broadcast(tot.select($"lang", $"t")))
          .crossJoin(broadcast(vocabN))
          .join(cnt, Seq("lang", "tok"), "left")
          .groupBy($"doc_id", $"true_lang", $"lang")
          .agg(sum(term).as("s"))
        val ll = sc.join(broadcast(priors), "lang")
          .crossJoin(broadcast(nTrainA))
          .withColumn("llh", log($"nd".cast("double") / $"__ntd") + $"s")
        val w = Window.partitionBy($"doc_id").orderBy($"llh".desc, $"lang")
        ll.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
          .select($"doc_id", $"true_lang", $"lang".as("pred_lang"),
                  round($"llh", 4).as("llh_r"),
                  ($"lang" === $"true_lang").as("correct"))
          .orderBy($"doc_id")
      },
      Some("""WITH tr AS (SELECT doc_id, lang,
             |                   unnest(string_split_regex(trim(text), '\s+')) AS tok
             |            FROM documents WHERE doc_id % 5 <> 0),
             |cnt AS (SELECT lang, tok, count(*) AS n FROM tr GROUP BY 1, 2),
             |tot AS (SELECT lang, count(*) AS t FROM tr GROUP BY 1),
             |voc AS (SELECT DISTINCT tok FROM tr),
             |vs AS (SELECT count(*) AS v FROM voc),
             |pri AS (SELECT lang, count(DISTINCT doc_id) AS nd FROM tr GROUP BY 1),
             |ntr AS (SELECT count(*)::DOUBLE AS ntd FROM documents WHERE doc_id % 5 <> 0),
             |te AS (SELECT doc_id, lang AS true_lang, tok, count(*) AS c
             |       FROM (SELECT doc_id, lang,
             |                    unnest(string_split_regex(trim(text), '\s+')) AS tok
             |             FROM documents WHERE doc_id % 5 = 0)
             |       GROUP BY 1, 2, 3),
             |ti AS (SELECT te.doc_id, te.true_lang, te.tok, te.c
             |       FROM te JOIN voc ON te.tok = voc.tok),
             |sc AS (SELECT ti.doc_id, ti.true_lang, tot.lang,
             |              sum(ti.c * ln((coalesce(cnt.n, 0) + 1)::DOUBLE
             |                            / (tot.t + vs.v)::DOUBLE)) AS s
             |       FROM ti CROSS JOIN vs CROSS JOIN tot
             |            LEFT JOIN cnt ON cnt.lang = tot.lang AND cnt.tok = ti.tok
             |       GROUP BY 1, 2, 3),
             |ll AS (SELECT sc.doc_id, sc.true_lang, sc.lang,
             |              ln(pri.nd::DOUBLE / ntr.ntd) + sc.s AS llh
             |       FROM sc JOIN pri ON pri.lang = sc.lang CROSS JOIN ntr),
             |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |                                   ORDER BY llh DESC, lang) AS rk
             |      FROM ll)
             |SELECT doc_id, true_lang, lang AS pred_lang, round(llh, 4) AS llh_r,
             |       (lang = true_lang) AS correct
             |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q149: winnowed span-level duplicate detection (Schleimer et al.
    // "Winnowing: Local Algorithms for Document Fingerprinting") — the
    // sub-chunk granularity q24 (whole-doc fp) and q109 (fixed chunks)
    // don't cover: token 5-gram hashes, keep a position iff its hash
    // is the min of the trailing w=4 window (~2/(w+1) of positions
    // survive), then docs sharing ≥ 3 selected fingerprints pair up.
    // The winnowing guarantee: any shared token run of ≥ w+k−1 = 8
    // tokens shares at least one SELECTED fingerprint, so recall on
    // long copied spans is exact while the join touches ~n/3 keys, not
    // n. Plan: one posexplode scan, one per-doc trailing window (pos-
    // ordered, doc-partitioned — the natural key), distinct, a df ≤ 20
    // hot-gram guard (boilerplate 5-grams would otherwise quadratically
    // dominate pairs, same prune as q107's df cap), and the candidate
    // equi-join on the selected 8-byte keys. All-integer hashing
    // (md5-prefix, q144's spelling) keeps the oracle bit-exact.
    Query(
      "q149_winnow_spans",
      (s, dir) => {
        import s.implicits._
        // Shared operator (operators.Winnow) so the streaming ingest
        // twin (streaming.WinnowIngest) provably computes the same
        // span-overlap contract — k=5 grams, w=4 windows, df<=20 hot-
        // gram guard, >=3 shared selected fingerprints.
        // pinned: overlapPairs consumes the selection for the df
        // guard, both pair sides, and the two sel_n rollups —
        // un-pinned, the posexplode + md5 + per-doc window selection
        // chain re-ran for the consumers the runtime could not serve
        // from an identical exchange
        val sel = graft.operators.Checkpoints.track(
          graft.operators.Winnow.selectFingerprints(
            t(s, dir, "documents"), "text", "doc_id", k = 5, w = 4)
          .localCheckpoint(eager = false))
        graft.operators.Winnow.overlapPairs(sel, "doc_id", minShared = 3L,
            maxDf = Some(20L))
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
             |              FROM documents),
             |pos AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 4)) AS pos
             |        FROM toks),
             |grams AS (SELECT doc_id, pos,
             |                 ('0x' || substr(md5(array_to_string(tk[pos:pos+4], ' ')), 1, 8))::BIGINT AS h
             |          FROM pos),
             |sel AS (SELECT DISTINCT doc_id, h
             |        FROM (SELECT doc_id, h,
             |                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
             |                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
             |              FROM grams)
             |        WHERE h = wmin),
             |guarded AS (SELECT s.doc_id, s.h
             |            FROM sel s JOIN (SELECT h FROM sel GROUP BY h
             |                             HAVING count(*) <= 20) ok ON s.h = ok.h),
             |seln AS (SELECT doc_id, count(*) AS sel_n FROM guarded GROUP BY 1),
             |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
             |          FROM guarded a JOIN guarded b ON a.h = b.h AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT doc_a, doc_b, n_shared,
             |       round(n_shared::DOUBLE / least(na.sel_n, nb.sel_n)::DOUBLE, 4) AS overlap_r
             |FROM pairs JOIN seln na ON na.doc_id = doc_a
             |           JOIN seln nb ON nb.doc_id = doc_b
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Q150: as-of snapshot diff — what changed in the latest-wins view
    // between two cutoffs T1 < T2: per key the last value at each
    // cutoff, classified added / changed / same with the value delta.
    // The audit/debug companion of the CDC view (q11/q104): "what did
    // this batch window do to the table". ONE groupBy(user_id) pass
    // computes BOTH snapshots via conditional max_by (ordering struct
    // is NULL outside the cutoff, and max_by ignores null-ordered
    // rows) — a single key shuffle over one scan, where the naive
    // spelling runs two windowed scans and a join (the oracle's
    // spelling; values agree exactly). v2 ⊇ v1 window ⇒ v2 IS NULL
    // only for keys born after T2 — excluded (not yet in either
    // snapshot). At 100 TB the same aggregate runs per bucket of the
    // manifest layout; no snapshot materializes.
    Query(
      "q150_snapshot_diff",
      (s, dir) => {
        import s.implicits._
        val t1 = lit("2024-01-10").cast("timestamp")
        val t2 = lit("2024-01-20").cast("timestamp")
        t(s, dir, "events")
          .groupBy($"user_id")
          .agg(
            max_by($"value", when($"ts" <= t1, struct($"ts", $"event_id"))).as("v1"),
            max_by($"value", when($"ts" <= t2, struct($"ts", $"event_id"))).as("v2"))
          .filter($"v2".isNotNull)
          .select($"user_id",
            round($"v1", 4).as("v1_r"), round($"v2", 4).as("v2_r"),
            when($"v1".isNull, lit("added"))
              .when($"v1" === $"v2", lit("same"))
              .otherwise(lit("changed")).as("status"),
            round($"v2" - $"v1", 4).as("delta_r"))
          .orderBy($"user_id")
      },
      Some("""WITH s1 AS (SELECT user_id, value AS v1 FROM (
             |              SELECT user_id, value,
             |                     row_number() OVER (PARTITION BY user_id
             |                                        ORDER BY ts DESC, event_id DESC) AS rn
             |              FROM events WHERE ts <= TIMESTAMP '2024-01-10')
             |            WHERE rn = 1),
             |s2 AS (SELECT user_id, value AS v2 FROM (
             |              SELECT user_id, value,
             |                     row_number() OVER (PARTITION BY user_id
             |                                        ORDER BY ts DESC, event_id DESC) AS rn
             |              FROM events WHERE ts <= TIMESTAMP '2024-01-20')
             |            WHERE rn = 1)
             |SELECT s2.user_id, round(s1.v1, 4) AS v1_r, round(s2.v2, 4) AS v2_r,
             |       CASE WHEN s1.v1 IS NULL THEN 'added'
             |            WHEN s1.v1 = s2.v2 THEN 'same'
             |            ELSE 'changed' END AS status,
             |       round(s2.v2 - s1.v1, 4) AS delta_r
             |FROM s2 LEFT JOIN s1 ON s1.user_id = s2.user_id
             |ORDER BY s2.user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q151: per-source quality calibration — keep each source's top
    // 60 % by distinct-token ratio instead of one global cutoff (a
    // global threshold would gut low-register sources and wave through
    // boilerplate-heavy ones; real pipelines calibrate per domain).
    // Plan: per-source threshold via one exact-percentile agg,
    // broadcast the ~|sources|-row threshold table back, filter. No
    // window over document rows — the per-doc work is map-only either
    // side of one small-agg shuffle. At 100 TB the only change is
    // approx_percentile for the threshold (mergeable sketch state vs
    // percentile's O(n) buffer) — same plan shape, same join. Exact
    // percentile here keeps the DuckDB oracle (quantile_cont, same
    // linear-interpolation definition); both sides round scores and
    // thresholds to 6 dp before the boundary compare so the keep set
    // is ulp-robust across engines.
    Query(
      "q151_quality_calibrate",
      (s, dir) => {
        import s.implicits._
        val scored = t(s, dir, "documents")
          .select($"doc_id", $"source",
                  round(TF.distinctTokenRatio($"text"), 6).as("score_r"))
        val thr = scored.groupBy($"source")
          .agg(round(expr("percentile(score_r, 0.4)"), 6).as("thr_r"))
        scored.join(broadcast(thr), "source")
          .filter($"score_r" >= $"thr_r")
          .select($"doc_id", $"source", $"score_r", $"thr_r")
          .orderBy($"doc_id")
      },
      Some("""WITH m AS (SELECT doc_id, source,
             |  round(len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE /
             |        len(string_split_regex(trim(text), '\s+')), 6) AS score_r
             |  FROM documents),
             |t AS (SELECT source, round(quantile_cont(score_r, 0.4), 6) AS thr_r
             |      FROM m GROUP BY source)
             |SELECT doc_id, m.source, score_r, thr_r
             |FROM m JOIN t ON m.source = t.source
             |WHERE score_r >= thr_r
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q152: boilerplate-prefix detection — documents opening with the
    // same first-4-token prefix (shared headers/templates: the
    // page-furniture signal web-corpus cleaners strip before dedup).
    // Map-side md5 of a 4-token slice, then hash-aggregates keyed by
    // the 32-char digest; count(DISTINCT source) expands to a
    // (digest, source) pre-aggregation before the digest-level agg —
    // two exchanges, both map-side combined, tiny output. Cross-source
    // spread (n_src) separates template reuse across crawls from
    // single-source repetition. No joins, no windows; the digest (not
    // the raw prefix) is the shuffle key, so key width is constant.
    Query(
      "q152_boilerplate_prefix",
      (s, dir) => {
        import s.implicits._
        // a NULL doc has no prefix: excluded on BOTH sides (concat_ws
        // would silently fold it into the md5('') group otherwise)
        t(s, dir, "documents")
          .filter($"text".isNotNull)
          .select($"doc_id", $"source",
                  md5(concat_ws(" ", slice(TF.tokens($"text"), 1, 4))).as("prefix_h"))
          .groupBy($"prefix_h")
          .agg(count(lit(1)).as("n_docs"),
               countDistinct($"source").as("n_src"),
               min($"doc_id").as("example_doc"))
          .filter($"n_docs" >= 2)
          .orderBy($"n_docs".desc, $"prefix_h")
      },
      Some("""SELECT md5(array_to_string(
             |         list_slice(string_split_regex(trim(text), '\s+'), 1, 4), ' ')) AS prefix_h,
             |       count(*) AS n_docs,
             |       count(DISTINCT source) AS n_src,
             |       min(doc_id) AS example_doc
             |FROM documents WHERE text IS NOT NULL
             |GROUP BY 1 HAVING count(*) >= 2
             |ORDER BY n_docs DESC, prefix_h""".stripMargin)),

    // ------------------------------------------------------------------
    // Q153: n-gram redundancy accounting — per source, raw 3-gram
    // occurrences vs distinct 3-grams: the "what would span-level
    // dedup save" diagnostic (redundancy 1.0 = every 3-gram unique;
    // 2.0 = half the corpus is repeated spans). Companion to
    // q149_winnow_spans (which finds the spans) and q114 (per-doc
    // novelty): this is the corpus-level budget number. Plan: explode
    // md5'd shingles, two cascaded map-side-combinable aggs keyed
    // (source, digest) then (source). At 100 TB the digest would be
    // xxhash64 (8-byte shuffle key); md5 here keeps the oracle
    // bit-identical, the shape is the same.
    Query(
      "q153_ngram_redundancy",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"source", explode(TF.shingles($"text", 3)).as("g"))
          .select($"source", md5($"g").as("h"))
          .groupBy($"source", $"h").agg(count(lit(1)).as("c"))
          .groupBy($"source")
          .agg(sum($"c").as("raw_grams"),
               count(lit(1)).as("uniq_grams"),
               round(sum($"c").cast("double") / count(lit(1)), 4).as("redundancy_r"))
          .orderBy($"source")
      },
      Some("""WITH toks AS (SELECT source, string_split_regex(trim(text), '\s+') AS tk
             |              FROM documents WHERE text IS NOT NULL),
             |grams AS (
             |  SELECT source, md5(CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
             |                          ELSE array_to_string(list_slice(tk, i, i + 2), ' ')
             |                     END) AS h
             |  FROM toks, unnest(range(1, greatest(len(tk) - 1, 2))) AS u(i)),
             |per AS (SELECT source, h, count(*) AS c FROM grams GROUP BY source, h)
             |SELECT source, sum(c)::BIGINT AS raw_grams, count(*) AS uniq_grams,
             |       round(sum(c)::DOUBLE / count(*), 4) AS redundancy_r
             |FROM per GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Q154: exponential time-decay engagement score — per user,
    // Σ value·2^(-age/half_life) against the corpus's newest event
    // (7-day half-life), the freshness-weighted ranking every crawl
    // scheduler / source-mix re-weighter runs. Plan: the reference
    // instant is a one-row aggregate broadcast into a map-side
    // per-event weight; then ONE map-side-combinable groupBy(user).
    // No window, no second scan — at 100 TB this is a single
    // fact-scan shuffle keyed by user. Both engines spell the rate as
    // ln(2)/7 so the weight doubles are bit-identical.
    Query(
      "q154_decay_score",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events").select($"user_id", $"ts", $"value")
        val ref = ev.agg(max($"ts").as("t_ref"))
        ev.crossJoin(broadcast(ref))
          .withColumn("age_days",
            (unix_millis($"t_ref") - unix_millis($"ts")).cast("double") / 86400000.0)
          .groupBy($"user_id")
          .agg(round(sum($"value" * exp(lit(-1.0) * log(lit(2.0)) / 7.0 * $"age_days")), 4)
                 .as("decay_score"),
               count(lit(1)).as("n_events"))
          .orderBy($"decay_score".desc, $"user_id")
          .limit(50)
      },
      Some("""WITH ref AS (SELECT max(ts) AS t_ref FROM events)
             |SELECT user_id,
             |       round(sum(value * exp(-ln(2) / 7 *
             |             ((epoch_ms(t_ref) - epoch_ms(ts)) / 86400000.0))), 4) AS decay_score,
             |       count(*) AS n_events
             |FROM events CROSS JOIN ref
             |GROUP BY user_id
             |ORDER BY decay_score DESC, user_id LIMIT 50""".stripMargin)),

    // ------------------------------------------------------------------
    // Q155: late-interaction retrieval (ColBERT-style MaxSim) — treat
    // each 64-d embedding as 8 token-level sub-vectors of 8 dims;
    // score(doc) = Σ_q max_j ⟨q_i, d_j⟩ against vec_id 1's
    // sub-vectors. The interaction matrix is per-doc local: the 8
    // query sub-vectors broadcast, each doc row expands to 64 dot
    // products computed map-side, and the two cascaded aggs (max per
    // (doc, query-sub), then sum per doc) are both partial-agg
    // shapes. This full-corpus spelling is the EXACT rescorer; the
    // 100 TB composition runs it over an ANN shortlist (q44's IVF
    // probe) instead of the full scan — same operator, pruned input.
    Query(
      "q155_maxsim",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
          .filter(VF.usableVec($"embedding")) // degenerate vectors: excluded both sides
          .select($"vec_id", VF.asDouble($"embedding").as("e"))
        def subs = array((0 until 8).map(i => slice($"e", i * 8 + 1, 8)): _*)
        val docSubs = emb.filter($"vec_id" =!= 1)
          .select($"vec_id", posexplode(subs))
          .toDF("vec_id", "dj", "dsub")
        val qSubs = emb.filter($"vec_id" === 1)
          .select(posexplode(subs))
          .toDF("qi", "qsub")
        docSubs.crossJoin(broadcast(qSubs))
          .select($"vec_id", $"qi", VF.dot($"dsub", $"qsub").as("d"))
          .groupBy($"vec_id", $"qi").agg(max($"d").as("m"))
          .groupBy($"vec_id").agg(round(sum($"m"), 4).as("maxsim_r"))
          .orderBy($"maxsim_r".desc, $"vec_id")
          .limit(10)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             |          WHERE list_sum(list_transform(
             |                embedding::DOUBLE[], x -> x*x)) > 0),
             |q AS (SELECT e AS qe FROM e WHERE vec_id = 1),
             |m AS (SELECT d.vec_id, qi.i AS qi,
             |             max(list_inner_product(
             |               list_slice(d.e, dj.i * 8 + 1, dj.i * 8 + 8),
             |               list_slice(q.qe, qi.i * 8 + 1, qi.i * 8 + 8))) AS m
             |      FROM e d CROSS JOIN q,
             |           generate_series(0, 7) AS qi(i),
             |           generate_series(0, 7) AS dj(i)
             |      WHERE d.vec_id <> 1
             |      GROUP BY d.vec_id, qi.i)
             |SELECT vec_id, round(sum(m), 4) AS maxsim_r
             |FROM m GROUP BY vec_id
             |ORDER BY maxsim_r DESC, vec_id LIMIT 10""".stripMargin)),

    // ------------------------------------------------------------------
    // Q156: per-label Mahalanobis outliers (diagonal covariance) — the
    // embedding-space anomaly gate: score each vector by its distance
    // from its label's per-dimension (μ, σ²), normalized so dimensions
    // with natural spread don't dominate. Plan: one posexplode pass,
    // a |labels|×64-row moments aggregate broadcast back onto the
    // exploded frame, one groupBy(vec) re-reduction. Both aggregates
    // are map-side-combinable; nothing is quadratic and the join's
    // build side is statistics, not data — the same
    // moments-then-broadcast discipline as q112/q129.
    Query(
      "q156_mahalanobis_outliers",
      (s, dir) => {
        import s.implicits._
        val x = t(s, dir, "embeddings")
          .select($"vec_id", $"label", posexplode(VF.asDouble($"embedding")))
          .toDF("vec_id", "label", "dim", "x")
        val st = x.groupBy($"label", $"dim")
          .agg(avg($"x").as("mu"), var_samp($"x").as("v"))
        x.join(broadcast(st), Seq("label", "dim"))
          .groupBy($"vec_id", $"label")
          .agg(round(sqrt(sum(pow($"x" - $"mu", 2) / $"v")), 4).as("md_r"))
          .orderBy($"md_r".desc, $"vec_id")
          .limit(20)
      },
      Some("""WITH x AS (SELECT vec_id, label, g.i AS dim, e[g.i] AS x
             |           FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e
             |                 FROM embeddings),
             |                generate_series(1, 64) AS g(i)),
             |st AS (SELECT label, dim, avg(x) AS mu, var_samp(x) AS v
             |       FROM x GROUP BY 1, 2)
             |SELECT vec_id, x.label AS label,
             |       round(sqrt(sum(pow(x.x - mu, 2) / v)), 4) AS md_r
             |FROM x JOIN st USING (label, dim)
             |GROUP BY vec_id, x.label
             |ORDER BY md_r DESC, vec_id LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // Q157: per-source CDF normalization — map each document's
    // distinct-token-ratio quality score to its percentile WITHIN its
    // source (cume_dist over the source partition), then report the
    // per-source decile profile. The normalization that makes quality
    // cutoffs comparable across domains (q151 picks one threshold;
    // this exposes the whole calibrated distribution). Plan: the
    // window partitions by source — no global sort, each source's
    // partition ranks independently — and the decile re-aggregation
    // is map-side-combinable on a ~|sources|×10 key space.
    Query(
      "q157_cdf_normalize",
      (s, dir) => {
        import s.implicits._
        // Round 8: cume_dist decomposed via operators.CumeDist —
        // collapse to (source, score) grain, inclusive cum of tie
        // counts via PrefixScan, divide by the broadcast group total.
        // Identical to cume_dist (all tied rows carry the full count
        // of rows ≤ their score, null scores rank first and survive
        // the null-safe annotate-back); no |sources|-partition window
        // ever sees fact-scale rows.
        val toks = TF.tokens($"text")
        // NULL-text docs have no uniqueness score: excluded on BOTH
        // sides (engine ranks nulls first, DuckDB's cume_dist last —
        // keeping them would split the decile boundaries cross-engine)
        val sc = t(s, dir, "documents")
          .filter($"text".isNotNull)
          .select($"doc_id", $"source",
            (size(array_distinct(toks)).cast("double") / size(toks)).as("score"))
        graft.operators.CumeDist.annotate(
            sc, Seq("source"), "score", "cs", "nr", 32)
          .withColumn("pct", $"cs".cast("double") / $"nr")
          .withColumn("decile", least(floor($"pct" * 10), lit(9L)).cast("long"))
          .groupBy($"source", $"decile")
          .agg(count(lit(1)).as("n_docs"), round(avg($"score"), 4).as("mean_score_r"))
          .orderBy($"source", $"decile")
      },
      Some("""WITH sc AS (SELECT doc_id, source,
             |              len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE /
             |              len(string_split_regex(trim(text), '\s+')) AS score
             |            FROM documents WHERE text IS NOT NULL),
             |p AS (SELECT source, score,
             |             cume_dist() OVER (PARTITION BY source ORDER BY score) AS pct
             |      FROM sc)
             |SELECT source, least(floor(pct * 10)::BIGINT, 9) AS decile,
             |       count(*) AS n_docs, round(avg(score), 4) AS mean_score_r
             |FROM p GROUP BY 1, 2 ORDER BY source, decile""".stripMargin)),

    // ------------------------------------------------------------------
    // Q158: winnow span OFFSETS — q149 flags which pairs share spans;
    // this emits the evidence a surgical span-removal pass needs: for
    // every flagged pair, each shared (guarded) fingerprint with its
    // token position in BOTH documents. Positions ride through the
    // same per-doc window pass (operators.Winnow.selectedPositions);
    // the extra joins attach positions only for the ~|pairs| flagged
    // docs, never corpus-wide. Token positions are 1-based in the
    // output (both engines).
    Query(
      "q158_winnow_offsets",
      (s, dir) => {
        import s.implicits._
        val W = graft.operators.Winnow
        // pinned: selP feeds the pair machinery (via sel), the df
        // guard, AND both position-attach sides — un-pinned, the
        // posexplode + md5 + per-doc window selection chain re-ran for
        // each consumer the runtime could not serve from an identical
        // exchange
        val selP = graft.operators.Checkpoints.track(
          W.selectedPositions(t(s, dir, "documents"), "text", "doc_id")
            .localCheckpoint(eager = false))
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
          .select($"doc_a", $"doc_b", $"h",
            ($"pa" + 1).cast("long").as("pos_a"),
            ($"pb" + 1).cast("long").as("pos_b"))
          .orderBy($"doc_a", $"doc_b", $"h", $"pos_a", $"pos_b")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
             |              FROM documents),
             |pos AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 4)) AS pos
             |        FROM toks),
             |grams AS (SELECT doc_id, pos,
             |                 ('0x' || substr(md5(array_to_string(tk[pos:pos+4], ' ')), 1, 8))::BIGINT AS h
             |          FROM pos),
             |selp AS (SELECT doc_id, pos, h
             |         FROM (SELECT doc_id, pos, h,
             |                      min(h) OVER (PARTITION BY doc_id ORDER BY pos
             |                                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
             |               FROM grams)
             |         WHERE h = wmin),
             |sel AS (SELECT DISTINCT doc_id, h FROM selp),
             |ok AS (SELECT h FROM sel GROUP BY h HAVING count(*) <= 20),
             |guarded AS (SELECT s.doc_id, s.h FROM sel s JOIN ok USING (h)),
             |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             |          FROM guarded a JOIN guarded b ON a.h = b.h AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT p.doc_a, p.doc_b, pa.h,
             |       pa.pos::BIGINT AS pos_a, pb.pos::BIGINT AS pos_b
             |FROM pairs p
             |JOIN selp pa ON pa.doc_id = p.doc_a
             |JOIN ok ON ok.h = pa.h
             |JOIN selp pb ON pb.doc_id = p.doc_b AND pb.h = pa.h
             |ORDER BY 1, 2, 3, 4, 5""".stripMargin)),

    // ------------------------------------------------------------------
    // Q159: gaps-and-islands — per user, maximal runs of the SAME
    // event_type in (ts, event_id) order (state-change detection: how
    // sticky is behavior, how often does it switch). The lag flag and
    // the running sum share one (user)-partitioned window pass — a
    // single user-keyed shuffle — and the island/stat aggregates are
    // hash aggs. The classic spelling every warehouse interview asks
    // for, done without a self-join.
    Query(
      "q159_gap_islands",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        t(s, dir, "events")
          .select($"user_id", $"ts", $"event_id", $"event_type")
          .withColumn("chg",
            when(lag($"event_type", 1).over(w).isNull ||
                 lag($"event_type", 1).over(w) =!= $"event_type", 1L).otherwise(0L))
          .withColumn("island",
            sum($"chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy($"user_id", $"island", $"event_type")
          .agg(count(lit(1)).as("run_len"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_islands"),
               max($"run_len").as("longest_run"),
               round(avg($"run_len"), 4).as("avg_run_r"))
          .orderBy($"user_id")
      },
      Some("""WITH e AS (SELECT user_id, ts, event_id, event_type,
             |                  CASE WHEN lag(event_type) OVER w IS NULL
             |                         OR lag(event_type) OVER w <> event_type
             |                       THEN 1 ELSE 0 END AS chg
             |           FROM events
             |           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |i AS (SELECT user_id, event_type,
             |             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |      FROM e),
             |r AS (SELECT user_id, island, event_type, count(*) AS run_len
             |      FROM i GROUP BY 1, 2, 3)
             |SELECT user_id, count(*) AS n_islands, max(run_len) AS longest_run,
             |       round(avg(run_len), 4) AS avg_run_r
             |FROM r GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q160: weighted median — the price at which half the QUANTITY
    // (not half the rows) sits below, per return flag: the
    // importance-weighted center every mixture-reweighting decision
    // needs (plain median treats a 1-unit and a 50-unit line the
    // same). Built-ins have no weighted quantile; the oracle runs the
    // row-level cumulative spelling, the engine runs
    // WeightedQuantile.exact — value-grain collapse FIRST (hash-agg on
    // well-distributed (flag, price) keys), then the cumulative window
    // over the collapsed grain, so the 3-key window partitions hold
    // |distinct prices per flag| rows instead of a third of the fact
    // table each. Provably the same answer (see the operator's
    // scaladoc); at near-continuous 100 TB values the sketch-CDF
    // WeightedQuantile.approx is the documented path.
    Query(
      "q160_weighted_median",
      (s, dir) => {
        import s.implicits._
        graft.operators.WeightedQuantile.exact(
            t(s, dir, "lineitem"), Seq("l_returnflag"),
            $"l_extendedprice", $"l_quantity", q = 0.5)
          .select($"l_returnflag", round($"wq", 2).as("w_median"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH c AS (SELECT l_returnflag, l_extendedprice, l_quantity,
             |                  sum(l_quantity) OVER (PARTITION BY l_returnflag
             |                        ORDER BY l_extendedprice, l_orderkey, l_linenumber
             |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
             |                  sum(l_quantity) OVER (PARTITION BY l_returnflag) AS totw
             |           FROM lineitem)
             |SELECT l_returnflag, round(min(l_extendedprice), 2) AS w_median
             |FROM c WHERE cumw >= totw / 2
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q161: dedup savings report — what exact dedup would actually
    // buy, per source: duplicate docs (same content fingerprint,
    // min-doc_id survivor) and the bytes they hold. The
    // capacity-planning readout in front of q12's dedup itself. Plan:
    // one fingerprint-partitioned row_number (the q12 survivor rule),
    // then a map-side-combinable per-source agg; the 32-byte digest is
    // the only wide shuffle key.
    Query(
      "q161_dedup_savings",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy(TF.fingerprint($"text")).orderBy($"doc_id")
        t(s, dir, "documents")
          .withColumn("rn", row_number().over(w))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
               sum(when($"rn" > 1, 1L).otherwise(0L)).as("n_dup_docs"),
               sum(when($"rn" > 1, $"n_chars").otherwise(0L)).as("bytes_saved"),
               round(sum(when($"rn" > 1, $"n_chars").otherwise(0L)).cast("double") /
                     sum($"n_chars"), 4).as("save_ratio_r"))
          .orderBy($"source")
      },
      Some("""WITH r AS (SELECT source, n_chars,
             |                  row_number() OVER (
             |                    PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
             |                    ORDER BY doc_id) AS rn
             |           FROM documents)
             |SELECT source, count(*) AS n_docs,
             |       sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
             |       sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END)::BIGINT AS bytes_saved,
             |       round(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END)::DOUBLE /
             |             sum(n_chars), 4) AS save_ratio_r
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q162: rolling regression slope — per user, the trailing-30-day
    // OLS slope of value over time at each event: the drift detector
    // that distinguishes "high but stable" from "rising". All five
    // sufficient statistics (n, Σx, Σy, Σxy, Σx²) come out of ONE
    // (user)-partitioned RANGE window over event-time seconds — the
    // closed-form slope needs no second pass and no join; a range
    // frame over a time column is exactly what Spark's rangeBetween
    // compiles to a running frame scan.
    Query(
      "q162_rolling_slope",
      (s, dir) => {
        import s.implicits._
        // x = days since 2024-01-01: CENTERED so n·Σx² − (Σx)² does not
        // cancel ~10 significant digits (raw epoch-days are ~19 700 —
        // centering keeps both engines' rounded slopes identical).
        val x = (unix_millis($"ts") - lit(1704067200000L)).cast("double") / 86400000.0
        // micro-precision frame so boundary membership matches the
        // oracle's INTERVAL arithmetic exactly
        val horizon = 30L * 86400L * 1000000L
        val w = Window.partitionBy($"user_id")
          .orderBy(unix_micros($"ts"))
          .rangeBetween(-horizon, 0L)
        t(s, dir, "events")
          .select($"user_id", $"ts", $"event_id", $"value", x.as("x"))
          // one select so all five stats land in ONE Window node (a
          // withColumn chain leaves 5 Window passes — the interleaved
          // Projects block CollapseWindow); plan-asserted below
          .select($"user_id", $"event_id",
            count(lit(1)).over(w).as("n"),
            sum($"x").over(w).as("sx"),
            sum($"value").over(w).as("sy"),
            sum($"x" * $"value").over(w).as("sxy"),
            sum($"x" * $"x").over(w).as("sxx"))
          .filter($"n" >= 2 && ($"n" * $"sxx" - $"sx" * $"sx") > 1e-12)
          .select($"user_id", $"event_id",
            round(($"n" * $"sxy" - $"sx" * $"sy") /
                  ($"n" * $"sxx" - $"sx" * $"sx"), 4).as("slope_r"))
          .orderBy($"user_id", $"event_id")
      },
      Some("""WITH b AS (SELECT user_id, event_id, ts, value,
             |                  (epoch_ms(ts) - 1704067200000) / 86400000.0 AS x
             |           FROM events),
             |s AS (SELECT user_id, event_id,
             |             count(*) OVER w AS n,
             |             sum(x) OVER w AS sx,
             |             sum(value) OVER w AS sy,
             |             sum(x * value) OVER w AS sxy,
             |             sum(x * x) OVER w AS sxx
             |      FROM b
             |      WINDOW w AS (PARTITION BY user_id ORDER BY ts
             |                   RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW))
             |SELECT user_id, event_id,
             |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope_r
             |FROM s
             |WHERE n >= 2 AND (n * sxx - sx * sx) > 1e-12
             |ORDER BY user_id, event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q163: int8 quantization error audit — the observability
    // companion of q102's quantized ANN: per label, what the
    // per-vector-scale int8 round-trip actually costs (mean/max
    // absolute reconstruction error, mean scale). The go/no-go
    // report before switching a 100 TB vector store to a 4x-denser
    // representation. Plan: scale is a per-row array_max (map-side),
    // the dim explode carries (vec, scale) alongside each component,
    // and the two cascaded aggs ((vec), then (label)) both partial-
    // combine — same moments discipline as q156, nothing quadratic.
    Query(
      "q163_quant_error",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
          .select($"vec_id", $"label", VF.asDouble($"embedding").as("v"))
          .withColumn("scale", array_max(transform($"v", x => abs(x))) / 127.0)
          .filter($"scale" > 0)
        e.select($"vec_id", $"label", $"scale", posexplode($"v"))
          .toDF("vec_id", "label", "scale", "dim", "x")
          .withColumn("err", abs($"x" - round($"x" / $"scale") * $"scale"))
          .groupBy($"vec_id", $"label")
          .agg(first($"scale").as("scale"), avg($"err").as("mae"), max($"err").as("maxe"))
          .groupBy($"label")
          .agg(count(lit(1)).as("n_vecs"),
               round(avg($"scale"), 6).as("avg_scale_r"),
               round(avg($"mae"), 6).as("mean_abs_err_r"),
               round(max($"maxe"), 6).as("max_abs_err_r"))
          .orderBy($"label")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |s AS (SELECT vec_id, label, v,
             |             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
             |      FROM e),
             |x AS (SELECT vec_id, label, scale, unnest(v) AS x
             |      FROM s WHERE scale > 0),
             |p AS (SELECT vec_id, label, scale,
             |             abs(x - round(x / scale) * scale) AS err
             |      FROM x),
             |v2 AS (SELECT vec_id, label, any_value(scale) AS scale,
             |              avg(err) AS mae, max(err) AS maxe
             |       FROM p GROUP BY 1, 2)
             |SELECT label, count(*) AS n_vecs,
             |       round(avg(scale), 6) AS avg_scale_r,
             |       round(avg(mae), 6) AS mean_abs_err_r,
             |       round(max(maxe), 6) AS max_abs_err_r
             |FROM v2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q164: perceptual-hash near-dup over MEDIA PAYLOADS — the
    // multimodal dedup path end-to-end: documents wrapped as opaque
    // binary payloads (multimodal.Multimodal.fromDocuments, the test
    // stand-in for image blobs), a 64-bit average-hash per payload
    // (avgHash64 — the honest stand-in for a DCT pHash with the same
    // dedup contract), then exactly q17's machinery: 16-bit block
    // bucketing for candidates (pigeonhole: Hamming ≤ 3 guarantees an
    // untouched block; the ≤ 6 verify keeps the grayer near-dups the
    // buckets happen to surface) and a bit_count verify. The oracle
    // runs the IDENTICAL candidate rule + verify, so candidate
    // generation, hash, and threshold are all checked, not assumed.
    // Hash parity is bit-for-bit: the ASCII corpus makes UTF-8 byte k
    // equal char k+1, and bit 63 is spelled −2⁶³ so the signed
    // two's-complement value matches Scala's Long exactly.
    Query(
      "q164_phash_neardup",
      (s, dir) => {
        import s.implicits._
        val media = graft.multimodal.Multimodal.fromDocuments(
          t(s, dir, "documents").select($"doc_id", $"text"))
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
          .select($"doc_a", $"doc_b", $"ham")
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH s AS (SELECT doc_id, i,
             |                  ord(substr(text, (i * length(text)) // 64 + 1, 1)) AS smp
             |           FROM documents, generate_series(0, 63) g(i)
             |           WHERE text IS NOT NULL),
             |m AS (SELECT doc_id, sum(smp) / 64.0 AS mean FROM s GROUP BY 1),
             |h AS (SELECT s.doc_id,
             |             sum(CASE WHEN smp > mean THEN
             |                   CASE WHEN i = 63 THEN -9223372036854775807 - 1
             |                        ELSE 1::BIGINT << i END
             |                 ELSE 0 END)::BIGINT AS phash
             |      FROM s JOIN m USING (doc_id) GROUP BY 1),
             |b AS (SELECT doc_id, phash, g.i AS blk,
             |             (phash >> (g.i * 16)) & 65535 AS key
             |      FROM h, generate_series(0, 3) g(i)),
             |p AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
             |                      a.phash AS pa, c.phash AS pb
             |      FROM b a JOIN b c ON a.blk = c.blk AND a.key = c.key
             |                        AND a.doc_id < c.doc_id)
             |SELECT doc_a, doc_b, bit_count(xor(pa, pb))::BIGINT AS ham
             |FROM p WHERE bit_count(xor(pa, pb)) <= 6
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Q165: session bounce rate — per entry event type (the session's
    // first event), how many 30-minute-gap sessions consist of that
    // single event. The engagement metric product teams run daily,
    // spelled with q40's sessionization discipline: the gap flag and
    // the running session id share ONE (user, ts-ordered) window pass;
    // the per-session reduction (min_by entry event + size) and the
    // per-entry-type rollup are both partial-agg hash aggs on keys the
    // window's partitioning already clusters.
    Query(
      "q165_bounce_rate",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val gapMs = 30L * 60 * 1000
        t(s, dir, "events")
          .select($"user_id", $"ts", $"event_id", $"event_type")
          .select($"user_id", $"ts", $"event_id", $"event_type",
            when(lag(unix_millis($"ts"), 1).over(w).isNull ||
                 unix_millis($"ts") - lag(unix_millis($"ts"), 1).over(w) > gapMs,
              1L).otherwise(0L).as("brk"))
          .withColumn("sess",
            sum($"brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          // each session has exactly ONE opening row (brk=1), so its
          // entry type is the lone non-null of this conditional max —
          // no ordered reduction needed
          .groupBy($"user_id", $"sess")
          .agg(max(when($"brk" === 1, $"event_type")).as("entry_type"),
               count(lit(1)).as("n_events"))
          .groupBy($"entry_type")
          .agg(count(lit(1)).as("n_sessions"),
               sum(when($"n_events" === 1, 1L).otherwise(0L)).as("n_bounces"),
               round(sum(when($"n_events" === 1, 1.0).otherwise(0.0)) / count(lit(1)), 4)
                 .as("bounce_rate_r"))
          .orderBy($"entry_type")
      },
      Some("""WITH e AS (SELECT user_id, ts, event_id, event_type,
             |                  CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
             |                         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
             |                       THEN 1 ELSE 0 END AS brk
             |           FROM events
             |           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |si AS (SELECT user_id, ts, event_id, event_type, brk,
             |              sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
             |       FROM e),
             |sess AS (SELECT user_id, sess,
             |                max(CASE WHEN brk = 1 THEN event_type END) AS entry_type,
             |                count(*) AS n_events
             |         FROM si GROUP BY 1, 2)
             |SELECT entry_type, count(*) AS n_sessions,
             |       sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces,
             |       round(sum(CASE WHEN n_events = 1 THEN 1.0 ELSE 0.0 END) / count(*), 4)
             |         AS bounce_rate_r
             |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q166: the full pretraining-data curation funnel END-TO-END
    // (pipelines.PretrainPipeline): eval holdout → langid → quality →
    // exact dedup → PPJoin near-dup → decontamination → split → pack,
    // every stage the SAME oracle-verified machinery as its standalone
    // query (q74/q18/q142/q12/q98/q43/q77). Output is the per-stage
    // manifest (n_in/n_out funnel), computed as ONE hash-aggregate
    // over first-drop-stage flags — no per-stage recount passes. The
    // oracle chains the per-stage SQL verbatim, so this hash-checks
    // the COMPOSITION, not just the stages.
    Query(
      "q166_pretrain_funnel",
      (s, dir) => {
        import s.implicits._
        graft.pipelines.PretrainPipeline.run(t(s, dir, "documents"))
          .manifest.orderBy($"stage_no")
      },
      Some("""WITH tk AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS tk
             |            FROM documents),
             |f AS (SELECT doc_id, text, tk,
             |        doc_id % 97 = 0 AS is_eval,
             |        (len(regexp_extract_all(lower(text), '\b(the|a|of|and|to)\b')) >=
             |           len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b'))
             |         AND len(regexp_extract_all(lower(text), '\b(the|a|of|and|to)\b')) >=
             |           len(regexp_extract_all(lower(text), '\b(le|la|et|les|est)\b'))
             |         AND len(regexp_extract_all(lower(text), '\b(the|a|of|and|to)\b')) > 0)
             |          AS lang_ok,
             |        (len(tk) BETWEEN 20 AND 1000
             |         AND length(regexp_replace(text, '\s', '', 'g'))::DOUBLE / len(tk)
             |               BETWEEN 4.0 AND 6.5
             |         AND len(list_distinct(tk))::DOUBLE / len(tk) >= 0.45
             |         AND len(list_intersect(tk, ['the','of','and','to','in'])) >= 1) AS q_ok
             |      FROM tk),
             |s2 AS (SELECT doc_id, text, tk FROM f WHERE NOT is_eval AND lang_ok AND q_ok),
             |ex AS (SELECT doc_id, text, tk, row_number() OVER (
             |         PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
             |         ORDER BY doc_id) AS rn FROM s2),
             |s3 AS (SELECT doc_id, text, tk FROM ex WHERE rn = 1),
             |g3 AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |         generate_series(1, len(tk) - 4),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
             |              tk[i+3] || ' ' || tk[i+4]))) AS g FROM s3),
             |sz AS (SELECT doc_id, count(*) AS n FROM g3 GROUP BY 1),
             |pr AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             |       FROM g3 a JOIN g3 b ON a.g = b.g AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2),
             |nd AS (SELECT DISTINCT db AS doc_id
             |       FROM pr JOIN sz sa ON sa.doc_id = pr.da
             |               JOIN sz sb ON sb.doc_id = pr.db
             |       WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5),
             |s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
             |eg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
             |         generate_series(1, len(tk) - 4),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
             |              tk[i+3] || ' ' || tk[i+4]))) AS g
             |       FROM f WHERE is_eval),
             |g4 AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |         generate_series(1, len(tk) - 4),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
             |              tk[i+3] || ' ' || tk[i+4]))) AS g FROM s4),
             |cd AS (SELECT g4.doc_id FROM g4 JOIN eg USING (g)
             |       GROUP BY 1 HAVING count(*) >= 3),
             |s5 AS (SELECT doc_id, text, len(tk)::BIGINT AS ntok FROM s4
             |       WHERE doc_id NOT IN (SELECT doc_id FROM cd)),
             |sp AS (SELECT doc_id, ntok,
             |         CASE WHEN ('0x' || substr(md5(text), 1, 4))::BIGINT % 10 = 0
             |              THEN 'val' ELSE 'train' END AS split FROM s5),
             |nb AS (SELECT coalesce(sum((s + 2047) // 2048), 0)::BIGINT AS nb
             |       FROM (SELECT split, sum(ntok) AS s FROM sp GROUP BY 1)),
             |c AS (SELECT
             |        (SELECT count(*) FROM f) AS c_base,
             |        (SELECT count(*) FROM f WHERE NOT is_eval) AS c0,
             |        (SELECT count(*) FROM f WHERE NOT is_eval AND lang_ok) AS c1,
             |        (SELECT count(*) FROM s2) AS c2,
             |        (SELECT count(*) FROM s3) AS c3,
             |        (SELECT count(*) FROM s4) AS c4,
             |        (SELECT count(*) FROM s5) AS c5,
             |        (SELECT nb FROM nb) AS c7)
             |SELECT stage_no, stage, n_in, n_out FROM (
             |  SELECT 0::BIGINT AS stage_no, 'eval_holdout' AS stage,
             |         c_base::BIGINT AS n_in, c0::BIGINT AS n_out FROM c
             |  UNION ALL SELECT 1, 'langid', c0, c1 FROM c
             |  UNION ALL SELECT 2, 'quality', c1, c2 FROM c
             |  UNION ALL SELECT 3, 'exact_dedup', c2, c3 FROM c
             |  UNION ALL SELECT 4, 'near_dup', c3, c4 FROM c
             |  UNION ALL SELECT 5, 'decontaminate', c4, c5 FROM c
             |  UNION ALL SELECT 6, 'split', c5, c5 FROM c
             |  UNION ALL SELECT 7, 'pack', c5, c7 FROM c)
             |ORDER BY stage_no""".stripMargin)),

    // ------------------------------------------------------------------
    // Q167: declarative data-constraint audit (quality.ConstraintAudit)
    // — the pre-publish contract gate: not-null / range / accepted /
    // predicate constraints fold into ONE shared aggregate pass (a new
    // constraint is a new agg column, not a new scan); uniqueness is a
    // key-grain hash-agg; referential integrity is an anti-join probe
    // against the (broadcastable) dimension key set. The horizon and
    // quantity rules are deliberately tight so the audit REPORTS
    // violations — the output is the report, not an assertion.
    Query(
      "q167_constraint_audit",
      (s, dir) => {
        import s.implicits._
        import graft.quality.ConstraintAudit._
        audit(t(s, dir, "lineitem"), Seq(
            NotNull("l_orderkey"),
            InRange("l_discount", 0.0, 0.1),
            InRange("l_quantity", 1.0, 49.0),
            Accepted("l_returnflag", Seq("A", "N", "R")),
            Satisfies("shipdate_in_horizon",
              $"l_shipdate" < lit("2001-01-01").cast("timestamp")),
            Unique(Seq("l_orderkey", "l_linenumber")),
            RefIntegrity("l_orderkey", t(s, dir, "orders"), "o_orderkey")))
          .orderBy($"constraint")
      },
      Some("""SELECT "constraint", checked, violations, violations = 0 AS pass FROM (
             |  SELECT 'not_null(l_orderkey)' AS "constraint",
             |         count(*)::BIGINT AS checked,
             |         sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
             |           AS violations FROM lineitem
             |  UNION ALL SELECT 'range(l_discount,0.0,0.1)', count(*)::BIGINT,
             |    sum(CASE WHEN l_discount IS NULL OR l_discount < 0.0
             |             OR l_discount > 0.1 THEN 1 ELSE 0 END)::BIGINT
             |    FROM lineitem
             |  UNION ALL SELECT 'range(l_quantity,1.0,49.0)', count(*)::BIGINT,
             |    sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
             |             OR l_quantity > 49.0 THEN 1 ELSE 0 END)::BIGINT
             |    FROM lineitem
             |  UNION ALL SELECT 'accepted(l_returnflag)', count(*)::BIGINT,
             |    sum(CASE WHEN l_returnflag IS NULL
             |             OR l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END)::BIGINT
             |    FROM lineitem
             |  UNION ALL SELECT 'satisfies(shipdate_in_horizon)', count(*)::BIGINT,
             |    sum(CASE WHEN NOT coalesce(l_shipdate < TIMESTAMP '2001-01-01',
             |                               FALSE) THEN 1 ELSE 0 END)::BIGINT
             |    FROM lineitem
             |  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', count(*)::BIGINT,
             |    (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT
             |    FROM lineitem
             |  UNION ALL SELECT 'ref(l_orderkey)', count(*)::BIGINT,
             |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
             |    FROM (SELECT l.l_orderkey, o.o_orderkey
             |          FROM lineitem l
             |          LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
             |            ON l.l_orderkey = o.o_orderkey
             |          WHERE l.l_orderkey IS NOT NULL))
             |ORDER BY "constraint"""".stripMargin)),

    // ------------------------------------------------------------------
    // Q168: data-mixture rebalance plan (pipelines.MixturePlan) — per
    // source: current token share, uniform target share, planned
    // tokens under a half-corpus budget, and the keep rate / epoch
    // factor a mixture designer acts on. One source-grain hash-agg;
    // the share window runs over the ≤|sources| aggregated frame.
    // Deterministic application (md5-uniform keep, q76's scheme, no
    // rand()) is MixturePlan.apply, spec-covered.
    Query(
      "q168_mixture_plan",
      (s, dir) => {
        import s.implicits._
        graft.pipelines.MixturePlan.uniform(
            t(s, dir, "documents"), TF.tokenCount($"text"), budgetFraction = 0.5)
          .orderBy($"source")
      },
      Some("""WITH d AS (SELECT source,
             |             len(string_split_regex(trim(text), '\s+'))::BIGINT AS ntok
             |           FROM documents),
             |s AS (SELECT source, count(*) AS n_docs, sum(ntok) AS n_toks
             |      FROM d GROUP BY 1),
             |t AS (SELECT *, sum(n_toks) OVER () AS total_toks,
             |             count(*) OVER () AS n_sources FROM s),
             |p AS (SELECT *, floor(0.5 * total_toks / n_sources)::BIGINT
             |               AS target_toks FROM t)
             |SELECT source, n_docs::BIGINT AS n_docs, n_toks::BIGINT AS n_toks,
             |       round(n_toks::DOUBLE / total_toks, 4) AS share_r,
             |       round(1.0 / n_sources, 4) AS target_share_r,
             |       least(target_toks, n_toks)::BIGINT AS planned_toks,
             |       round(least(target_toks::DOUBLE / n_toks, 1.0), 4) AS rate_r,
             |       round(target_toks::DOUBLE / n_toks, 4) AS epochs_r
             |FROM p ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Q169: funnel attrition BY SOURCE — which sources lose documents
    // at which stage of the q166 curation funnel (the report a data
    // engineer reads before deciding whether a crawl is worth
    // re-filtering). `Result.attrition` aggregates the SAME per-doc
    // first-drop-stage frame the q166 manifest reads (one extra
    // source-keyed hash-agg, zero extra funnel passes); a production
    // caller holding q166's Result calls `.attrition` on it directly.
    // As an INDEPENDENT catalog query this entry must build its own
    // Result first, so its bench time is funnel+agg (BASELINE.md).
    Query(
      "q169_funnel_attrition",
      (s, dir) =>
        graft.pipelines.PretrainPipeline.run(t(s, dir, "documents")).attrition,
      Some("""WITH tk AS (SELECT doc_id, source, text,
             |              string_split_regex(trim(text), '\s+') AS tk
             |            FROM documents),
             |f AS (SELECT doc_id, source, text, tk,
             |        doc_id % 97 = 0 AS is_eval,
             |        coalesce(
             |        (len(regexp_extract_all(lower(text), '\b(the|a|of|and|to)\b')) >=
             |           len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b'))
             |         AND len(regexp_extract_all(lower(text), '\b(the|a|of|and|to)\b')) >=
             |           len(regexp_extract_all(lower(text), '\b(le|la|et|les|est)\b'))
             |         AND len(regexp_extract_all(lower(text), '\b(the|a|of|and|to)\b')) > 0),
             |        false) AS lang_ok,
             |        coalesce(
             |        (len(tk) BETWEEN 20 AND 1000
             |         AND length(regexp_replace(text, '\s', '', 'g'))::DOUBLE / len(tk)
             |               BETWEEN 4.0 AND 6.5
             |         AND len(list_distinct(tk))::DOUBLE / len(tk) >= 0.45
             |         AND len(list_intersect(tk, ['the','of','and','to','in'])) >= 1),
             |        false) AS q_ok
             |      FROM tk),
             |s2 AS (SELECT doc_id, text, tk FROM f WHERE NOT is_eval AND lang_ok AND q_ok),
             |ex AS (SELECT doc_id, text, tk, row_number() OVER (
             |         PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
             |         ORDER BY doc_id) AS rn FROM s2),
             |s3 AS (SELECT doc_id, text, tk FROM ex WHERE rn = 1),
             |g3 AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |         generate_series(1, len(tk) - 4),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
             |              tk[i+3] || ' ' || tk[i+4]))) AS g FROM s3),
             |sz AS (SELECT doc_id, count(*) AS n FROM g3 GROUP BY 1),
             |pr AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
             |       FROM g3 a JOIN g3 b ON a.g = b.g AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2),
             |nd AS (SELECT DISTINCT db AS doc_id
             |       FROM pr JOIN sz sa ON sa.doc_id = pr.da
             |               JOIN sz sb ON sb.doc_id = pr.db
             |       WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5),
             |s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
             |eg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
             |         generate_series(1, len(tk) - 4),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
             |              tk[i+3] || ' ' || tk[i+4]))) AS g
             |       FROM f WHERE is_eval),
             |g4 AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |         generate_series(1, len(tk) - 4),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
             |              tk[i+3] || ' ' || tk[i+4]))) AS g FROM s4),
             |cd AS (SELECT g4.doc_id FROM g4 JOIN eg USING (g)
             |       GROUP BY 1 HAVING count(*) >= 3),
             |pd AS (SELECT source,
             |         CASE WHEN is_eval THEN 0
             |              WHEN NOT lang_ok THEN 1
             |              WHEN NOT q_ok THEN 2
             |              WHEN doc_id IN (SELECT doc_id FROM ex WHERE rn > 1) THEN 3
             |              WHEN doc_id IN (SELECT doc_id FROM nd) THEN 4
             |              WHEN doc_id IN (SELECT doc_id FROM cd) THEN 5
             |              ELSE 99 END AS stage_no
             |       FROM f)
             |SELECT source, stage_no::BIGINT AS stage_no,
             |       CASE stage_no WHEN 0 THEN 'eval_holdout' WHEN 1 THEN 'langid'
             |            WHEN 2 THEN 'quality' WHEN 3 THEN 'exact_dedup'
             |            WHEN 4 THEN 'near_dup' WHEN 5 THEN 'decontaminate'
             |            ELSE 'kept' END AS stage,
             |       count(*)::BIGINT AS n_docs,
             |       round(count(*)::DOUBLE /
             |             sum(count(*)) OVER (PARTITION BY source), 4) AS frac_r
             |FROM pd GROUP BY source, stage_no
             |ORDER BY source, stage_no""".stripMargin)),

    // ------------------------------------------------------------------
    // Q170: deterministic epoch shuffle + shard layout — the dataloader
    // contract at the end of the curation funnel: every doc gets a
    // reproducible (epoch, shard, position) so training streams shards
    // in shuffled order with NO read-time global sort, and a re-run on
    // any partitioning/engine lands every doc in the same slot (md5 of
    // "epoch:doc_id", the q43/q76 no-rand() scheme; a new epoch is a
    // new salt, not a new plan). The per-(epoch, shard) position window
    // is bounded by the SHARD-SIZE knob, not by key cardinality:
    // nshards grows with the corpus to hold shard ≈ one dataloader
    // file, so partition width is capped by construction — unlike the
    // fixed-cardinality language/source windows the round-8 PrefixScan
    // sweep removed (ScaleSmoke probes this: 10x corpus, 10x shards,
    // flat per-shard width). Output is the shard manifest a reader
    // consumes: sizes, token mass, and the first/last doc per shard as
    // a layout checksum.
    Query(
      "q170_epoch_shuffle",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select($"doc_id", TF.tokenCount($"text").as("ntok"))
        val e = docs
          .withColumn("epoch", explode(sequence(lit(0L), lit(2L))))
          .withColumn("h", md5(concat($"epoch".cast("string"), lit(":"),
            $"doc_id".cast("string"))))
          .withColumn("shard",
            conv(substring($"h", 1, 4), 16, 10).cast("long") % 8)
        val w = Window.partitionBy($"epoch", $"shard").orderBy($"h", $"doc_id")
        e.withColumn("pos", row_number().over(w).cast("long"))
          .groupBy($"epoch", $"shard")
          .agg(count(lit(1)).as("n_docs"),
            sum($"ntok").as("n_tokens"),
            max(when($"pos" === 1, $"doc_id")).as("first_doc"),
            max_by($"doc_id", $"pos").as("last_doc"))
          .orderBy($"epoch", $"shard")
      },
      Some("""WITH d AS (SELECT doc_id,
             |             len(string_split_regex(trim(text), '\s+'))::BIGINT AS ntok
             |           FROM documents),
             |e AS (SELECT doc_id, ntok, epoch,
             |        md5(epoch::VARCHAR || ':' || doc_id::VARCHAR) AS h
             |      FROM d, (SELECT unnest([0, 1, 2]) AS epoch)),
             |sh AS (SELECT *, ('0x' || substr(h, 1, 4))::BIGINT % 8 AS shard FROM e),
             |p AS (SELECT *, row_number() OVER (
             |        PARTITION BY epoch, shard ORDER BY h, doc_id) AS pos FROM sh)
             |SELECT epoch::BIGINT AS epoch, shard, count(*) AS n_docs,
             |       sum(ntok)::BIGINT AS n_tokens,
             |       max(CASE WHEN pos = 1 THEN doc_id END) AS first_doc,
             |       arg_max(doc_id, pos) AS last_doc
             |FROM p GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin)),

    // ------------------------------------------------------------------
    // Q171: EWMA via the LINEAR segmented spelling (operators.Ewma) —
    // q141's scale escape, oracle-gated on the same day-grain series.
    // The oracle spells the closed form as the O(days^2) triangular
    // join (fine for DuckDB at this grain); the engine side runs
    // Ewma.linear's O(n) decomposition — segment-rescaled window
    // cumsum + driver-folded carry — with segLen = 8 so even the
    // ~30-day sf0.01 gate crosses multiple segment boundaries and the
    // carry fold is exercised, not just the local window. Hash
    // equality HERE is the proof the linear spelling is exact, not
    // approximate. alpha = 0.2 (vs q141's 0.3) so the two queries
    // pin different kernels; resid = n - ewma is the anomaly signal
    // this query exists to produce.
    Query(
      "q171_ewma_linear",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n"))
        graft.operators.Ewma.linear(d, Nil, "day", "n", 0.2, "ewma", segLen = 8)
          .select($"day".cast("string").as("day_s"), $"n",
                  round($"ewma", 4).as("ewma_r"),
                  round($"n" - $"ewma", 4).as("resid_r"))
          .orderBy($"day_s")
      },
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1),
             |i AS (SELECT day, n, row_number() OVER (ORDER BY day) AS i FROM d)
             |SELECT CAST(x.day AS VARCHAR) AS day_s, x.n,
             |       round(sum(y.n * pow(0.8, x.i - y.i) *
             |                 CASE WHEN y.i = 1 THEN 1.0 ELSE 0.2 END), 4) AS ewma_r,
             |       round(x.n - sum(y.n * pow(0.8, x.i - y.i) *
             |                 CASE WHEN y.i = 1 THEN 1.0 ELSE 0.2 END), 4) AS resid_r
             |FROM i x JOIN i y ON y.i <= x.i
             |GROUP BY x.day, x.n ORDER BY day_s""".stripMargin)),

    // ------------------------------------------------------------------
    // Q172: the REAL image codec end-to-end, oracle-gated. Each
    // document's bytes become a deterministic 8x8 grayscale grid
    // (q164's byte sampling), PNG-encoded ON THE EXECUTORS
    // (Multimodal.encodeGrayPng), then run through the genuine
    // javax.imageio decode path: true raster dimensions + the real
    // pixel aHash (8x8 area-average resample -> mean threshold) over
    // DECODED pixels. PNG is lossless and the 8x8 resample is the
    // identity at 8x8, so DuckDB can predict the decoded result from
    // the SOURCE text — the oracle recomputes the hash from character
    // ordinals, which hash-matches only if encode -> ImageIO decode ->
    // grayscale extraction -> resample -> threshold are ALL bit-exact.
    // (Hash parity relies on the ASCII corpus: UTF-8 byte k = char
    // k+1, and bit 63 is spelled as -2^63 — q164's conventions.
    // NULL-text docs are excluded on BOTH sides by construction:
    // engine payload.isNotNull ↔ oracle WHERE text IS NOT NULL —
    // agreement must not depend on the corpus having no NULLs.)
    Query(
      "q172_image_decode",
      (s, dir) => {
        import s.implicits._
        val M = graft.multimodal.Multimodal
        val media = t(s, dir, "documents")
          .select($"doc_id", encode($"text", "UTF-8").as("payload"))
          .filter($"payload".isNotNull)
          .as[(Long, Array[Byte])]
          .map { case (id, b) =>
            val n = b.length
            val px = Array.tabulate(64)(i =>
              if (n == 0) 0 else b(((i.toLong * n) / 64).toInt) & 0xFF)
            M.MediaRecord(id, "png", M.encodeGrayPng(px, 8, 8))
          }
        // one ImageIO decode per payload (imageSummary) — the codec IS
        // the cost; decode(media) + avgHash64(media) would pay it twice
        M.imageSummary(media)
          .select($"doc_id", $"width", $"height", $"phash")
          .orderBy($"doc_id")
      },
      Some("""WITH s AS (SELECT doc_id, i,
             |                  ord(substr(text, (i * length(text)) // 64 + 1, 1)) AS smp
             |           FROM documents, generate_series(0, 63) g(i)
             |           WHERE text IS NOT NULL),
             |m AS (SELECT doc_id, sum(smp) / 64.0 AS mean FROM s GROUP BY 1),
             |h AS (SELECT s.doc_id,
             |             sum(CASE WHEN smp > mean THEN
             |                   CASE WHEN i = 63 THEN -9223372036854775807 - 1
             |                        ELSE 1::BIGINT << i END
             |                 ELSE 0 END)::BIGINT AS phash
             |      FROM s JOIN m USING (doc_id) GROUP BY 1)
             |SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height, phash
             |FROM h ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q173: REAL audio decode end-to-end — the WAV twin of q172.
    // Each document's bytes become signed 16-bit mono PCM
    // ((byte-79)*256 — centered inside the printable-ASCII range so
    // the waveform actually crosses zero), WAV-encoded on the
    // executors, then decoded by Multimodal.decodeAudio via the JDK's
    // javax.sound WAV parser: container-reported rate/channels/frame
    // count plus integer-exact features over the DECODED samples
    // (sum |amplitude|, strict sign flips, 64-probe energy
    // fingerprint). PCM is lossless, so DuckDB predicts every column
    // from character ordinals — the hash matches only if WAV encode ->
    // javax.sound parse -> PCM reassembly -> feature extraction are
    // ALL bit-exact. (ASCII corpus + q172's bit-63 conventions.
    // DuckDB's generate_series needs a constant bound, so the oracle
    // samples the first 4096 chars; a corpus with longer docs FAILS
    // the compare loudly — the cap can't silently pass — and the
    // left joins keep zero-length docs comparable as all-zero rows,
    // while NULL-text docs are excluded on BOTH sides — engine
    // payload.isNotNull ↔ oracle WHERE text IS NOT NULL.)
    Query(
      "q173_audio_decode",
      (s, dir) => {
        import s.implicits._
        val M = graft.multimodal.Multimodal
        val media = t(s, dir, "documents")
          .select($"doc_id", encode($"text", "UTF-8").as("payload"))
          .filter($"payload".isNotNull)
          .as[(Long, Array[Byte])]
          .map { case (id, b) =>
            val samples = b.map(x => (((x & 0xFF) - 79) * 256).toShort)
            M.MediaRecord(id, "wav", M.encodePcm16Wav(samples, 8000))
          }
        M.decodeAudio(media).toDF()
          .select($"doc_id", $"sample_rate",
                  $"channels".cast("long").as("channels"),
                  $"n_samples", $"sum_abs", $"zero_cross", $"afp")
          .orderBy($"doc_id")
      },
      Some("""WITH b AS (SELECT doc_id, i, ord(substr(text, i + 1, 1)) - 79 AS v
             |           FROM documents, generate_series(0, 4095) g(i)
             |           WHERE i < length(text)),
             |lagged AS (SELECT doc_id, i, v,
             |                  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
             |           FROM b),
             |agg AS (SELECT doc_id, count(*)::BIGINT AS n_samples,
             |               (sum(abs(v)) * 256)::BIGINT AS sum_abs,
             |               sum(CASE WHEN i > 0 AND v * pv < 0 THEN 1 ELSE 0 END)::BIGINT AS zero_cross
             |        FROM lagged GROUP BY 1),
             |p AS (SELECT doc_id, i,
             |             abs(ord(substr(text, (i * length(text)) // 64 + 1, 1)) - 79) * 256 AS smp
             |      FROM documents, generate_series(0, 63) g(i)
             |      WHERE length(text) > 0),
             |m AS (SELECT doc_id, sum(smp) / 64.0 AS mean FROM p GROUP BY 1),
             |h AS (SELECT p.doc_id,
             |             sum(CASE WHEN smp > mean THEN
             |                   CASE WHEN i = 63 THEN -9223372036854775807 - 1
             |                        ELSE 1::BIGINT << i END
             |                 ELSE 0 END)::BIGINT AS afp
             |      FROM p JOIN m USING (doc_id) GROUP BY 1)
             |SELECT d.doc_id, 8000::BIGINT AS sample_rate, 1::BIGINT AS channels,
             |       coalesce(agg.n_samples, 0) AS n_samples,
             |       coalesce(agg.sum_abs, 0) AS sum_abs,
             |       coalesce(agg.zero_cross, 0) AS zero_cross,
             |       coalesce(h.afp, 0) AS afp
             |FROM documents d LEFT JOIN agg USING (doc_id) LEFT JOIN h USING (doc_id)
             |WHERE d.text IS NOT NULL
             |ORDER BY d.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q174: duplicated-SPAN coverage (operators.DupSpans.coverage) —
    // per document, the exact fraction of tokens sitting inside a
    // k-gram (k=5) that also occurs in another document, counted as
    // the interval UNION of duplicated gram positions (overlapping
    // grams of one copied run don't double-count) — the substring-
    // level dedup statistic of Lee et al. 2022, which q12 (whole-doc),
    // q81 (fixed chunks) and q149 (sampled winnow fingerprints) all
    // sit beside but none computes. `keep` is the τ=0.5 filtering
    // decision a pipeline acts on. Plan: one posexplode scan, a
    // partial-agg-friendly distinct-doc count on the 8-byte gram hash,
    // a hash semi-join, and a document-partitioned window — no
    // all-pairs stage, no per-hash window (a boilerplate gram in
    // millions of docs is an aggregation key, not a window partition).
    Query(
      "q174_dupspan_coverage",
      (s, dir) => {
        import s.implicits._
        graft.operators.DupSpans.coverage(
            t(s, dir, "documents"), "text", "doc_id", k = 5, minDocs = 2L)
          .withColumn("dup_frac_r",
            round($"dup_tokens".cast("double") / $"n_tokens", 4))
          .withColumn("keep",
            $"dup_tokens".cast("double") / $"n_tokens" <= lit(0.5))
          .orderBy($"doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
             |            FROM documents WHERE text IS NOT NULL),
             |g AS (SELECT doc_id, unnest(generate_series(1, len(tk) - 4)) AS pos, tk
             |      FROM tk),
             |h AS (SELECT doc_id, pos,
             |             ('0x' || substr(md5(array_to_string(tk[pos:pos+4], ' ')), 1, 8))::BIGINT AS h
             |      FROM g),
             |dup AS (SELECT h FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
             |dp AS (SELECT doc_id, pos FROM h JOIN dup USING (h)),
             |c AS (SELECT doc_id, pos,
             |             max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
             |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |      FROM dp),
             |cov AS (SELECT doc_id,
             |               sum(greatest(0, (pos + 4) - greatest(coalesce(prev_end, 0), pos - 1))) AS dup_tokens
             |        FROM c GROUP BY 1)
             |SELECT t.doc_id, len(t.tk)::BIGINT AS n_tokens,
             |       coalesce(cov.dup_tokens, 0)::BIGINT AS dup_tokens,
             |       round(coalesce(cov.dup_tokens, 0)::DOUBLE / len(t.tk), 4) AS dup_frac_r,
             |       (coalesce(cov.dup_tokens, 0)::DOUBLE / len(t.tk) <= 0.5) AS keep
             |FROM tk t LEFT JOIN cov ON cov.doc_id = t.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q175: first-occurrence-wins dup-span removal plan
    // (operators.DupSpans.removalPlan) — the transform q174 only
    // measures: every occurrence of a k-gram occurring ≥ 2 times
    // anywhere (within-doc repeats included, unlike q174's distinct-
    // doc predicate) loses to the globally first occurrence
    // (min (doc_id, pos)); a document's removed-token count is the
    // interval union of its losing occurrences, and retained_frac is
    // what survives the Lee-et-al.-style cut. The winner per hash is
    // a min-struct AGGREGATION (skew-safe under partial agg), never a
    // per-hash row_number window — the hottest boilerplate gram stays
    // map-side combinable.
    Query(
      "q175_dupspan_dedup",
      (s, dir) => {
        import s.implicits._
        graft.operators.DupSpans.removalPlan(
            t(s, dir, "documents"), "text", "doc_id", k = 5)
          .withColumn("retained_frac_r",
            round(($"n_tokens" - $"removed_tokens").cast("double") / $"n_tokens", 4))
          .orderBy($"doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
             |            FROM documents WHERE text IS NOT NULL),
             |g AS (SELECT doc_id, unnest(generate_series(1, len(tk) - 4)) AS pos, tk
             |      FROM tk),
             |h AS (SELECT doc_id, pos,
             |             ('0x' || substr(md5(array_to_string(tk[pos:pos+4], ' ')), 1, 8))::BIGINT AS h
             |      FROM g),
             |w AS (SELECT h, min(doc_id) AS w_id FROM h GROUP BY h
             |      HAVING count(*) >= 2),
             |wp AS (SELECT w.h, w.w_id, min(h.pos) AS w_pos
             |       FROM w JOIN h ON h.h = w.h AND h.doc_id = w.w_id
             |       GROUP BY 1, 2),
             |losers AS (SELECT h.doc_id, h.pos
             |           FROM h JOIN wp USING (h)
             |           WHERE NOT (h.doc_id = wp.w_id AND h.pos = wp.w_pos)),
             |c AS (SELECT doc_id, pos,
             |             max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
             |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |      FROM losers),
             |rem AS (SELECT doc_id,
             |               sum(greatest(0, (pos + 4) - greatest(coalesce(prev_end, 0), pos - 1))) AS removed_tokens
             |        FROM c GROUP BY 1)
             |SELECT t.doc_id, len(t.tk)::BIGINT AS n_tokens,
             |       coalesce(rem.removed_tokens, 0)::BIGINT AS removed_tokens,
             |       round((len(t.tk) - coalesce(rem.removed_tokens, 0))::DOUBLE / len(t.tk), 4)
             |         AS retained_frac_r
             |FROM tk t LEFT JOIN rem ON rem.doc_id = t.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q176: cross-source span leakage matrix
    // (operators.DupSpans.crossSourceLeakage) — for every ordered
    // source pair, how many of src's tokens sit inside a 5-gram that
    // also occurs in src_other: the lexical who-leaks-into-whom audit
    // between corpus subsets (train vs benchmark dumps, crawl
    // snapshots, vendors) that q130's embedding-source-cosine can only
    // gesture at and q74 only measures for one fixed eval split. The
    // counterpart table collapses to DISTINCT (h, source) before the
    // join, so per-position fanout is bounded by |sources|, never by
    // occurrence count; interval unions run per (doc, counterpart)
    // window; the output is the |sources|² matrix with zero rows kept
    // via the source-domain join.
    Query(
      "q176_source_leakage",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val leak = graft.operators.DupSpans.crossSourceLeakage(
          docs, "text", "doc_id", "source", k = 5)
        // The ≤|sources|-row total frame feeds BOTH sides of the pair
        // domain. Deliberately NOT checkpointed (IncrementalDedup's
        // dfreq precedent): ReuseExchange serves the second consumer
        // from the one aggregate's exchange — measured 1.55 s vs
        // 1.85 s with a localCheckpoint, whose extra materialization
        // job costs more than the reuse it makes structural.
        val tot = docs.filter($"text".isNotNull)
          .groupBy($"source")
          .agg(sum(TF.tokenCount($"text")).as("src_tokens"))
        tot.select($"source".as("src"), $"src_tokens")
          .join(tot.select($"source".as("src_other")),
            $"src" =!= $"src_other")
          .join(leak, Seq("src", "src_other"), "left")
          .select($"src", $"src_other",
            coalesce($"leaked_tokens", lit(0L)).as("leaked_tokens"),
            $"src_tokens",
            round(coalesce($"leaked_tokens", lit(0L)).cast("double") /
              $"src_tokens", 4).as("leak_frac_r"))
          .orderBy($"src", $"src_other")
      },
      Some("""WITH tk AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS tk
             |            FROM documents WHERE text IS NOT NULL),
             |g AS (SELECT doc_id, source, unnest(generate_series(1, len(tk) - 4)) AS pos, tk
             |      FROM tk),
             |h AS (SELECT doc_id, source, pos,
             |             ('0x' || substr(md5(array_to_string(tk[pos:pos+4], ' ')), 1, 8))::BIGINT AS h
             |      FROM g),
             |bysrc AS (SELECT DISTINCT h, source AS src_other FROM h),
             |lk AS (SELECT h.doc_id, h.pos, h.source AS src, b.src_other
             |       FROM h JOIN bysrc b USING (h) WHERE h.source <> b.src_other),
             |c AS (SELECT doc_id, pos, src, src_other,
             |             max(pos + 4) OVER (PARTITION BY doc_id, src_other ORDER BY pos
             |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |      FROM lk),
             |agg AS (SELECT src, src_other,
             |               sum(greatest(0, (pos + 4) - greatest(coalesce(prev_end, 0), pos - 1))) AS leaked_tokens
             |        FROM c GROUP BY 1, 2),
             |tot AS (SELECT source, sum(len(tk))::BIGINT AS src_tokens FROM tk GROUP BY 1)
             |SELECT t1.source AS src, t2.source AS src_other,
             |       coalesce(agg.leaked_tokens, 0)::BIGINT AS leaked_tokens,
             |       t1.src_tokens,
             |       round(coalesce(agg.leaked_tokens, 0)::DOUBLE / t1.src_tokens, 4) AS leak_frac_r
             |FROM tot t1 JOIN tot t2 ON t1.source <> t2.source
             |LEFT JOIN agg ON agg.src = t1.source AND agg.src_other = t2.source
             |ORDER BY src, src_other""".stripMargin)),

    // ------------------------------------------------------------------
    // Q177: incremental dup-span coverage
    // (operators.DupSpans.coverageAgainst) — q174's daily-ingest
    // shape, q143's split contract: the NEW batch (sources src10+)
    // is scored against the HISTORY's (src0-9) gram INDEX plus
    // within-batch duplication, without re-reading history text. A
    // batch position is duplicated iff its gram is in the index (any
    // history occurrence makes the batch doc the second distinct
    // document) or in ≥ 2 distinct batch docs — PROVABLY equal to
    // full-corpus q174 coverage restricted to batch docs (the oracle
    // below IS that restriction; the spec asserts the same equality
    // against the operator), while per-batch cost follows batch size.
    Query(
      "q177_incremental_dupspan",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .withColumn("src_n", substring($"source", 4, 10).cast("int"))
        val history = docs.filter($"src_n" < 10).select($"doc_id", $"text")
        val batch = docs.filter($"src_n" >= 10).select($"doc_id", $"text")
        graft.operators.DupSpans.coverageAgainst(
            batch, graft.operators.DupSpans.gramIndex(history, "text", "doc_id", k = 5),
            "text", "doc_id", k = 5)
          .withColumn("dup_frac_r",
            round($"dup_tokens".cast("double") / $"n_tokens", 4))
          .withColumn("keep",
            $"dup_tokens".cast("double") / $"n_tokens" <= lit(0.5))
          .orderBy($"doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, CAST(substr(source, 4) AS INT) AS src_n,
             |                   string_split_regex(trim(text), '\s+') AS tk
             |            FROM documents WHERE text IS NOT NULL),
             |g AS (SELECT doc_id, src_n, unnest(generate_series(1, len(tk) - 4)) AS pos, tk
             |      FROM tk WHERE src_n IS NOT NULL),
             |h AS (SELECT doc_id, src_n, pos,
             |             ('0x' || substr(md5(array_to_string(tk[pos:pos+4], ' ')), 1, 8))::BIGINT AS h
             |      FROM g),
             |dup AS (SELECT h FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
             |dp AS (SELECT doc_id, pos FROM h JOIN dup USING (h) WHERE src_n >= 10),
             |c AS (SELECT doc_id, pos,
             |             max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
             |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |      FROM dp),
             |cov AS (SELECT doc_id,
             |               sum(greatest(0, (pos + 4) - greatest(coalesce(prev_end, 0), pos - 1))) AS dup_tokens
             |        FROM c GROUP BY 1)
             |SELECT t.doc_id, len(t.tk)::BIGINT AS n_tokens,
             |       coalesce(cov.dup_tokens, 0)::BIGINT AS dup_tokens,
             |       round(coalesce(cov.dup_tokens, 0)::DOUBLE / len(t.tk), 4) AS dup_frac_r,
             |       (coalesce(cov.dup_tokens, 0)::DOUBLE / len(t.tk) <= 0.5) AS keep
             |FROM tk t LEFT JOIN cov ON cov.doc_id = t.doc_id
             |WHERE t.src_n >= 10
             |ORDER BY t.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q178: dup-span removal APPLIED (operators.DupSpans.applyRemoval)
    // — the corpus transform q175 only plans: every losing occurrence
    // of a duplicated 5-gram (first occurrence anywhere wins) is
    // excised from the text, and the retained document is rebuilt from
    // the surviving tokens — the Lee-et-al. 2022 surgical dedup a
    // pipeline consumer feeds to training, where q166's funnel can
    // only drop/keep whole documents. The oracle rebuilds the same
    // text independently by covering loser positions (equi-join
    // spelling — no range join) and string_agg over kept positions.
    // Plan: the q175 loser computation (min-struct winner aggregation,
    // skew-safe), a doc-partitioned gaps-and-islands merge, one
    // doc-keyed join of bounded per-doc interval arrays back onto the
    // documents, then a codegen'd array-HOF excision — map-side, no
    // extra shuffle.
    Query(
      "q178_dupspan_apply",
      (s, dir) => {
        import s.implicits._
        graft.operators.DupSpans.applyRemoval(
            t(s, dir, "documents"), "text", "doc_id", k = 5)
          .withColumn("retained_frac_r",
            round($"retained_tokens".cast("double") / $"n_tokens", 4))
          .select($"doc_id", $"n_tokens", $"retained_tokens",
            $"retained_frac_r", $"retained_text")
          .orderBy($"doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
             |            FROM documents WHERE text IS NOT NULL),
             |g AS (SELECT doc_id, unnest(generate_series(1, len(tk) - 4)) AS pos, tk
             |      FROM tk),
             |h AS (SELECT doc_id, pos,
             |             ('0x' || substr(md5(array_to_string(tk[pos:pos+4], ' ')), 1, 8))::BIGINT AS h
             |      FROM g),
             |w AS (SELECT h, min(doc_id) AS w_id FROM h GROUP BY h
             |      HAVING count(*) >= 2),
             |wp AS (SELECT w.h, w.w_id, min(h.pos) AS w_pos
             |       FROM w JOIN h ON h.h = w.h AND h.doc_id = w.w_id
             |       GROUP BY 1, 2),
             |losers AS (SELECT h.doc_id, h.pos
             |           FROM h JOIN wp USING (h)
             |           WHERE NOT (h.doc_id = wp.w_id AND h.pos = wp.w_pos)),
             |remp AS (SELECT DISTINCT doc_id, p FROM
             |           (SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS p
             |            FROM losers) u),
             |posd AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS p FROM tk),
             |kept AS (SELECT d.doc_id, d.p
             |         FROM posd d LEFT JOIN remp r ON r.doc_id = d.doc_id AND r.p = d.p
             |         WHERE r.p IS NULL),
             |ka AS (SELECT k.doc_id, count(*)::BIGINT AS retained_tokens,
             |              string_agg(t.tk[k.p], ' ' ORDER BY k.p) AS retained_text
             |       FROM kept k JOIN tk t USING (doc_id) GROUP BY 1)
             |SELECT t.doc_id, len(t.tk)::BIGINT AS n_tokens,
             |       coalesce(ka.retained_tokens, 0)::BIGINT AS retained_tokens,
             |       round(coalesce(ka.retained_tokens, 0)::DOUBLE / len(t.tk), 4) AS retained_frac_r,
             |       coalesce(ka.retained_text, '') AS retained_text
             |FROM tk t LEFT JOIN ka USING (doc_id)
             |ORDER BY t.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q179: sparse cosine, SCALE tier — the absolute-df-cap spelling of
    // q107 (operators.SparseCosine, maxDfAbs), here with the cap as the
    // ONLY df prune (maxDfFrac = 1.0): no N-relative predicate anywhere
    // in the plan, so the pair volume obeys Σdf² ≤ K·Σdf — linear in
    // total posting volume — at ANY corpus size (q107's relative prune
    // measured 766× super-linear on a ×10 distinct-content corpus,
    // docs/probes/scalebench_r14_10x_mutate.txt). The cap BINDS on this
    // corpus: the stopword band (df ≈ 0.75N, ~70 terms at every SF)
    // passes a relative 10% prune never, but passes NO prune — without
    // `df <= 300` those terms alone pair nearly every document with
    // every other (~125k pairs at sf0.01). The oracle carries the
    // identical absolute prune, so the 100 TB spelling has the same
    // end-to-end hash discipline as the exact tier (the q16/q32-vs-
    // q15/q33 exact-twin pattern). K = 300 sits between the marker-term
    // band (df = 0.05N: 25 at sf0.01, 250 at sf0.1) and the stopword
    // band at both oracle SFs, so the checked output is non-trivial.
    Query(
      "q179_sparse_cosine_capped",
      (s, dir) => {
        import s.implicits._
        graft.operators.SparseCosine.pairs(
            t(s, dir, "documents"), "text", "doc_id", minCos = 0.3,
            minDf = 1L, maxDfFrac = 1.0, maxDfAbs = 300L)
          .select($"doc_a", $"doc_b", round($"cos", 4).as("cos_r"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
             |             FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
             |w AS (SELECT tf.doc_id, tf.term, tf.tf * ln(nd.n::DOUBLE / df.df) AS w
             |      FROM tf JOIN df USING (term) CROSS JOIN nd
             |      WHERE df.df > 1 AND df.df <= 300),
             |nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM w GROUP BY 1),
             |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
             |         FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
             |         GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |       round(dot / (na.nrm * nb.nrm), 4) AS cos_r
             |FROM dots JOIN nrm na ON dots.doc_a = na.doc_id
             |          JOIN nrm nb ON dots.doc_b = nb.doc_id
             |WHERE dot / (na.nrm * nb.nrm) >= 0.3
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ------------------------------------------------------------------
    // Q180: NEAR-dup dedup ON INGEST (streaming.NearDedupIngest) — the
    // streaming twin of q143's IncrementalDedup contract, run here as
    // three sequential micro-batches of the documents table (split by
    // source, batch 1 additionally carrying synthesized case-mutated
    // copies so the exact tier is exercised — the corpus has no natural
    // fingerprint duplicates). Each batch probes the BUCKETED states of
    // everything kept so far: fp equi-probe (exact tier), then the
    // one-sided PPJoin prefix index + sorted-merge Jaccard verify (near
    // tier, recall EXACT by the prefix theorem — see the operator doc),
    // and survivors patch back so the next batch sees them. The oracle
    // replays the identical sequential semantics as chained all-pairs
    // SQL: per batch, in-batch fp collapse (min-id survivor), exact vs
    // the accumulated kept corpus, best Jaccard >= 0.5 vs that corpus,
    // corpus += kept. 100 TB: per-batch cost follows the batch's
    // bucket footprint, never corpus size — candidates are an
    // equi-join on stored PREFIX shingles (bounded by the prefix
    // theorem + size/positional filters), verification reads only the
    // candidate docs' array buckets, and the all-pairs product here
    // exists only in the ORACLE.
    Query(
      "q180_neardup_ingest",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "documents")
          .withColumn("src_n", substring($"source", 4, 10).cast("int"))
        val r0 = d.filter($"src_n" < 7).select($"doc_id", $"text")
        val r1 = d.filter($"src_n".between(7, 13)).select($"doc_id", $"text")
          .unionByName(d.filter($"src_n" < 7 && $"doc_id" % 50 === 0)
            .select(($"doc_id" + 100000L).as("doc_id"),
                    upper($"text").as("text")))
        val r2 = d.filter($"src_n" >= 14).select($"doc_id", $"text")
        val root = java.nio.file.Files.createTempDirectory("q180").toString
        val vs = Seq(r0, r1, r2).zipWithIndex.map { case (b, e) =>
          graft.streaming.NearDedupIngest.mergeBatch(
              b, "text", "doc_id", s"$root/out", s"$root/idx",
              epoch = e.toLong, thr = 0.5, ngram = 3, nBuckets = 16)
            .withColumn("epoch", lit(e.toLong))
        }
        val out = vs.reduce(_ unionByName _)
          .select($"epoch", $"doc_id", $"verdict", $"match_id", $"j_r")
          .orderBy($"epoch", $"doc_id")
        // verdicts are eagerly checkpointed; the scratch state can go
        graft.streaming.FsUtil.deleteRecursively(java.nio.file.Paths.get(root))
        out
      },
      Some("""WITH d AS (SELECT doc_id, text, CAST(substr(source, 4) AS INT) AS src_n
             |           FROM documents),
             |r0 AS (SELECT doc_id, text FROM d WHERE src_n < 7),
             |r1 AS (SELECT doc_id, text FROM d WHERE src_n BETWEEN 7 AND 13
             |       UNION ALL
             |       SELECT doc_id + 100000, upper(text) FROM d
             |       WHERE src_n < 7 AND doc_id % 50 = 0),
             |r2 AS (SELECT doc_id, text FROM d WHERE src_n >= 14),
             |b0 AS (SELECT doc_id, fp, list_distinct(list_transform(
             |         generate_series(1, len(tk) - 2),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
             |       FROM (SELECT doc_id,
             |               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             |               string_split_regex(trim(text), '\s+') AS tk FROM r0)),
             |b1 AS (SELECT doc_id, fp, list_distinct(list_transform(
             |         generate_series(1, len(tk) - 2),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
             |       FROM (SELECT doc_id,
             |               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             |               string_split_regex(trim(text), '\s+') AS tk FROM r1)),
             |b2 AS (SELECT doc_id, fp, list_distinct(list_transform(
             |         generate_series(1, len(tk) - 2),
             |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
             |       FROM (SELECT doc_id,
             |               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             |               string_split_regex(trim(text), '\s+') AS tk FROM r2)),
             |s0 AS (SELECT *, CASE WHEN fp IS NULL THEN doc_id
             |                 ELSE min(doc_id) OVER (PARTITION BY fp) END AS surv FROM b0),
             |v0 AS (SELECT CAST(0 AS BIGINT) AS epoch, doc_id,
             |              CASE WHEN doc_id <> surv THEN 'exact' ELSE 'kept' END AS verdict,
             |              CASE WHEN doc_id <> surv THEN surv END AS match_id,
             |              CAST(NULL AS DOUBLE) AS j_r
             |       FROM s0),
             |c0 AS (SELECT doc_id, fp, sh FROM s0 WHERE doc_id = surv),
             |s1 AS (SELECT *, CASE WHEN fp IS NULL THEN doc_id
             |                 ELSE min(doc_id) OVER (PARTITION BY fp) END AS surv FROM b1),
             |e1 AS (SELECT s.doc_id, min(c.doc_id) AS hid
             |       FROM s1 s JOIN c0 c ON c.fp = s.fp
             |       WHERE s.doc_id = s.surv GROUP BY 1),
             |n1 AS (SELECT s.doc_id, c.doc_id AS hid,
             |              len(list_intersect(s.sh, c.sh))::DOUBLE /
             |                len(list_distinct(list_concat(s.sh, c.sh))) AS j
             |       FROM s1 s CROSS JOIN c0 c
             |       WHERE s.doc_id = s.surv
             |         AND s.doc_id NOT IN (SELECT doc_id FROM e1)),
             |w1 AS (SELECT doc_id, hid, j FROM (
             |         SELECT doc_id, hid, j, row_number() OVER (
             |           PARTITION BY doc_id ORDER BY j DESC, hid) AS rn
             |         FROM n1 WHERE j >= 0.5) WHERE rn = 1),
             |v1 AS (SELECT CAST(1 AS BIGINT) AS epoch, s.doc_id,
             |              CASE WHEN s.doc_id <> s.surv THEN 'exact'
             |                   WHEN e1.hid IS NOT NULL THEN 'exact'
             |                   WHEN w1.hid IS NOT NULL THEN 'neardup'
             |                   ELSE 'kept' END AS verdict,
             |              CASE WHEN s.doc_id <> s.surv THEN s.surv
             |                   ELSE coalesce(e1.hid, w1.hid) END AS match_id,
             |              CASE WHEN s.doc_id = s.surv AND e1.hid IS NULL
             |                        AND w1.hid IS NOT NULL
             |                   THEN round(w1.j, 4) END AS j_r
             |       FROM s1 s LEFT JOIN e1 ON e1.doc_id = s.doc_id
             |                 LEFT JOIN w1 ON w1.doc_id = s.doc_id),
             |c1 AS (SELECT s.doc_id, s.fp, s.sh FROM s1 s
             |       WHERE s.doc_id = s.surv
             |         AND s.doc_id NOT IN (SELECT doc_id FROM e1)
             |         AND s.doc_id NOT IN (SELECT doc_id FROM w1)
             |       UNION ALL SELECT * FROM c0),
             |s2 AS (SELECT *, CASE WHEN fp IS NULL THEN doc_id
             |                 ELSE min(doc_id) OVER (PARTITION BY fp) END AS surv FROM b2),
             |e2 AS (SELECT s.doc_id, min(c.doc_id) AS hid
             |       FROM s2 s JOIN c1 c ON c.fp = s.fp
             |       WHERE s.doc_id = s.surv GROUP BY 1),
             |n2 AS (SELECT s.doc_id, c.doc_id AS hid,
             |              len(list_intersect(s.sh, c.sh))::DOUBLE /
             |                len(list_distinct(list_concat(s.sh, c.sh))) AS j
             |       FROM s2 s CROSS JOIN c1 c
             |       WHERE s.doc_id = s.surv
             |         AND s.doc_id NOT IN (SELECT doc_id FROM e2)),
             |w2 AS (SELECT doc_id, hid, j FROM (
             |         SELECT doc_id, hid, j, row_number() OVER (
             |           PARTITION BY doc_id ORDER BY j DESC, hid) AS rn
             |         FROM n2 WHERE j >= 0.5) WHERE rn = 1),
             |v2 AS (SELECT CAST(2 AS BIGINT) AS epoch, s.doc_id,
             |              CASE WHEN s.doc_id <> s.surv THEN 'exact'
             |                   WHEN e2.hid IS NOT NULL THEN 'exact'
             |                   WHEN w2.hid IS NOT NULL THEN 'neardup'
             |                   ELSE 'kept' END AS verdict,
             |              CASE WHEN s.doc_id <> s.surv THEN s.surv
             |                   ELSE coalesce(e2.hid, w2.hid) END AS match_id,
             |              CASE WHEN s.doc_id = s.surv AND e2.hid IS NULL
             |                        AND w2.hid IS NOT NULL
             |                   THEN round(w2.j, 4) END AS j_r
             |       FROM s2 s LEFT JOIN e2 ON e2.doc_id = s.doc_id
             |                 LEFT JOIN w2 ON w2.doc_id = s.doc_id)
             |SELECT epoch, doc_id, verdict, match_id, j_r FROM (
             |  SELECT * FROM v0 UNION ALL SELECT * FROM v1
             |  UNION ALL SELECT * FROM v2)
             |ORDER BY epoch, doc_id""".stripMargin),
      // verify-only: the row exists for the CORRECTNESS gate (the twin
      // vs the chained all-pairs oracle). Its wall-time is ~95%
      // transactional state-commit overhead — 3 sequential horizons ×
      // (1 corpus append + 4 manifest commits), each a staged write +
      // manifest swap — which a live stream amortizes per trigger and
      // which is FLAT in corpus size (docs/probes/ingestidx_r16.txt's
      // neardedup section pins merge+read flatness and the file bound); the
      // near-dup math itself already has headline rows (q98/q143).
      headline = false)
  )

  val byName: Map[String, Query] = all.map(q => q.name -> q).toMap

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  val headline: Seq[Query] = all.filter(_.headline)
}
