package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}

/** Product-quantization ANN — the memory-scale path for similarity
  * search. IVF (q44) reduces how much of the corpus a query SCANS;
  * PQ reduces how many bytes per vector the scan READS: each vector
  * is split into `m` subvectors, each subvector replaced by the id
  * of its nearest per-subspace codeword, so the scan-resident
  * representation shrinks from m·d·4 bytes of floats to m code ids
  * (64-dim float32 → 8 bytes at m=8: 32×). At 100 TB of embeddings
  * that is the difference between a scan that fits page cache and
  * one that does not; candidates shortlisted by the quantized score
  * are rescored against the full vectors fetched for the shortlist
  * only.
  *
  * Everything is deterministic and distributed:
  *   - codebooks train per subspace with Lloyd iterations; initial
  *     codewords are the subvectors of the `k` corpus rows with the
  *     lowest xxhash64(vec_id) — a seedless stable sample, so
  *     `vec_id` must be unique (a repeated seed id is refused);
  *   - codeword components round to 6 dp so partial-sum order cannot
  *     leak into assignments (q31's contract);
  *   - the asymmetric-distance (ADC) scan is a relational join of
  *     corpus codes against the per-query lookup table on
  *     (subspace, code) + one sum — at cluster scale the LUT (m·k
  *     doubles per query) broadcasts and the sum runs map-side over
  *     packed code arrays; the join spelling keeps the plan
  *     shuffle-explicit and AQE-plannable here.
  *
  * CODEBOOK-AS-LITERAL (round 17, guide §2.3/§2.4): a codebook is
  * m·k tiny rows (128 at the q139 shape) but the old spelling kept
  * it a DataFrame, so every Lloyd assignment was a broadcast join +
  * a fact-grain groupBy(vec_id, sub) min_by — one full n·m-row
  * exchange per iteration plus one more for the encode pass, and a
  * per-iteration localCheckpoint to stop lineage re-execution. The
  * codebook now lives on the driver (the PrefixScan carry-literal
  * pattern: bounded grain-level state, NOT fact data) and assignment
  * is a pure map-side argmin expression over a literal
  * sub → array<(code, cv)> map — zero exchanges, no checkpoint, no
  * broadcast. Per iteration the only shuffle left is the tiny
  * partial-aggregated (sub, code, pos) mean (≤ m·k·subDim groups),
  * collected at that grain to become the next literal. The argmin
  * fold visits candidates in ascending code order with a strict
  * `<`, which is exactly min_by(struct(d2, code)); d2 is the same
  * codegen'd [[VF.l2sq]], so assignments are bit-identical to the
  * join spelling and the trained codebooks are unchanged.
  *
  * Recall is spec-asserted against the exact ranking (PqAnnSpec);
  * shortlist → exact rescore recovers most of the quantization loss
  * exactly as q102's int8 path does.
  */
object PqAnn {

  /** Driver-side codebook row: (sub, code, codeword). Bounded at
    * m·k entries (tens to hundreds) — grain-level state like
    * PrefixScan's carry map, never fact-scale. */
  private type Codebook = Seq[(Int, Int, Array[Double])]

  private val cbMapType = "map<int,array<struct<code:int,cv:array<double>>>>"
  private val accType = "struct<d2:double,code:int>"

  /** Literal map sub → array<struct<code, cv>>, candidates sorted by
    * code so the argmin fold's strict `<` keeps the lowest code on
    * ties (= min_by(struct(d2, code))). ConstantFolding collapses the
    * whole tree to one MapType literal. Empty codebook (empty corpus)
    * → a typed null map, so analysis succeeds and element_at yields
    * null over the zero rows such a corpus produces. */
  private def cbMapLit(cb: Codebook): Column =
    if (cb.isEmpty) lit(null).cast(cbMapType)
    else map(cb.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (sub, rows) =>
      Seq(lit(sub), array(rows.sortBy(_._2).map { case (_, code, cv) =>
        struct(lit(code).as("code"), array(cv.map(lit(_)): _*).as("cv"))
      }: _*))
    }: _*).cast(cbMapType)

  /** Map-side argmin over the candidate codewords of one subspace:
    * fold in ascending code order, strict `<` on the same codegen'd
    * squared L2 the join spelling used — bit-identical to
    * min_by(struct(code, sv), struct(d2, code)). NaN never reaches
    * here (usableVec excludes NaN vectors: NaN dot-products fail its
    * `> 0`). */
  private def bestCode(cands: Column, sv: Column): Column =
    aggregate(cands,
      // cast pins the field NAMES and nullability on both casewhen
      // branches (an alias inside the lambda does not survive
      // analysis: the uncast struct resolves as col1/col2)
      struct(lit(Double.MaxValue).as("d2"), lit(-1).as("code")).cast(accType),
      (acc, c) => {
        val d2 = VF.l2sq(sv, c.getField("cv"))
        when(d2 < acc.getField("d2"),
             struct(d2, c.getField("code")).cast(accType))
          .otherwise(acc)
      }).getField("code")

  /** Seedless stable init: the k corpus rows with the lowest
    * (xxhash64(vec_id), vec_id), code = rank − 1 — identical to the
    * old per-sub window ranking, because the hash is a function of
    * vec_id alone, so every subspace ranks the same k rows in the
    * same order. Spelled as a global top-k (TakeOrderedAndProject)
    * instead of a window over the full exploded frame. Rounding (and
    * the subvector slicing) stays IN Spark so driver arithmetic can
    * never disagree with plan arithmetic. */
  private def initCodebook(e: DataFrame, m: Int, subDim: Int, k: Int): Codebook = {
    val seedIds = e.select(col("vec_id"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(k).collect().map(_.get(0))
    if (seedIds.isEmpty) return Seq.empty
    require(seedIds.distinct.length == seedIds.length,
      s"PqAnn needs a unique vec_id per corpus row; the codebook seeds " +
      s"repeat vec_id ${seedIds.diff(seedIds.distinct).distinct.mkString(", ")}")
    val codeOf = map(seedIds.toSeq.zipWithIndex.flatMap {
      case (id, i) => Seq(lit(id), lit(i)) }: _*)
    explodeSubvectors(e.filter(col("vec_id").isin(seedIds.toSeq: _*)), m, subDim)
      .select(col("sub"), element_at(codeOf, col("vec_id")).as("code"),
              expr("transform(sv, x -> round(x, 6))").as("cv"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
  }

  /** One Lloyd update: map-side argmin assignment, then the
    * (sub, code, pos) componentwise mean — partial aggregation folds
    * the fact grain map-side, so the one exchange moves ≤ m·k·subDim
    * grain rows. Codes that attract no members drop out, exactly as
    * the old groupBy did. */
  private def lloydStep(subs: DataFrame, cb: Codebook): Codebook = {
    val cands = element_at(cbMapLit(cb), col("sub"))
    subs
      .select(col("sub"), bestCode(cands, col("sv")).as("code"),
              posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("sub"), col("code"), col("pos"))
      .agg(round(avg(col("x")), 6).as("cx"))
      .collect().toSeq
      .groupBy(r => (r.getInt(0), r.getInt(1))).toSeq
      .map { case ((sub, code), rows) =>
        (sub, code, rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
      }
  }

  private def trainArray(e: DataFrame, m: Int, subDim: Int, k: Int,
                         iters: Int): Codebook = {
    val subs = explodeSubvectors(e, m, subDim)
    var cb = initCodebook(e, m, subDim, k)
    var it = 0
    while (it < iters && cb.nonEmpty) { cb = lloydStep(subs, cb); it += 1 }
    cb
  }

  /** Per-subspace codebooks: (sub, code, cv: array<double>).
    *
    * @param e (vec_id, v: array<double>) corpus, dim = m * subDim;
    *          `vec_id` unique per row
    */
  def trainCodebooks(e: DataFrame, m: Int, subDim: Int, k: Int,
                     iters: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    trainArray(e, m, subDim, k, iters)
      .map { case (s, c, cv) => (s, c, cv.toSeq) }
      .toDF("sub", "code", "cv")
  }

  /** Quantized corpus: (vec_id, sub, code) — the scan-resident form.
    * The codebook frame is grain-level (m·k rows); it is collected
    * and applied as a literal-map argmin, so the encode pass is pure
    * map work over the subvector slices. */
  def encode(e: DataFrame, codebook: DataFrame, m: Int, subDim: Int): DataFrame = {
    val cb: Codebook = codebook.select(col("sub"), col("code"), col("cv"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    encodeWith(explodeSubvectors(e, m, subDim), cb)
  }

  private def encodeWith(subs: DataFrame, cb: Codebook): DataFrame =
    subs.select(col("vec_id"), col("sub"),
                bestCode(element_at(cbMapLit(cb), col("sub")), col("sv")).as("code"))

  /** ADC top-k: shortlist by quantized inner product, rescore the
    * shortlist with exact cosine against the full vectors.
    *
    * @param e (vec_id, v: array<double>) corpus (full vectors — read
    *          only for queries and the shortlist rescore)
    * @return (qid, nid, rank, sim) exact cosine over the shortlist
    */
  def topK(e: DataFrame, isQuery: Column, m: Int, subDim: Int, k: Int,
           codebookK: Int = 16, iters: Int = 2, shortlist: Int = 50): DataFrame = {
    // NOT pinned: the subvector explode is map-only lineage over a
    // column-pruned scan — re-evaluating it per consumer is cheap map
    // work, while a localCheckpoint would materialize the exploded
    // CORPUS (fact-scale state at 100 TB) to save it; measured 1.03×
    // (neutral) locally with the pin. Checkpoints pay when the shared
    // lineage contains shuffles/windows, not map-only slices.
    val cb = trainArray(e, m, subDim, codebookK, iters)
    val cbLit = cbMapLit(cb)
    val codes = encodeWith(explodeSubvectors(e, m, subDim), cb)
    val q = e.filter(isQuery).select(col("vec_id").as("qid"), col("v").as("qv"))
    // Per-query LUT: inner product of each query subvector with each
    // codeword — map-side explode of the literal codebook, no join.
    val lut = explodeSubvectors(q.select(col("qid").as("vec_id"), col("qv").as("v")),
                                m, subDim)
      .select(col("vec_id").as("qid"), col("sub"), col("sv").as("qsv"))
      .select(col("qid"), col("sub"), col("qsv"),
              explode(element_at(cbLit, col("sub"))).as("c"))
      .select(col("qid"), col("sub"), col("c.code").as("code"),
              VF.dot(col("qsv"), col("c.cv")).as("part"))
    // ADC scan: one (sub, code) equi-join + per-(qid, nid) sum.
    val approx = codes
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(sum(col("part")).as("adc"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("nid"))
    val short = approx.withColumn("srn", row_number().over(wq))
      .filter(col("srn") <= shortlist)
      .select(col("qid"), col("nid"))
    // Exact rescore over the shortlist only.
    val rescored = short
      .join(e.select(col("vec_id"), col("v")), col("nid") === col("vec_id"))
      .join(broadcast(q.withColumn("qnrm", sqrt(VF.dot(col("qv"), col("qv"))))), Seq("qid"))
      .select(col("qid"), col("nid"),
              (VF.dot(col("v"), col("qv")) /
                (sqrt(VF.dot(col("v"), col("v"))) * col("qnrm"))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    rescored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** (vec_id, sub, sv: array<double>) — subvector `sub` is
    * v[sub*subDim, (sub+1)*subDim). */
  private def explodeSubvectors(e: DataFrame, m: Int, subDim: Int): DataFrame =
    e.select(col("vec_id"),
             posexplode(expr(
               s"transform(sequence(0, ${m - 1}), s -> slice(v, s * $subDim + 1, $subDim))"))
               .as(Seq("sub", "sv")))
}
