package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}
import graft.operators.PqAnn

/** Product-quantization ANN: recall against the exact ranking,
  * encoding shape, and run-to-run determinism (the codebook init is
  * a seedless stable hash sample and Lloyd updates round to 6 dp, so
  * two runs must agree bit-for-bit).
  */
class PqAnnSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def corpus = {
    import spark.implicits._
    graft.sources.Tables(spark, dir, "embeddings")
      .select($"vec_id", VF.asDouble($"embedding").as("v"))
  }

  test("a repeated vec_id among the codebook seeds is refused by name") {
    import spark.implicits._
    val e = Seq((1L, Array(1.0, 2.0)), (1L, Array(3.0, 4.0)), (2L, Array(5.0, 6.0)))
      .toDF("vec_id", "v")
    val err = intercept[IllegalArgumentException] {
      PqAnn.trainCodebooks(e, m = 1, subDim = 2, k = 3, iters = 1)
    }
    assert(err.getMessage.contains("vec_id 1"), err.getMessage)
  }

  test("PQ codes: m codes per vector, all within the codebook range") {
    import spark.implicits._
    val e = corpus
    val cb = PqAnn.trainCodebooks(e, m = 8, subDim = 8, k = 16, iters = 2)
    val codes = PqAnn.encode(e, cb, m = 8, subDim = 8)
    val n = e.count()
    assert(codes.count() == n * 8)
    val bad = codes.filter($"code" < 0 || $"code" >= 16).count()
    assert(bad == 0)
    // every vector has exactly one code per subspace
    val dup = codes.groupBy($"vec_id", $"sub").count().filter($"count" =!= 1).count()
    assert(dup == 0)
  }

  test("shortlist+rescore recall vs exact top-5 stays useful") {
    import spark.implicits._
    val e = corpus
    val approx = PqAnn.topK(e, $"vec_id" < 10, m = 8, subDim = 8, k = 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sims = e.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"v".as("qv"))
      .join(e.select($"vec_id".as("nid"), $"v".as("nv")), $"nid" =!= $"qid")
      .select($"qid", $"nid", VF.cosine($"qv", $"nv").as("sim"))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
    val exact = sims.withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    // This corpus's neighbors are weakly similar (same regime as the
    // q22 LSH spec); the 50-candidate shortlist + exact rescore holds
    // measured recall well above chance (50/499 ~ 0.1). Assert the
    // measured level never regresses below 0.5.
    assert(recall >= 0.5, f"PQ recall degraded to $recall%.2f")
  }

  test("two runs produce identical results (deterministic training)") {
    import spark.implicits._
    def run() = PqAnn.topK(corpus, $"vec_id" < 3, m = 8, subDim = 8, k = 5)
      .select($"qid", $"nid", $"rank", round($"sim", 6).as("s"))
      .collect().map(_.toString).sorted.toSeq
    assert(run() == run())
  }
}
