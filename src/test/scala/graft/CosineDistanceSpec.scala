package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** The codegen expression must be bit-identical to the HOF formulation
  * (which in turn is bit-identical to the DuckDB oracle's sequential
  * fold) — on fixture data, not just toy vectors.
  */
class CosineDistanceSpec extends SparkSpec {
  import spark.implicits._

  test("codegen == HOF bitwise on all fixture embedding pairs vs vec 0") {
    val emb = Tables.embeddings(spark, sf0001)
    // the second query vector runs the class compiled for the first: the
    // hoisted norm must come from its own reference, not the cached code
    for (v <- Seq(0, 1)) {
      val q = emb.filter(col("vec_id") === v).head().getSeq[Double](1)
      val qlit = array(q.map(lit): _*)
      val diff = emb.select(
        cosineDistance(col("embedding"), qlit).as("fast"),
        cosineDistanceHof(col("embedding"), qlit).as("hof"))
        .filter(col("fast") =!= col("hof"))
      assert(diff.count() == 0, s"query vec $v")
      val diffSim = emb.select(
        cosineSimilarity(col("embedding"), qlit).as("fast"),
        cosineSimilarityHof(col("embedding"), qlit).as("hof"))
        .filter(col("fast") =!= col("hof"))
      assert(diffSim.count() == 0, s"query vec $v")
    }
  }

  test("codegen path actually participates in WholeStageCodegen") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Double](1)
    val plan = emb.select(cosineDistance(col("embedding"), array(q.map(lit): _*)).as("d"))
      .queryExecution.executedPlan
    val hasWsc = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty
    assert(hasWsc, s"no WholeStageCodegenExec in:\n$plan")
  }

  test("mismatched dims: foldable and non-foldable right sides agree") {
    // the constant-hoisted norm covers the FULL literal array; on a
    // length mismatch the kernel must fall back to the truncated
    // generic loop so foldability cannot change the result
    val q = Seq(0.5, -0.25, 0.125) // longer than the 2-dim data rows
    val qlit = array(q.map(lit): _*)
    val df = Seq(Seq(1.0, 2.0)).toDF("a")
    val hoisted = df.select(cosineDistance(col("a"), qlit)).head().getDouble(0)
    // right side carried as DATA (a projected literal would constant-fold
    // back into a foldable expression and vacuously take the same path)
    val generic = Seq((Seq(1.0, 2.0), q)).toDF("a", "b")
      .select(cosineDistance(col("a"), col("b"))).head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(hoisted) ==
      java.lang.Double.doubleToLongBits(generic))
    // equal dims still take the hoisted path and agree with the HOF form
    val q2 = Seq(0.5, -0.25)
    val h2 = df.select(cosineDistance(col("a"), array(q2.map(lit): _*))).head().getDouble(0)
    val hof2 = df.select(cosineDistanceHof(col("a"), array(q2.map(lit): _*))).head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(h2) == java.lang.Double.doubleToLongBits(hof2))
  }

  test("interpreted eval agrees with Kahan oracle within 1e-12") {
    val rnd = new scala.util.Random(11)
    val a = Array.fill(64)(rnd.nextDouble() - 0.5)
    val b = Array.fill(64)(rnd.nextDouble() - 0.5)
    val d = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
      .select(cosineDistance(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(d - cosineDistanceKahan(a, b)) < 1e-12)
  }
}
