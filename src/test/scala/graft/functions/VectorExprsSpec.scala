package graft.functions

import graft.SparkSpec
import graft.llm.Sim
import org.apache.spark.sql.functions._

class VectorExprsSpec extends SparkSpec {
  import spark.implicits._

  private def embDf = {
    val rnd = new scala.util.Random(21)
    (0L until 40L).map(i => i -> Seq.fill(16)(rnd.nextFloat() * 2 - 1))
      .toDF("vec_id", "embedding")
  }

  test("native cosine_sim is bit-identical to the zip_with/aggregate form") {
    val hof = Sim.cosineKnn(embDf, nQuery = 5, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val native = Sim.cosineKnnNative(embDf, nQuery = 5, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(hof.keySet == native.keySet)
    hof.foreach { case (k, (id, sim)) =>
      val (nid, nsim) = native(k)
      assert(id == nid && sim == nsim, s"key $k: ($id,$sim) vs ($nid,$nsim)")
    }
  }

  test("cosine_sim participates in whole-stage codegen") {
    // spark.range (not a local Seq, which constant-folds to LocalTableScan)
    val df = spark.range(1, 100)
      .select(array((col("id") + 1).cast("double"), lit(2.0), lit(3.0)).as("v"))
      .select(VectorExprs.cosineSim("v", "v").as("s"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("cosine_sim")),
      plan.take(400))
    val vals = df.collect().map(_.getDouble(0))
    assert(vals.forall(v => math.abs(v - 1.0) < 1e-12), "self-similarity = 1")
  }

  test("cosine_sim is SQL-callable after registration") {
    val r = spark.sql(
      "SELECT cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<DOUBLE>), CAST(array(0.0, 1.0) AS ARRAY<DOUBLE>)) AS s")
      .collect().head.getDouble(0)
    assert(r == 0.0)
  }
}
