package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** TopKAgg: equivalence with the rank-filter window twin under any
  * partitioning (exercising the serialize/merge path), the exact-regime
  * degenerate case, and the plan contract (partial-aggregated, no
  * WindowExec). */
class TopKAggSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")

  private def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) = {
    df.groupBy("o_orderpriority")
      .agg(TopKAgg.topkRows(
        "named_struct('negprice', -o_totalprice, 'o_orderkey', o_orderkey)", k)
        .as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("o_orderpriority"), (col("pos") + 1).as("rnk"),
        col("r.o_orderkey").as("o_orderkey"))
  }

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("rnk", row_number().over(
        Window.partitionBy("o_orderpriority")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))))
      .where(col("rnk") <= k)
      .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sorted.toSeq

  test("bounded-heap top-k equals the window twin, any partitioning") {
    val expect = rows(viaWindow(orders, 5))
    assert(rows(viaAgg(orders, 5)) == expect)
    // 13 partitions => partial heaps serialized and merged
    assert(rows(viaAgg(orders.repartition(13), 5)) == expect)
  }

  test("k >= group size degenerates to the full group, sorted") {
    val expect = rows(viaWindow(orders, 100000))
    assert(rows(viaAgg(orders, 100000)) == expect)
  }

  test("plan is a partial-aggregated ObjectHashAggregate with no WindowExec") {
    val plan = viaAgg(orders, 5).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected an object hash aggregate plan, got:\n$plan")
    assert(!plan.contains("Window"),
      s"the native top-k must not fall back to a window:\n$plan")
  }
}
