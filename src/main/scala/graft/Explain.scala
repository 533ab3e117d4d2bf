package graft
/** Plan inspector: prints the formatted physical plan for named queries.
  * Usage: runMain graft.Explain <sfDir> <query1,query2,...> */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = Session.local()
    names.split(",").foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n.trim)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
