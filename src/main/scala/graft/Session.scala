package graft
import org.apache.spark.sql.SparkSession
/** The one SparkSession factory: Bench, Verify, Explain, ScaleProbe and
  * the test session all start here, so they share one config and one
  * function-wiring path — [[GraftExtensions]] injects the native
  * functions (`fnv1a32`, `shingles`, `cosine_sim`, …) when the session
  * state is built, and no query builder registers anything.
  *
  * `cpus` sets both the local master and the shuffle-partition count;
  * it defaults to `$SPARK_GRAFT_CPUS`, else the machine's cores capped
  * at 32. The warehouse (catalog-table stores such as
  * `Layout.writeBucketedBy`'s) defaults to the scratch root instead of
  * the working directory.
  */
object Session {
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
              .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors())),
            warehouse: String = Scratch.dir("spark-warehouse")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
