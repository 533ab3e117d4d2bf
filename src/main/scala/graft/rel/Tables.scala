package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL frontend surface: register the driver tables as temp views so any
  * query in this engine is equally expressible through `spark.sql(...)`.
  * (The reference has no SQL frontend — SURVEY.md §2.2 — this is part of
  * the engine's extension surface.) */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // Last directory registered per live session — registering re-reads 10
  // parquet footers, so repeat calls for the same (session, dir) skip it.
  // Weak keys: a stopped session must not be pinned by this cache.
  private val lastDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** One input table, `$dir/$name.parquet`, with its timestamps
    * normalized at the read boundary ([[Queries.normalizeTs]]). Every
    * fixture read goes through here. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    Queries.normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))

  /** Register every table under its bare name; events gets the µs-
    * truncated timestamp treatment. Idempotent and cached per
    * (session, dir) — only the first call per directory pays the
    * footer reads. */
  def register(spark: SparkSession, dir: String): Unit = {
    if (dir == lastDir.get(spark)) return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    names.foreach { n =>
      val df = read(spark, dir, n)
      val fixed =
        if (n == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
        else df
      fixed.createOrReplaceTempView(n)
    }
    lastDir.put(spark, dir)
  }

  /** Run ANSI SQL against the registered views. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    register(spark, dir)
    spark.sql(query)
  }
}
