package graft

import org.apache.spark.sql.{Row, SparkSession}

/** GraftExtensions is the only wiring path for the native functions:
  * every injected function must be reachable from plain `spark.sql` in
  * a session that installs nothing but the extension (SessionSpec fails
  * on an injected function this spec does not call). */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions wires native functions into plain spark.sql") {
    val base = spark // force the shared session (and its context) first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // Reference comment golden, HadoopWordPairs.java:64-65.
    val golden = "I am in A group of 3 20 year adults with Weight 2.5.5"
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        "SELECT cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS c, " +
          "shingles('a b c d', 3) AS sh, " +
          "lsh_bands(array(1.0d), 2, 4, 1) AS bands, " +
          "fnv1a32('abc', 2166136261L) AS h, " +
          "cms_sketch(t, 2, 8) AS cms, kmv_sketch(t, 4) AS kmv, " +
          "topk_rows(named_struct('v', v, 't', t), 2) AS top, " +
          s"tok_cats('$golden') AS tc, co_pairs('$golden', 1) AS cp " +
          "FROM VALUES ('x', 3L), ('y', 1L), ('x', 2L) AS tab(t, v)").head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-15)
      assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
      assert(r.getSeq[Long](2).length == 2)
      // PropertySpec's independent per-code-point FNV-1a fold
      def fnv(s: String): Long = s.codePoints().toArray.foldLeft(
        functions.Fnv1a32.Seed)((h, c) => ((h ^ c) * 16777619L) & 0xFFFFFFFFL)
      assert(r.getLong(3) == fnv("abc"))
      // depth x width grid; each of the 3 rows adds 1 to one cell per row
      val cms = r.getSeq[Long](4)
      assert(cms.length == 2 * 8 && cms.grouped(8).forall(_.sum == 3))
      // 2 distinct values < k: the exact distinct hash set, ascending
      assert(r.getSeq[Long](5) == Seq(fnv("x"), fnv("y")).sorted)
      // the k smallest structs, ascending
      val top = r.getSeq[Row](6).map(t => (t.getLong(0), t.getString(1)))
      assert(top == Seq((1L, "y"), (2L, "x")))
      val tc = r.getSeq[Row](7).map(t => (t.getString(0), Option(t.getString(1))))
      assert(tc == golden.split(" ", -1).toSeq.map(t => (t, RefImpl.cat(t))))
      val cp = r.getSeq[Row](8).map(t => (t.getString(0), t.getString(1)))
      assert(cp == Seq(("am", "in"), ("group", "of"), ("3", "20"),
        ("year", "adults"), ("adults", "with")))
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}
