package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface (SURVEY.md §2.3 E1–E12, E14): scans,
  * joins (broadcast/shuffle, semi/anti), multi-aggregate group-bys,
  * rollup, distinct, ranking + frame windows, sorts/top-k, set ops,
  * scalar functions, JSON extraction, event-time windows, sessionization.
  *
  * All plans are declarative DataFrame compositions — Catalyst supplies
  * predicate pushdown into the parquet scans, column pruning, partial
  * aggregation, and broadcast-join selection for the small dimensions
  * (region/nation/customer); AQE handles runtime coalescing and skew.
  *
  * Cross-engine float determinism (FIXTURES.md §3): any aggregate over
  * doubles goes through [[dsum]] — per-row arithmetic stays in IEEE
  * double (bit-identical in any engine), the running sum is an exact
  * DECIMAL(38,12), and only the final value is cast back to double. This
  * makes Spark and DuckDB agree bit-for-bit regardless of accumulation
  * order, including inside window frames.
  */
object Queries {

  /** The driver fixtures have shipped two parquet temporal encodings
    * across rounds: TIMESTAMP(NANOS) (no native Spark 4 type — read as
    * nanosecond longs via the legacy conf) and plain µs
    * timestamps WITHOUT isAdjustedToUTC, which Spark 4 reads as
    * TIMESTAMP_NTZ. Normalize every temporal column to the session-zone
    * TimestampType once, at the read boundary: every session here pins
    * spark.sql.session.timeZone=UTC, so the NTZ→LTZ cast preserves the
    * microsecond value exactly — the same value DuckDB's epoch_us sees —
    * and downstream unix_micros/window/watermark logic stays
    * encoding-agnostic. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast("timestamp"))
        case _ => d
      }
    }

  /** events.parquet: TIMESTAMP(NANOS) rounds read it as nanosecond longs
    * and truncate to a microsecond TimestampType (the same ns→µs
    * truncation DuckDB applies; the generated data is µs-grained so no
    * precision is lost); µs-NTZ rounds are handled by [[normalizeTs]]
    * inside [[Tables.read]]. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Tables.read(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) read as long
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _ => raw // already a (µs) timestamp
    }
  }

  /** Exact, order-independent sum of a double expression: sum as
    * DECIMAL(38,12), result cast back to double. */
  def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")
  // Two DuckDB casts are not value-preserving the way Spark's are, so the
  // oracle routes both through VARCHAR: (a) double→decimal — Spark parses
  // the double's shortest string repr (BigDecimal.valueOf), DuckDB
  // multiplies by 10^scale in float math; (b) decimal→double — Spark's
  // BigDecimal.doubleValue is correctly rounded, DuckDB's int128/1e12 is
  // not. With both round-trips the two engines agree bit-for-bit.
  private val DSUM =
    "CAST(CAST(SUM(CAST(CAST(%s AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
  private def dsumSql(e: String) = DSUM.format(e)

  /** Oracle twin of [[causalPanel]] — the shared user-grain causal
    * CTE chain (q377 conventions) ending in `pe(user_id, t, first_us,
    * y, x1, x2, e)`; spliced into the q403/q404/q405 oracles so the
    * three estimators replay one panel. Declared before [[oracles]]
    * (object-init order). */
  private val causalPanelCtes: String =
    s"""ev0 AS (SELECT user_id, event_id, ts, event_type, value
       |  FROM events WHERE value IS NOT NULL),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
       |  ORDER BY ts ASC, event_id ASC) AS rn FROM ev0),
       |per AS (SELECT user_id,
       |  max(CASE WHEN rn = 1 AND event_type = 'click'
       |    THEN 1 ELSE 0 END) AS t,
       |  count(*) AS n_events,
       |  min(epoch_us(ts)) AS first_us,
       |  ${dsumSql("value")} AS sv,
       |  ${dsumSql("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END")} AS y
       |  FROM r GROUP BY user_id),
       |px AS (SELECT user_id, t, first_us, y,
       |  ln(CAST(n_events AS DOUBLE)) AS x1,
       |  sv / CAST(n_events AS DOUBLE) / 100.0 AS x2 FROM per),
       |pe AS (SELECT *, least(greatest(
       |  1.0 / (1.0 + exp(-(-0.2 + 0.3 * x1 + 0.1 * x2))), 0.05), 0.95) AS e
       |  FROM px)""".stripMargin

  /** Hash-portable float EMISSION (the final value of every double output
    * column): round to 6 decimals using ONLY IEEE ops both engines execute
    * bit-identically — `floor(x*1e6 + 0.5)/1e6` — with passthrough for
    * |x| ≥ 1e9 (where 6-decimal rounding is sub-ULP anyway, and where the
    * ×1e6 would overflow Spark's ANSI floor→long), NaN forced to NULL, and
    * a trailing `+ 0.0` collapsing IEEE -0.0 to +0.0.
    *
    * Why not `round(x, 6)`: Spark rounds the SHORTEST-DECIMAL-REPR half-up
    * (BigDecimal.valueOf) while DuckDB rounds the BINARY value with a
    * version-dependent half-mode — they diverge at 7th-decimal half
    * boundaries (common for medians/averages of low-decimal data) and on
    * `-0.0` for tiny negatives. Verified bit-exact against the oracle twin
    * [[femitSql]] over 1.1M adversarial doubles (half boundaries, tiny
    * negatives, 24 orders of magnitude). Pair with [[femitSql]] ALWAYS —
    * adopting one side alone re-introduces the divergence. */
  def femit(c: Column): Column = {
    val d = c.cast("double")
    val snapped = floor(d * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    when(isnan(d), lit(null).cast("double"))
      .otherwise(when(abs(d) < lit(1e9), snapped).otherwise(d) + lit(0.0))
  }

  /** Oracle twin of [[femit]] — same IEEE ops, same NaN/-0.0 handling. */
  def femitSql(e: String): String =
    s"((CASE WHEN isnan(CAST(($e) AS DOUBLE)) THEN NULL " +
      s"WHEN abs(CAST(($e) AS DOUBLE)) < 1e9 " +
      s"THEN floor(CAST(($e) AS DOUBLE) * 1e6 + 0.5) / 1e6 " +
      s"ELSE CAST(($e) AS DOUBLE) END) + 0.0)"

  /** Spark-SQL-text twin of [[femit]] for queries that go through the
    * SQL frontend (`spark.sql` / SQL scripting) rather than the Column
    * API. Spark parses bare decimal literals as DECIMAL and its
    * `floor(double)` returns BIGINT, hence the `D` suffixes and the
    * explicit DOUBLE cast; the ops themselves are the identical IEEE
    * lattice femit/femitSql execute. */
  def femitSparkSql(e: String): String =
    s"((CASE WHEN isnan(CAST(($e) AS DOUBLE)) THEN NULL " +
      s"WHEN abs(CAST(($e) AS DOUBLE)) < 1e9D " +
      s"THEN CAST(floor(CAST(($e) AS DOUBLE) * 1e6D + 0.5D) AS DOUBLE) / 1e6D " +
      s"ELSE CAST(($e) AS DOUBLE) END) + 0.0D)"

  // E4: TPC-H Q1-shaped multi-aggregate group-by with pushed-down scan filter.
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .filter(col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // E1: scan + filter + project, pushed to parquet (PushedFilters/ReadSchema).
  def filterProject(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .filter(col("l_quantity") >= 30 && col("l_discount") > 0.05)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // order by every output column for a total cross-engine order
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .limit(5000)

  // E2: multi-way equi-join; region/nation/customer are broadcast dims.
  def joinAgg(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.read(s, dir, "customer")
    val orders = Tables.read(s, dir, "orders")
    val nation = Tables.read(s, dir, "nation")
    val region = Tables.read(s, dir, "region")
    // customer scales with SF — no authored broadcast (the planner
    // re-decides from stats; at 100 TB this is a shuffle join on
    // o_custkey). nation/region are spec-fixed 25/5-row dims.
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("r_name", "n_name")
  }

  // E3: left-semi ≡ EXISTS.
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.read(s, dir, "orders").filter(col("o_orderstatus") === "F")
    Tables.read(s, dir, "customer")
      .join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  // E3: left-anti ≡ NOT EXISTS. Anti-joins against the *filtered* orders
  // (status 'P') — every customer has some order in the synthetic data,
  // so the unfiltered form returns 0 rows and proves nothing.
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.read(s, dir, "orders").filter(col("o_orderstatus") === "P")
    Tables.read(s, dir, "customer")
      .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  // E5: rollup with subtotal rows (NULL groups coalesced to a sentinel so
  // both engines sort identically without null-ordering divergence).
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("l_returnflag", "l_linestatus")

  // E5: cube — all grouping-set combinations (rollup's superset).
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("l_returnflag", "l_linestatus")

  // E5 + SQL frontend: explicit GROUPING SETS through spark.sql over the
  // registered views — every other query is equally SQL-expressible.
  def groupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
         |  COALESCE(l_linestatus, '(all)') AS l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sum_qty,
         |  count(*) AS n
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
         |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  // SQL-frontend flagship: the TPC-H Q5 shape (local-supplier volume —
  // six-table star join, region filter, one-year date window) issued as
  // PLAIN SQL through the registered views. Catalyst plans the dims as
  // broadcasts and pushes the region/date filters into the scans, the
  // same physical shape the DataFrame twin (q3) gets — the point of the
  // row is that a reference user's SQL runs verbatim. Revenue rides the
  // DECIMAL route; the descending float order gets the n_name tiebreak
  // the TPC-H text leaves implicit.
  def tpchQ5(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,12))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)

  // TPC-H Q3 (shipping-priority), shaped to the fixture star schema
  // (o_orderpriority stands in for the spec's o_shippriority — the
  // fixture doesn't carry it): segment-filtered customer × orders ×
  // lineitem, unshipped-as-of-cutoff revenue per order, top 10. The
  // classic selective-dimension star join: both date filters push into
  // the scans, the customer side broadcasts, and the top-10 plans as
  // TakeOrderedAndProject.
  def tpchQ3(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,12))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin)

  // TPC-H Q10 (returned-item reporting), shaped to the fixture schema
  // (c_mktsegment stands in for the spec's address/phone/comment
  // columns): one quarter of orders, only RETURNED line items, revenue
  // lost per customer, top 20 — the churn-investigation star join.
  // l_returnflag = 'R' prunes the fact scan; nation broadcasts.
  def tpchQ10(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,12))) AS DOUBLE) AS revenue,
        |  ${femitSql("c_acctbal")} AS c_acctbal, n_name, c_mktsegment
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin)

  // TPC-H Q2 (minimum-cost supplier), shaped to the fixture schema: the
  // partsupp association is derived from shipment history (DISTINCT
  // l_partkey, l_suppkey — the fixture has no partsupp table) and
  // s_acctbal stands in for ps_supplycost. The point of the row is the
  // CORRELATED SCALAR AGGREGATE over a multi-table join: for each PROMO
  // part, only the EUROPE supplier(s) at the per-part minimum survive.
  // Catalyst decorrelates the subquery into an aggregate-then-join on
  // l_partkey; region/nation broadcast on both sides; the top-100 plans
  // as TakeOrderedAndProject. acctbal carries 2 decimals, so round(.,6)
  // is lossless and the DESC order (with n_name/s_name/p_partkey
  // tiebreaks) is a total order on both engines.
  def tpchQ2(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT ${femitSql("s_acctbal")} AS s_acctbal, s_name, n_name, p_partkey, p_brand
        |FROM part, ps, supplier, nation, region
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND p_type = 'PROMO' AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  AND s_acctbal = (SELECT min(s_acctbal)
        |    FROM ps ps2, supplier s2, nation n2, region r2
        |    WHERE ps2.l_partkey = p_partkey AND s2.s_suppkey = ps2.l_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)

  // TPC-H Q17 (small-quantity-order revenue): lines of one brand+type
  // whose quantity is below 20% of that part's own average — the
  // correlated-aggregate-as-filter shape (Catalyst decorrelates to a
  // per-part avg aggregate joined back to the fact). The threshold is
  // engineered for cross-engine bit-parity: exact DECIMAL(38,12) sum
  // cast to double, then 0.2*sum/count in identical IEEE order, so the
  // `<` boundary admits the same rows on both engines. Single-row
  // output; n_lines pins the surviving row set, not just the sum.
  def tpchQ17(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""SELECT count(*) AS n_lines,
        |  ${femitSql("CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) / 7.0")}
        |    AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
        |  AND l_quantity < (SELECT
        |      0.2 * CAST(SUM(CAST(l2.l_quantity AS DECIMAL(38,12))) AS DOUBLE) / count(*)
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)

  // TPC-H Q18 (large-volume customers): orders whose total quantity
  // exceeds a threshold, re-joined to their customer — the IN-subquery-
  // with-HAVING shape (planned as an aggregate + left-semi join feeding
  // the star join). The HAVING compares an exact DECIMAL sum to an
  // integer literal, so the qualifying order set is bit-deterministic;
  // totalprice carries 2 decimals so round(.,6) is lossless and the
  // DESC/orderkey order is total.
  def tpchQ18(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  ${femitSql("o_totalprice")} AS o_totalprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(38,12))) > 180)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin)

  // TPC-H Q21 (suppliers who kept orders waiting), shaped to the
  // fixture (no commit/receipt dates: a line is "late" when it shipped
  // more than 90 days after the order date). The EXISTS + NOT EXISTS
  // pair with a non-equality correlated conjunct (l2.l_suppkey <>
  // l1.l_suppkey) is the classic decorrelation stress test — Spark
  // plans them as left-semi and null-tolerant left-anti joins on
  // l_orderkey with the <> as a join residual. The `ll` CTE (fact-fact
  // lineitem⋈orders lateness flags) is referenced three times and
  // inlined into each; at 100 TB a production run materializes it once
  // (the q266 staging rule) — here the three probes ARE the operator
  // under test. Counts only, so no float discipline needed.
  def tpchQ21(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """WITH ll AS (SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT s_name, count(*) AS numwait
        |FROM supplier JOIN ll l1 ON s_suppkey = l1.l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE l1.late AND n_name IN ('NATION_3', 'NATION_7')
        |  AND EXISTS (SELECT 1 FROM ll l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM ll l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.late)
        |GROUP BY s_name ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin)

  // TPC-H Q22 (global sales opportunity), shaped to the fixture:
  // c_mktsegment stands in for the phone-prefix country bucket, and
  // "never placed an order" becomes "no order since 2000-01-01" (every
  // synthetic customer has SOME order). Combines an uncorrelated scalar
  // aggregate (the above-average-balance threshold — one broadcast
  // scalar both engines compute to the same double via the DECIMAL
  // route) with a correlated NOT EXISTS anti join carrying a pushed
  // date predicate. Three output rows, each pinning count + exact sum.
  def tpchQ22(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT c_mktsegment AS segment, count(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,12))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
        |  AND c_acctbal > (SELECT
        |      CAST(SUM(CAST(c_acctbal AS DECIMAL(38,12))) AS DOUBLE) / count(*)
        |    FROM customer WHERE c_acctbal > 0.0
        |      AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY'))
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_mktsegment ORDER BY segment""".stripMargin)

  // TPC-H Q12 (shipping-mode priority audit), shaped to the fixture:
  // l_returnflag stands in for l_shipmode and the receipt-date window
  // becomes a ship-date year. The point is the conditional two-way
  // aggregation (SUM of CASE) over a fact-fact equi-join — one scan,
  // map-side partial aggs, counts only (no float discipline).
  def tpchQ12(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT l_returnflag,
        |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS high_line_count,
        |  SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  // TPC-H Q14 (promotion effect): share of one month's revenue earned
  // by PROMO-type parts — the conditional-numerator / total-denominator
  // ratio every marketing dashboard runs. Both sums ride the DECIMAL
  // route and divide once at the end (identical IEEE order), so the
  // percentage is bit-deterministic; n_lines pins the joined row set.
  def tpchQ14(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""SELECT count(*) AS n_lines,
        |  ${femitSql(s"""100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |      AS DECIMAL(38,12))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(38,12))) AS DOUBLE)""")} AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin)

  // TPC-H Q19 (discounted revenue, disjunctive predicates): three
  // brand×size×quantity bands OR-ed together — the classic test that
  // the optimizer pushes a disjunction of conjunctions into the scans
  // (each leg prunes on part columns) instead of materializing the
  // full join. Count + DECIMAL-route revenue pin the selected rows.
  def tpchQ19(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT count(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,12))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin)

  // TPC-H Q4 (order-priority checking): orders of one quarter with at
  // least one line shipped after the order date — EXISTS planned as a
  // left-semi join; counts only.
  def tpchQ4(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  // TPC-H Q6 (forecasting revenue change): the pure scan-filter-agg —
  // every predicate pushes into the parquet scan, no join at all. The
  // discount band compares stored doubles exactly; revenue rides the
  // DECIMAL route.
  def tpchQ6(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT count(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice * l_discount
        |    AS DECIMAL(38,12))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)

  // TPC-H Q16 (parts/supplier relationship): distinct-supplier counts
  // per brand/type/size bucket with a NOT-IN exclusion list — the
  // count(DISTINCT) + null-aware-anti-join composition. The supplier
  // link is derived from shipment history (no partsupp in the fixture).
  def tpchQ16(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 5, 9, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%07%')
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 50""".stripMargin)

  // TPC-H Q20 (potential promotion), shaped to the fixture: suppliers
  // who moved more than 100 units of some PROMO part — the nested-IN-
  // with-grouped-HAVING shape (ps_availqty is stood in by shipped
  // volume). Inner aggregate on the exact DECIMAL route; the outer IN
  // plans as a left-semi join.
  def tpchQ20(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT s_name, s_nationkey
        |FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'PROMO'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(38,12))) > 100)
        |ORDER BY s_name""".stripMargin)

  // TPC-H Q7 (volume shipping): bidirectional nation-pair trade by
  // ship year — the double-nation-dim star join with a disjunctive
  // pair predicate; revenue on the DECIMAL route, year() exact.
  def tpchQ7(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(CAST(volume AS DECIMAL(38,12))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume
        |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |    AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_11')
        |      OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_12'))
        |    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
        |      AND TIMESTAMP '1997-12-31 00:00:00') shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)

  // TPC-H Q8 (national market share): one nation's share of regional
  // revenue per order year — the conditional-numerator ratio over an
  // 8-table star join; numerator and denominator each DECIMAL-routed,
  // one final division in identical IEEE order.
  def tpchQ8(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""SELECT o_year,
        |  ${femitSql(s"""CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_5'
        |      THEN volume ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE)
        |    / CAST(SUM(CAST(volume AS DECIMAL(38,12))) AS DOUBLE)""")}
        |    AS mkt_share,
        |  count(*) AS n_lines
        |FROM (SELECT year(o_orderdate) AS o_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume,
        |    n1.n_name AS supp_nation
        |  FROM part, supplier, lineitem, orders, customer,
        |    nation n1, nation n2, region
        |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND c_nationkey = n2.n_nationkey
        |    AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |    AND s_nationkey = n1.n_nationkey AND p_type = 'STANDARD') all_nations
        |GROUP BY o_year ORDER BY o_year""".stripMargin)

  // TPC-H Q9 (product-type profit), shaped to the fixture: the spec's
  // ps_supplycost is stood in by 10% of p_retailprice (documented unit
  // cost proxy — the fixture has no partsupp), so profit =
  // revenue − 0.1·retail·quantity; grouped by supplier nation × order
  // year over name-filtered parts.
  def tpchQ9(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT nation, o_year,
        |  CAST(SUM(CAST(amount AS DECIMAL(38,12))) AS DOUBLE) AS sum_profit,
        |  count(*) AS n_lines
        |FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |    l_extendedprice * (1.0 - l_discount)
        |      - p_retailprice * 0.1 * l_quantity AS amount
        |  FROM part, supplier, lineitem, orders, nation
        |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |    AND p_name LIKE '%red%') profit
        |GROUP BY nation, o_year ORDER BY nation, o_year""".stripMargin)

  // TPC-H Q11 (important stock), shaped to the fixture: per-part
  // shipped value from two nations' suppliers, kept where the part
  // exceeds a fraction of the group total — the HAVING-against-scalar-
  // subquery shape (the threshold broadcast once). Both sides of the
  // `>` ride the DECIMAL route, so the cut is bit-deterministic; the
  // output value is rounded with a partkey tiebreak.
  def tpchQ11(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""WITH pv AS (SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS value
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_3', 'NATION_4')
        |  GROUP BY l_partkey)
        |SELECT l_partkey, ${femitSql("value")} AS value
        |FROM pv
        |WHERE value > (SELECT 0.001 * CAST(SUM(CAST(value
        |  AS DECIMAL(38,12))) AS DOUBLE) FROM pv)
        |ORDER BY value DESC, l_partkey""".stripMargin)

  // TPC-H Q13 (customer order-count distribution): the count-of-counts
  // histogram over a LEFT OUTER join whose ON clause carries an extra
  // filter (customers with zero qualifying orders land in the 0
  // bucket, which an inner join would lose) — counts only.
  def tpchQ13(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)

  // TPC-H Q15 (top supplier): the revenue-view + max-scalar-subquery
  // shape — the view aggregates once, the max broadcasts, and equality
  // on the identical DECIMAL-routed doubles selects the same winner(s)
  // on both engines.
  def tpchQ15(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""WITH revenue AS (SELECT l_suppkey AS supplier_no,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, ${femitSql("total_revenue")} AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)

  // NOT IN under three-valued logic — the semantics trap every SQL
  // engine must honor and Spark plans as a dedicated physical operator
  // (null-aware anti join): `x NOT IN (subquery)` is FALSE-or-UNKNOWN
  // for EVERY x the moment the subquery produces one NULL, so the
  // with-null branch must return zero rows — an engine that silently
  // treats NOT IN as an anti join on non-null keys returns thousands.
  // Both branches run the same probe; the clean branch has the NULL
  // filtered out, the poisoned branch injects exactly one. Counts and
  // DECIMAL-route sums pin the row sets.
  def notInNulls(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT 'clean' AS branch, count(*) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,12))) AS DOUBLE),
        |    CAST(0.0 AS DOUBLE)) AS sum_price
        |FROM orders
        |WHERE o_custkey NOT IN
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |UNION ALL
        |SELECT 'poisoned', count(*),
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,12))) AS DOUBLE),
        |    CAST(0.0 AS DOUBLE))
        |FROM orders
        |WHERE o_custkey NOT IN
        |  (SELECT CASE WHEN c_custkey % 1000 = 7 THEN NULL ELSE c_custkey END
        |   FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY branch""".stripMargin)

  // E6: exact distinct aggregation.
  def distinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  // E7: ranking window — top-3 orders per customer, deterministic tiebreak.
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.read(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  // E8: analytic window with a running frame; exact decimal accumulation
  // makes the running double identical across engines.
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.read(s, dir, "orders")
      .withColumn("running_spend",
        sum(col("o_totalprice").cast("decimal(38,12)")).over(w).cast("double"))
      .select("o_custkey", "o_orderkey", "running_spend")
      .orderBy("o_custkey", "o_orderkey")
  }

  // E8 breadth: RANGE (value-based) frames — q9/q49 bound frames by ROW
  // offsets; a RANGE frame bounds by ORDER-key VALUE (here: every order
  // of the same customer within the trailing 5 days) and includes ALL
  // peer rows of the current key value, which is what makes it
  // deterministic under order-key ties where a ROWS frame is not. The
  // rolling-velocity metric shape (txns/revenue per trailing window).
  def rangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("od"))
      .rangeBetween(-432000L, 0L) // trailing 5 days, in epoch seconds
    Tables.read(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        unix_timestamp(col("o_orderdate")).as("od"), col("o_totalprice"))
      .withColumn("n_5d", count(lit(1)).over(w).cast("long"))
      .withColumn("rev_5d",
        sum(col("o_totalprice").cast("decimal(38,12)")).over(w).cast("double"))
      .select("o_orderkey", "o_custkey", "od", "n_5d", "rev_5d")
      .orderBy("o_orderkey")
  }

  // E9: global top-k → TakeOrderedAndProject (no full sort materialization).
  def topkOrders(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .limit(100)

  // E10: intersect / except / union distinct, tagged and stacked.
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.read(s, dir, "orders")
    def keys(status: String) =
      orders.filter(col("o_orderstatus") === status).select("o_custkey")
    keys("F").intersect(keys("O")).withColumn("op", lit("f_and_o"))
      .unionAll(keys("F").except(keys("P")).withColumn("op", lit("f_not_p")))
      .unionAll(keys("F").union(keys("P")).distinct().withColumn("op", lit("f_or_p")))
      .select(col("op"), col("o_custkey").as("custkey"))
      .orderBy("op", "custkey")
  }

  // E10 completed with BAG semantics: INTERSECT ALL / EXCEPT ALL keep
  // multiplicities (a customer with 3 F-orders and 2 O-orders appears
  // min(3,2)=2 times in the intersection, 3−2=1 time in the
  // difference) — q11 covers only the DISTINCT forms, and the two
  // families differ on every repeat customer. The declared result
  // re-groups the multiset per (op, custkey) so the exact multiplicity
  // of every key is hash-pinned. Same hash-agg shapes as q11 at scale.
  def setOpsAll(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.read(s, dir, "orders")
    def keys(status: String) =
      orders.filter(col("o_orderstatus") === status).select("o_custkey")
    keys("F").intersectAll(keys("O")).withColumn("op", lit("f_bag_and_o"))
      .unionAll(keys("F").exceptAll(keys("O")).withColumn("op", lit("f_bag_not_o")))
      .groupBy(col("op"), col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("multiplicity"))
      .orderBy("op", "custkey")
  }

  // LISTAGG / string_agg surface — the report-facing string
  // aggregation every BI layer asks for, made deterministic the only
  // portable way: aggregate to a SET, sort, then join (an ORDER BY
  // inside the aggregate is engine syntax; a sorted array is one
  // semantics). Tiny result; the collect_set rides a plain hash-agg.
  def listAgg(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(concat_ws(",", array_sort(collect_set(col("o_orderpriority"))))
        .as("priorities"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  // E11: scalar function surface — date parts, string ops, math (only
  // IEEE-exact fns: abs/sqrt; no libm-divergent ln/exp in oracle outputs).
  def scalarFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        upper(substring(col("o_orderpriority"), 1, 4)).as("prio4"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
        length(col("o_orderpriority")).cast("long").as("prio_len"),
        abs(col("o_totalprice") - lit(1000.0)).as("absdiff"),
        sqrt(col("o_totalprice")).as("sqrt_price"))
      .orderBy("o_orderkey")
      .limit(5000)

  // E11 (JSON): extract typed value from events.props.
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  // E12: tumbling event-time window (batch form), epoch-aligned like
  // DuckDB's date_trunc; window start exported as epoch seconds.
  def tumblingWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").cast("long").as("hour_start"), col("n"), col("sum_value"))
      .orderBy("hour_start")

  // E12: sliding event-time window (1 h window, 30 min slide).
  def slidingWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").cast("long").as("win_start"), col("n"), col("sum_value"))
      .orderBy("win_start")

  // E13 (batch form): gap-based sessionization — 30 min inactivity gap,
  // exact integer microsecond timestamps on both engines. A new session
  // starts when the gap is >= 30 min, matching Structured Streaming's
  // session_window semantics (windows are half-open [t, t+gap)); the
  // streaming twin in graft.streaming.Sessions is equivalence-tested
  // against this plan.
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapUs = 1800L * 1000000L
    events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") >= gapUs, 1L).otherwise(0L))
      .withColumn("sess_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("sess_start_us"), max(col("us")).as("sess_end_us"),
        dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "sess_id")
  }

  // Gap + DURATION-CAP sessionization: q16's inactivity-gap sessions
  // additionally split whenever a session exceeds a maximum length —
  // the policy real trackers enforce (a 12-hour "session" is a bug or
  // a bot). A true running-reset cap needs sequential state, but
  // splitting the gap-session into fixed cap-width cells measured
  // from ITS OWN start is declarative: one more window (the session-
  // start min) and an integer division — each sub-session is
  // [start + i·cap, start + (i+1)·cap). Same two keyed shuffles as
  // q16; the sub-split is a projection. Cap = 15 min: 224 of the 9549
  // gate-SF sessions exceed it (max 56.6 min), so the split is
  // exercised, not vacuous — a 1 h cap never fires on this corpus.
  def sessionizeCapped(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val bySess = Window.partitionBy("user_id", "sess_id")
    val gapUs = 1800L * 1000000L
    val capUs = 900L * 1000000L
    events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("sess_start", min(col("us")).over(bySess))
      .withColumn("sub_id", expr(s"(us - sess_start) DIV ${capUs}L"))
      .groupBy("user_id", "sess_id", "sub_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("sub_start_us"), max(col("us")).as("sub_end_us"))
      .withColumn("capped",
        (col("sub_end_us") - col("sub_start_us")) <= capUs)
      .orderBy("user_id", "sess_id", "sub_id")
  }

  // BITMAP-based EXACT distinct (the Spark 3.5+ bitmap_* family):
  // ids bucket into 32k-bit bitmap segments (bitmap_bucket_number /
  // bitmap_construct_agg), per-bucket bitmaps OR-merge across any
  // regrouping (bitmap_or_agg), and popcounts sum to the exact
  // distinct — the warehouse pattern for SUB-AGGREGATABLE exact
  // distincts (a materialized per-day bitmap table rolls up to any
  // period exactly, where countDistinct forces a re-scan and HLL
  // (q81/q151) pays an error). Here: per event type, the two-level
  // bitmap pipeline next to countDistinct, equality as a column. The
  // bitmaps themselves are engine-internal; everything EXPORTED is an
  // exact count the oracle recomputes directly.
  def bitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("user_id"))
    val seg = ev.groupBy(col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
    seg.groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct_bitmap"),
        count(lit(1)).as("n_buckets"))
      .join(ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_distinct_exact")), "event_type")
      .withColumn("agree", col("n_distinct_bitmap") === col("n_distinct_exact"))
      .orderBy("event_type")
  }

  // EXACT ROLLING DISTINCT via bitmap rollup — the q161 partials made
  // operational (the bitmap analogue of q151's HLL rollup, but exact):
  // per-(day, bucket) bitmaps build once from raw events; each day's
  // trailing-7-day distinct-user count is then an OR-merge of ≤7×
  // buckets bitmap rows (a range self-join on the day spine) + one
  // popcount sum — O(days × window × buckets) bitmap work instead of
  // re-scanning O(events × window) raw rows per day, and unlike HLL
  // the answer is exact. countDistinct cannot do this: distinct is
  // not sub-aggregatable, bitmaps are. Oracle recomputes each
  // window's distinct from raw — the expensive path the rollup
  // replaces.
  def rollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(
      expr("unix_micros(ts) DIV 86400000000").as("day"), col("user_id"))
    val daily = ev.groupBy(col("day"),
        expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
    // each day's bitmap serves the 7 trailing windows ending on
    // day..day+6: explode onto that spine (the q43 cell trick — an
    // equi-keyed shuffle, not a range join), OR-merge per (serve day,
    // bucket), popcount, sum; a semi-join against the real day spine
    // drops the phantom windows past the last day of data
    val spine = ev.select(col("day")).distinct()
    daily
      .select(explode(sequence(col("day"), col("day") + 6)).as("day"),
        col("bucket"), col("bm"))
      .join(broadcast(spine), Seq("day"), "left_semi")
      .groupBy("day", "bucket")
      .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("bc"))
      .groupBy("day")
      .agg(sum(col("bc")).as("users_7d"))
      .orderBy("day")
  }

  // TYPED Dataset aggregation — the Aggregator[IN, BUF, OUT] API
  // (case-class buffers through Encoders, plain-Scala merge) driven
  // from the typed groupByKey pipeline; the 8th custom-aggregation
  // surface, complementing the native TypedImperativeAggregates (see
  // functions.TypedAggs). The running sum follows the dsum DECIMAL
  // route addend-for-addend, so the typed path lands on the same
  // bits as the untyped aggregations and the oracle.
  def typedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = events(s, dir)
      .select(col("user_id"), col("value")).as[(Long, Double)]
    ds.groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.TypedAggs.valueStatsCol)
      .toDF("user_id", "stats")
      .select(col("user_id"), col("stats.n").as("n"),
        femit(col("stats.sum").cast("double")).as("sum_value"),
        col("stats.min").as("min_value"), col("stats.max").as("max_value"))
      .orderBy("user_id")
  }

  // GOLDEN-RECORD construction (MDM survivorship): one current row per
  // user where EACH column independently takes its most recent
  // non-null value from the event history — the multi-source
  // master-data rule that plain last-row-wins (q82/q118) gets wrong
  // whenever the newest record has gaps (here: props.k is present on
  // only some events, so the newest k usually lives on an older row
  // than the newest event). One window pass with ignoreNulls last()
  // per column over the (ts, event_id) total order, then the newest
  // row per user carries the assembled record out. Scale: one keyed
  // shuffle; the full-partition frame is a single ordered pass per
  // user (no per-column re-sort).
  def goldenRecord(s: SparkSession, dir: String): DataFrame = {
    val full = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val newestFirst = Window.partitionBy("user_id")
      .orderBy(col("us").desc, col("event_id").desc)
    events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"), col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("last_k", last(col("k"), ignoreNulls = true).over(full))
      .withColumn("last_type", last(col("event_type"), ignoreNulls = true).over(full))
      .withColumn("n_events", count(lit(1)).over(Window.partitionBy("user_id")))
      .withColumn("rn", row_number().over(newestFirst))
      .where(col("rn") === 1)
      .select(col("user_id"), col("n_events"), col("us").as("last_us"),
        col("last_type"), femit(col("value")).as("last_value"), col("last_k"))
      .orderBy("user_id")
  }

  // As-of join (an operator Spark has no native form of): every click
  // event matched to the same user's most recent view at or before it,
  // left-outer, ties toward the larger view event_id. Executed as
  // Temporal.asofJoin's union + ordered-window plan — one shuffle on
  // user_id, no pair blowup (see Temporal.scaladoc for the scale
  // argument). Timestamps compared as exact epoch microseconds.
  def asofClickView(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = e.where(col("event_type") === "click")
      .select("event_id", "user_id", "us", "value")
    val views = e.where(col("event_type") === "view")
      .select(col("user_id"), col("us"),
        col("event_id").as("view_id"), col("us").as("view_us"),
        col("value").as("view_value"))
    Temporal.asofJoin(clicks, views, Seq("user_id"), "us", "view_id",
        Seq("view_id", "view_us", "view_value"))
      .select(col("event_id"), col("user_id"), col("us"),
        col("m_view_id").as("view_id"), col("m_view_us").as("view_us"),
        col("m_view_value").as("view_value"),
        (col("us") - col("m_view_us")).as("gap_us"))
      .orderBy("event_id")
  }

  // Banded range self-join: same-user event pairs within 10 minutes,
  // each pair exactly once. The time-cell equi-join shape (never a
  // nested-loop theta join) — see Temporal.bandJoin.
  def bandPairs(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).withColumn("us", unix_micros(col("ts")))
    Temporal.bandJoin(e, "user_id", "us", "event_id", 600L * 1000000L)
      .orderBy("a_event_id", "b_event_id")
  }

  // Interval-OVERLAP join (Temporal.intervalJoin): per-user daily
  // purchase-activity intervals [first, last], pairs of users whose
  // intervals intersect on the same day, with the overlap length —
  // concurrency analysis over derived intervals. Cell width 6h (≤5
  // cells per within-day interval); the exploded cell equi-join
  // replaces the quadratic-per-day theta join, and the overlap-START
  // cell rule dedups without a distinct (see the operator scaladoc).
  // The oracle is the raw theta join — the binned plan must reproduce
  // it exactly, pair for pair.
  def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val iv = events(s, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"),
        unix_micros(col("ts")).as("us"))
      .groupBy("user_id", "day")
      .agg(min(col("us")).as("s"), max(col("us")).as("e"))
    Temporal.intervalJoin(iv, Seq("day"), "user_id", "s", "e",
        6L * 3600L * 1000000L)
      .orderBy("day", "a_user_id", "b_user_id")
  }

  // Pivot: per-user event counts spread across the event-type columns
  // (Spark relational op with no direct reference twin; DuckDB oracle
  // uses conditional aggregates — the pivot's relational definition).
  // The type list is pinned, not discovered: an unpinned pivot runs a
  // driver-side distinct job at plan build and its column set drifts
  // with the data.
  def pivotEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  // Window-function breadth on one deterministic frame: dense_rank,
  // ntile, lead/lag, first/last over the per-customer order history.
  def windowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wFrame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.read(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        first(col("o_orderkey")).over(wFrame).as("first_order"),
        max(col("o_totalprice")).over(wFrame).as("max_so_far"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // Exact + approximate quantiles. The exact percentiles use only
  // dyadic fractions (0.25/0.5/0.75): their interpolation positions and
  // weights are exactly representable in binary, so Spark's percentile
  // and DuckDB's quantile_cont produce bit-identical doubles over the
  // integral-valued l_quantity (non-dyadic p like 0.95 would make the
  // g-weight arithmetic engine-sensitive). The t-digest approximate
  // median is folded into an oracle-checkable 5% bound, q30-style.
  def quantileAgg(s: SparkSession, dir: String): DataFrame = {
    val exactMed = expr("percentile(l_quantity, 0.5)")
    Tables.read(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("q25"),
        exactMed.as("q50"),
        expr("percentile(l_quantity, 0.75)").as("q75"),
        (abs(expr("approx_percentile(l_quantity, 0.5, 10000)") - exactMed)
          <= exactMed * 0.05).as("approx_ok"))
      .orderBy("l_returnflag")
  }

  // Skew-handling path as a declared query: the salted join must
  // produce exactly the plain join's rows (the oracle IS the plain
  // join), so the skew mitigation is correctness-gated, not just
  // equivalence-tested in the suite.
  def saltedJoinAgg(s: SparkSession, dir: String): DataFrame =
    Layout.saltedJoin(
        Tables.read(s, dir, "orders"),
        Tables.read(s, dir, "customer").select("c_custkey", "c_nationkey"),
        "o_custkey", "c_custkey", saltFactor = 8)
      .groupBy("c_nationkey")
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("c_nationkey")

  // Bucketed physical layout declared as a query: both join sides are
  // written bucketed+sorted by the join key (Layout.writeBucketed — the
  // plan-build write IS part of the operator, raw_text_wordcount
  // pattern), then joined AND aggregated with no hash exchange anywhere:
  // the bucketed scans' HashPartitioning(custkey) feeds the sort-merge
  // join directly, and — because custkey is a subset of the grouping
  // keys — the (custkey, c_nationkey) aggregation too. At 100 TB this is
  // the layout that turns the nightly fact⋈fact join from a full network
  // shuffle into a partition-local merge. The oracle is the PLAIN join:
  // physical layout must be invisible in the results. The no-hash-
  // exchange property is plan-asserted in LayoutSpec.
  def bucketedJoinAgg(s: SparkSession, dir: String): DataFrame = {
    Layout.writeBucketed(Tables.read(s, dir, "orders")
      .withColumnRenamed("o_custkey", "custkey"), "orders_bkt", "custkey", 8)
    Layout.writeBucketed(Tables.read(s, dir, "customer")
      .withColumnRenamed("c_custkey", "custkey"), "customer_bkt", "custkey", 8)
    Layout.bucketedJoin(s, "orders_bkt", "customer_bkt", "custkey")
      .groupBy("custkey", "c_nationkey")
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("custkey")
  }

  // Partition-pruned layout declared as a query: documents written
  // partitionBy(lang), read back with a partition-column filter — the
  // scan's listing prunes to the lang=de directory before opening a
  // single file (PartitionFilters, plan-asserted in LayoutSpec). The
  // oracle filters the original table: pruning must be invisible in
  // the results.
  def partitionPrunedAgg(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("docs_by_lang")
    Layout.writePartitioned(Tables.read(s, dir, "documents"), out, "lang")
    s.read.parquet(out)
      .where(col("lang") === "de")
      .groupBy(col("lang").cast("string").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang")
  }

  // Small-files compaction declared as a query: documents written
  // fragmented (64 splits — the streaming-ingest debris pattern), then
  // compacted to 4 even files (Layout.compact), then aggregated from
  // the compacted copy. The oracle aggregates the ORIGINAL table:
  // fragmentation + compaction must preserve every row. The file-count
  // contract is plan-level and asserted in LayoutSpec.
  def compactionAgg(s: SparkSession, dir: String): DataFrame = {
    val frag = graft.Scratch.dir("docs_fragmented")
    val out = graft.Scratch.dir("docs_compacted")
    Tables.read(s, dir, "documents").repartition(64)
      .write.mode("overwrite").parquet(frag)
    Layout.compact(s, frag, out, 4)
    s.read.parquet(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        countDistinct(col("doc_id")).as("n_ids"))
      .orderBy("lang")
  }

  // E13 at the gate: the streaming session plan (session_window grouping,
  // graft.streaming.Sessions.sessionStats) executed in BATCH mode over
  // the static events table — same ≥gap boundary semantics as
  // [[sessionize]], so the oracle is q16's SQL verbatim. Sessions are
  // renumbered per user by start time to produce q16's sess_id.
  def sessionWindowAgg(s: SparkSession, dir: String): DataFrame = {
    val sw = graft.streaming.Sessions.sessionStats(events(s, dir))
    val w = Window.partitionBy("user_id").orderBy(col("sess_start_us").asc)
    sw.withColumn("sess_id", row_number().over(w).cast("long"))
      .select("user_id", "sess_id", "n_events",
        "sess_start_us", "sess_end_us", "sum_value")
      .orderBy("user_id", "sess_id")
  }

  // E2/E3 breadth: FULL OUTER join with explicit key coalescence —
  // per-customer order counts under two disjoint status filters, where
  // either side may be missing. Output keys are coalesced and counts
  // zero-filled so the row set is null-free and totally ordered on both
  // engines (null-ordering defaults differ between Spark and DuckDB).
  def fullOuterCounts(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.read(s, dir, "orders")
    def byStatus(st: String, as: String) =
      orders.filter(col("o_orderstatus") === st)
        .groupBy(col("o_custkey").as(s"${as}_key"))
        .agg(count(lit(1)).as(as))
    val f = byStatus("F", "n_f")
    val p = byStatus("P", "n_p")
    f.join(p, col("n_f_key") === col("n_p_key"), "full_outer")
      .select(coalesce(col("n_f_key"), col("n_p_key")).as("custkey"),
        coalesce(col("n_f"), lit(0L)).as("n_f"),
        coalesce(col("n_p"), lit(0L)).as("n_p"))
      .orderBy("custkey")
  }

  // Schema evolution via parquet mergeSchema: two writer generations of
  // the same table (v2 adds a column), read back as ONE unified schema
  // with the missing column null-filled — the lake reality of a source
  // whose schema grows over years of ingest. The oracle recomputes both
  // generations' aggregates from the original table.
  def schemaEvolutionAgg(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("evolving_docs")
    val docs = Tables.read(s, dir, "documents")
    docs.select(col("doc_id"), col("lang"))
      .where(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$out/gen=1")
    docs.select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
      .where(col("doc_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$out/gen=2")
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(col("n_chars")).as("n_with_chars"),
        sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"))
      .orderBy("lang")
  }

  // E4/E6 breadth: argmax/argmin aggregates (max_by/min_by) — "which
  // row attains the extreme", the lookup every leaderboard query wants
  // without a window. The ordering key packs a doc_id tiebreak into one
  // BIGINT (n_chars·2³² + doc_id — lexicographic for doc_id < 2³²,
  // overflow-free for n_chars < 2³¹): bare max_by on a tied measure is
  // nondeterministic in BOTH engines, and DuckDB's arg_max takes only
  // scalar orderings.
  def argExtremes(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
      .withColumn("ord", col("n_chars") * lit(4294967296L) + col("doc_id"))
      .groupBy("lang")
      .agg(
        expr("max_by(doc_id, ord)").as("longest_doc"),
        expr("min_by(doc_id, ord)").as("shortest_doc"),
        max(col("n_chars")).as("max_chars"),
        min(col("n_chars")).as("min_chars"))
      .orderBy("lang")

  // E11 breadth: OUTER generator semantics — posexplode_outer keeps a
  // (null, null) row for documents whose match array is empty, where
  // plain posexplode would silently drop the document. 'table' occurs in
  // some documents and not others, so both branches are exercised.
  def outerExplodeCounts(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        posexplode_outer(expr("regexp_extract_all(text, 'table', 0)"))
          .as(Seq("pos", "hit")))
      .groupBy("doc_id")
      .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_rows"))
      .orderBy("doc_id")

  // Union-by-name with missing-column null fill — the DataFrame-level
  // cousin of q67's mergeSchema: two projections with different column
  // sets and orders union into one frame without positional mixups.
  def unionByNameAgg(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val v1 = docs.where(col("doc_id") % 2 === 0)
      .select(col("lang"), col("doc_id")) // reversed order on purpose
    val v2 = docs.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(col("n_chars")).as("n_with_chars"),
        min(col("doc_id")).as("min_id"))
      .orderBy("lang")
  }

  // E14: exact deduplication by full text content.
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .groupBy("text")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  // ROC-AUC of a score column separating two classes, computed exactly
  // via the Mann-Whitney rank-sum identity: AUC = (R⁺ − P(P+1)/2)/(P·N)
  // where R⁺ is the sum of average ranks (ascending score, ties get the
  // mean rank of their tie group) over the positive class. Score =
  // events.value, positive class = purchase events — the classifier-
  // evaluation operator (q88/q104 produce scores; this grades them).
  //
  // Scale shape: the raw stream reduces to one row PER DISTINCT SCORE
  // (hash-agg, partial+final), and the global rank prefix-sum is the
  // TWO-PHASE distributed form (q39's discipline): scores hash into
  // fixed 50-unit range cells, the running count within each cell is a
  // cell-local window (parallel across cells), and the cross-cell
  // offsets come from a ≤16-row cell-totals table whose own prefix sum
  // is the only single-partition window — O(cells), not O(scores).
  // Ranks are integers+halves and R⁺ runs through dsum, so the one
  // float division at the end is bit-identical cross-engine. The oracle
  // computes the SAME statistic with a single global window — the
  // distributed two-phase form must reproduce it exactly.
  /** Two-phase exact Mann–Whitney AUC over (score: double, pos: long)
    * rows — the distributed rank machinery [[rocAuc]] describes,
    * factored so [[featureAblation]] can grade ablated scorers with
    * the identical statistic. `cellOf` maps a score to its monotone
    * range cell (the q39/q166 discipline: within-cell ranks run
    * parallel, the only single-partition window is the O(cells)
    * offset table). Returns ONE row (n_pos, n_neg, auc0) with auc0
    * the RAW double — callers femit at emission. */
  private def aucTwoPhase(scores: DataFrame, cellOf: Column): DataFrame = {
    val perScore = scores
      .groupBy("score")
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("poscnt"))
      .withColumn("cell", cellOf.cast("long"))
    val inCell = Window.partitionBy("cell").orderBy(col("score").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cellTotals = perScore.groupBy("cell")
      .agg(sum(col("cnt")).as("cell_cnt"))
      .withColumn("cell_offset",
        coalesce(sum(col("cell_cnt")).over(
          Window.orderBy(col("cell").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("cell", "cell_offset")
    perScore
      .withColumn("cum_in", coalesce(sum(col("cnt")).over(inCell), lit(0L)))
      .join(broadcast(cellTotals), "cell")
      .withColumn("avg_rank",
        (col("cell_offset") + col("cum_in")).cast("double")
          + (col("cnt") + 1L).cast("double") / 2.0)
      .agg(sum(col("poscnt")).as("n_pos"),
        sum(col("cnt") - col("poscnt")).as("n_neg"),
        dsum(col("poscnt").cast("double") * col("avg_rank")).as("rpos"))
      .select(col("n_pos"), col("n_neg"),
        ((col("rpos")
          - col("n_pos").cast("double") * (col("n_pos") + 1L).cast("double") / 2.0)
          / nullif(col("n_pos").cast("double") * col("n_neg").cast("double"),
            lit(0.0)))
          .as("auc0"))
  }

  def rocAuc(s: SparkSession, dir: String): DataFrame = {
    // NULL scores are unrankable and are dropped here exactly as
    // aucBootstrap (q386) drops them for its replicates, so the point
    // estimate and the CI cover ONE population (ADVICE r11); the
    // q166/q386 oracles carry the same predicate.
    val perRow = events(s, dir)
      .where(col("value").isNotNull)
      .select(col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    aucTwoPhase(perRow, floor(col("score") / 50.0))
      .select(col("n_pos"), col("n_neg"), femit(col("auc0")).as("auc"))
  }

  /** Average precision over the q166 score/label population — the
    * PR-side companion to [[rocAuc]]'s ROC summary (the metric of
    * record under class imbalance): AP = Σ_t (R_t − R_{t−1})·P_t over
    * DISTINCT score thresholds descending (the threshold-step
    * formulation, which is tie-robust by construction — rows sharing
    * a score enter together, so no within-tie order exists to
    * disagree on), plus the interpolated precision at recall ≥ ½
    * (integer-compared: 2·TP ≥ n_pos — no float recall).
    *
    * Scale: the same two-phase rank discipline as [[aucTwoPhase]] —
    * score-grain reduction first, per-cell windows + an O(cells)
    * offset table instead of one global sort; the AP fold is an
    * order-free dsum over score-grain terms. */
  def averagePrecision(s: SparkSession, dir: String): DataFrame = {
    val perScore = events(s, dir)
      .where(col("value").isNotNull)
      .select(col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy("score")
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("poscnt"))
      .withColumn("cell", floor(col("score") / 50.0).cast("long"))
    val inCell = Window.partitionBy("cell").orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cellTotals = perScore.groupBy("cell")
      .agg(sum(col("cnt")).as("cell_cnt"), sum(col("poscnt")).as("cell_pos"))
      .withColumn("cnt_off",
        coalesce(sum(col("cell_cnt")).over(
          Window.orderBy(col("cell").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("pos_off",
        coalesce(sum(col("cell_pos")).over(
          Window.orderBy(col("cell").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("cell", "cnt_off", "pos_off")
    val tot = perScore.agg(sum(col("poscnt")).as("n_pos"),
      sum(col("cnt") - col("poscnt")).as("n_neg"))
    perScore
      .withColumn("cum_cnt", sum(col("cnt")).over(inCell))
      .withColumn("cum_pos", sum(col("poscnt")).over(inCell))
      .join(broadcast(cellTotals), "cell")
      .withColumn("k", col("cnt_off") + col("cum_cnt"))
      .withColumn("tp", col("pos_off") + col("cum_pos"))
      .crossJoin(broadcast(tot))
      .agg(max(col("n_pos")).as("n_pos"), max(col("n_neg")).as("n_neg"),
        dsum(col("poscnt").cast("double")
          * (col("tp").cast("double") / col("k").cast("double"))).as("apn"),
        max(when(col("tp") * 2L >= col("n_pos"),
          col("tp").cast("double") / col("k").cast("double"))).as("par50"))
      .select(col("n_pos"), col("n_neg"),
        femit(col("apn") / col("n_pos").cast("double"))
          .as("average_precision"),
        femit(col("par50")).as("prec_at_recall50"))
  }

  // Market-basket association rules over the orders→parts bipartite
  // graph (Agrawal–Srikant, VLDB 1994 measures): baskets are orders,
  // items are distinct partkeys; for every co-occurring ordered pair
  // (a→b) with pair support ≥ MinSup emit support, confidence
  // supp(ab)/supp(a) and lift N·supp(ab)/(supp(a)·supp(b)), top-K by
  // lift. Per-basket pair expansion is O(basket²) but baskets are
  // naturally small (≤13 parts here) and the explicit size cap bounds
  // the quadratic step at 100 TB — a degenerate mega-basket (a crawler
  // session touching every item) is dropped, not exploded. Shuffles:
  // one distinct on (order, part), one self-join keyed by order (AQE-
  // splittable), two hash-aggs; item supports broadcast back onto the
  // pair table. Confidence/lift are single divisions of exact integer
  // counts in one fixed order, round(6).
  def assocRules(s: SparkSession, dir: String, minSup: Long = 3L,
                 maxBasket: Int = 64, topK: Int = 50): DataFrame = {
    val items = Tables.read(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val bounded = items
      .withColumn("bsize", count(lit(1)).over(Window.partitionBy("ok")))
      .where(col("bsize") <= maxBasket)
      .select("ok", "pk")
    val nBaskets = bounded.groupBy("ok").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_baskets"))
    val itemCnt = bounded.groupBy("pk").agg(count(lit(1)).as("item_cnt"))
    val l = bounded.select(col("ok"), col("pk").as("a"))
    val r = bounded.select(col("ok"), col("pk").as("b"))
    val pairCnt = l.join(r, Seq("ok"))
      .where(col("a") =!= col("b")) // both directions: a→b and b→a
      .groupBy("a", "b").agg(count(lit(1)).as("pair_cnt"))
      .where(col("pair_cnt") >= minSup)
    pairCnt
      .join(itemCnt.withColumnRenamed("pk", "a")
        .withColumnRenamed("item_cnt", "cnt_a"), "a")
      .join(itemCnt.withColumnRenamed("pk", "b")
        .withColumnRenamed("item_cnt", "cnt_b"), "b")
      .crossJoin(broadcast(nBaskets))
      .select(col("a"), col("b"), col("pair_cnt"),
        femit(col("pair_cnt").cast("double") / col("cnt_a").cast("double"))
          .as("confidence"),
        femit(col("pair_cnt").cast("double") * col("n_baskets").cast("double")
          / (col("cnt_a").cast("double") * col("cnt_b").cast("double")))
          .as("lift"))
      .orderBy(col("lift").desc, col("confidence").desc,
        col("a").asc, col("b").asc)
      .limit(topK)
  }

  // 2-D skyline (Pareto frontier; Börzsönyi–Kossmann–Stocker, ICDE
  // 2001): the parts no other part beats on BOTH price (minimize) and
  // size (maximize) — dominance = (≤ price, ≥ size, strictly better in
  // one). Prices go to exact integer cents so every comparison is
  // integer. Distributed form (the q165 sorted-neighborhood discipline):
  // parts hash into fixed $10 price cells; within a cell a part survives
  // locally iff its size equals the cell's max at its exact price AND
  // beats the running max over strictly-cheaper prices (a RANGE frame to
  // 1 cent preceding — equal prices never leak in); across cells the
  // ≤10-row cell-max table's prefix max (the only single-partition
  // window, O(cells)) eliminates anything an earlier — strictly cheaper —
  // cell already beats. Equal (price, size) twins never dominate each
  // other, so both survive; the oracle is the ORTHOGONAL formulation
  // (NOT EXISTS dominance anti-join) — two different algorithms must
  // produce the identical frontier.
  def skyline(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.read(s, dir, "part")
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("cents"),
        col("p_size").cast("long").as("sz"))
      .withColumn("cell", expr("cents DIV 1000"))
    val eqW = Window.partitionBy("cell", "cents")
    val ltW = Window.partitionBy("cell").orderBy(col("cents").asc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val local = pts
      .withColumn("m_eq", max(col("sz")).over(eqW))
      .withColumn("m_lt", max(col("sz")).over(ltW))
      .where(col("sz") === col("m_eq")
        && (col("m_lt").isNull || col("sz") > col("m_lt")))
    val cellMax = local.groupBy("cell").agg(max(col("sz")).as("cmax"))
      .withColumn("g_lt", max(col("cmax")).over(
        Window.orderBy(col("cell").asc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("cell", "g_lt")
    local.join(broadcast(cellMax), "cell")
      .where(col("g_lt").isNull || col("sz") > col("g_lt"))
      .select(col("p_partkey"), col("cents"), col("sz"))
      .orderBy(col("cents").asc, col("p_partkey").asc)
  }

  // Interval coalescing (gaps-and-islands over genuine intervals — the
  // temporal-normalization operator behind SCD merges and coverage
  // reports): each purchase event opens a 30-minute activity interval
  // [ts, ts+30m]; overlapping-or-touching intervals per user merge into
  // maximal islands. The sequential "does this interval extend the
  // current island?" recurrence becomes one window pass: an interval
  // starts a new island iff its start exceeds the running max end over
  // all earlier intervals (ordered by start, end, event_id — a total
  // order), island id = prefix sum of those flags. All arithmetic is
  // exact integer µs, so the recurrence is bit-identical cross-engine.
  // Windows partition by user — parallel across users, no global sort;
  // at 100 TB this is the q16 sessionize shape (one keyed shuffle).
  def intervalCoalesce(s: SparkSession, dir: String): DataFrame = {
    val lenUs = 1800L * 1000000L
    val w = Window.partitionBy("user_id")
      .orderBy(col("start_us").asc, col("end_us").asc, col("event_id").asc)
    events(s, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) + lenUs).as("end_us"))
      .withColumn("prev_max_end",
        max(col("end_us")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_end").isNull
          || col("start_us") > col("prev_max_end"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(min(col("start_us")).as("island_start_us"),
        max(col("end_us")).as("island_end_us"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "island")
  }

  // CUSUM changepoint statistic per event-type daily series (Page 1954),
  // computed DECLARATIVELY via the prefix-sum closed form: the
  // sequential recurrence S_t = max(0, S_{t-1} + x_t − k) equals
  // C_t − min(0, min_{j≤t} C_j) with C the running sum of (x_t − k) —
  // two window functions replace the unparallelizable fold. Everything
  // is exact integer micro-units (values scaled ×10⁶, k = floor mean,
  // h = 4×mean absolute deviation), so the cumulative sums are
  // bit-identical cross-engine with no float-association risk (a window
  // SUM over doubles is NOT order-safe — DuckDB's segment-tree
  // accumulation associates differently). Scale shape: one hash-agg
  // reduces the raw stream to O(types × days) rows; every window after
  // that runs on the reduced table, partitioned by type.
  def cusum(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"),
        round(col("value") * 1000000).cast("long").as("vmicro"))
      .groupBy("event_type", "day")
      .agg(sum(col("vmicro")).as("x"))
    val params = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("tot"))
      .withColumn("k", expr("tot DIV n_days"))
      .select("event_type", "n_days", "k")
    val withK = daily.join(broadcast(params), "event_type")
    val h = withK.groupBy("event_type")
      .agg(expr("sum(abs(x - k)) DIV count(1)").as("adev"))
      .withColumn("h", col("adev") * 4L)
      .select("event_type", "h")
    val byDay = Window.partitionBy("event_type").orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withK.join(broadcast(h), "event_type")
      .withColumn("c", sum(col("x") - col("k")).over(byDay))
      .withColumn("s_t", col("c") - least(lit(0L), min(col("c")).over(byDay)))
      .groupBy("event_type")
      .agg(max(col("n_days")).as("n_days"), max(col("k")).as("k"),
        max(col("h")).as("h"), max(col("s_t")).as("max_s"),
        sum(when(col("s_t") > col("h"), 1L).otherwise(0L)).as("n_alarms"),
        coalesce(min(when(col("s_t") > col("h"), col("day"))), lit(-1L))
          .as("first_alarm_day"))
      .orderBy("event_type")
  }

  // Trailing-window z-score anomaly detection over per-type daily event
  // counts: each day is scored against the mean/σ of the 7 PRECEDING
  // observed days (ROWS frame — strictly causal, the current day never
  // contaminates its own baseline). The |z| > 3 decision is evaluated in
  // PURE INTEGER form: z² > 9 ⇔ (7x − s1)² > 9(7s2 − s1²), so the flag
  // itself is exact with no float comparison at all; only the reported
  // max |z| rounds a float, computed in one fixed order from the same
  // integer sums. One hash-agg reduces the stream to O(types × days);
  // the window runs per type over the reduced table.
  def zscoreAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("x"))
    val trail = Window.partitionBy("event_type").orderBy(col("day").asc)
      .rowsBetween(-7, -1)
    daily
      .withColumn("s1", sum(col("x")).over(trail))
      .withColumn("s2", sum(col("x") * col("x")).over(trail))
      .withColumn("m", count(lit(1)).over(trail))
      .where(col("m") === 7L)
      .withColumn("num", lit(7L) * col("x") - col("s1"))
      .withColumn("den2", lit(7L) * col("s2") - col("s1") * col("s1"))
      .withColumn("anom", col("num") * col("num") > lit(9L) * col("den2"))
      .withColumn("z6",
        when(col("den2") > 0L,
          femit(abs(col("num")).cast("double")
            / sqrt(col("den2").cast("double")))).otherwise(lit(0.0)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("anom"), 1L).otherwise(0L)).as("n_anomalies"),
        max(col("z6")).as("max_z"))
      .orderBy("event_type")
  }

  // Session path analysis: the top event-type TRIGRAMS users walk
  // within a session (q16's 30-min gap rule) — the navigation-pattern
  // operator behind funnel discovery (q127 checks a KNOWN funnel; this
  // MINES candidate paths). Two lead() calls over the session-partitioned
  // order produce each 3-step window; trigrams never cross a session
  // boundary (lead is frame-bounded by the partition). One keyed
  // shuffle for the windows (user — same partitioning serves both the
  // session-id and lead passes), one hash-agg over trigrams, top-20 via
  // TakeOrderedAndProject. Deterministic tiebreak (cnt DESC, then the
  // three types ASC).
  def pathTrigrams(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    val gapUs = 1800L * 1000000L
    val sess = events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("sess_id",
        sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bySess = Window.partitionBy("user_id", "sess_id")
      .orderBy(col("us").asc, col("event_id").asc)
    sess
      .withColumn("t2", lead(col("event_type"), 1).over(bySess))
      .withColumn("t3", lead(col("event_type"), 2).over(bySess))
      .where(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t1").asc, col("t2").asc, col("t3").asc)
      .limit(20)
  }

  // Tukey boxplot outlier fences + winsorization (Tukey, EDA 1977):
  // per event type, the [q25 − 1.5·IQR, q75 + 1.5·IQR] fence over
  // exact integer cents, outlier counts on each side, and the
  // winsorized (fence-clamped) mean. Exactness chain: percentile
  // interpolation at 0.25/0.75 lands on binary-exact quarter weights
  // over integers (q51's discipline), the IQR fence arithmetic stays
  // on exact eighths, so the clamp COMPARISONS are exact and the
  // clamped values flow through the DECIMAL dsum route — only the
  // final mean divides. One grouped sort-agg for the quantiles
  // (partial-agg'd percentile), one broadcast of the 5-row fence
  // table back onto the scan.
  def outlierFence(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    val fences = e.groupBy("event_type")
      .agg(expr("percentile(cents, 0.25)").as("q25"),
        expr("percentile(cents, 0.75)").as("q75"))
      .withColumn("lo", col("q25") - (col("q75") - col("q25")) * 1.5)
      .withColumn("hi", col("q75") + (col("q75") - col("q25")) * 1.5)
    e.join(broadcast(fences), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("cents").cast("double") < col("lo"), 1L).otherwise(0L))
          .as("n_low"),
        sum(when(col("cents").cast("double") > col("hi"), 1L).otherwise(0L))
          .as("n_high"),
        max(col("lo")).as("fence_lo"), max(col("hi")).as("fence_hi"),
        femit(dsum(least(greatest(col("cents").cast("double"), col("lo")),
          col("hi"))) / count(lit(1))).as("winsor_mean"))
      .orderBy("event_type")
  }

  // GSP-style length-2 sequential pattern support (Srikant–Agrawal,
  // EDBT 1996): for every ORDERED event-type pair (a → b), the number
  // of sessions where a's earliest occurrence strictly precedes b's —
  // subsequence support, NOT adjacency (q172 counts contiguous paths;
  // q127 checks one known funnel; this measures every candidate
  // ordering). Sessions reduce to ≤|types| rows each (per-session-type
  // min over the session window), so the pair expansion is a
  // session-keyed self-join of a tiny-per-key table — O(types²) per
  // session, never O(events²). Support ratios are single divisions of
  // exact counts, round(6).
  def seqPairs(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    val gapUs = 1800L * 1000000L
    val sess = events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("sess_id",
        sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id", "event_type")
      .agg(min(col("us")).as("first_us"))
    val nSess = sess.select("user_id", "sess_id").distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val l = sess.select(col("user_id"), col("sess_id"),
      col("event_type").as("ta"), col("first_us").as("ua"))
    val r = sess.select(col("user_id"), col("sess_id"),
      col("event_type").as("tb"), col("first_us").as("ub"))
    l.join(r, Seq("user_id", "sess_id"))
      .where(col("ta") =!= col("tb") && col("ua") < col("ub"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_support"))
      .crossJoin(broadcast(nSess))
      .select(col("ta"), col("tb"), col("n_support"),
        femit(col("n_support").cast("double")
          / col("n_sessions").cast("double")).as("support"))
      .orderBy("ta", "tb")
  }

  // Score-calibration reliability bins: does "value predicts purchase"
  // (q166's AUC setup) hold PROPORTIONALLY? Scores bucket into a fixed
  // 10-cell grid (stable edges — the q115 discipline: comparable
  // across runs, no data-dependent pre-pass) and each bin reports its
  // empirical positive rate next to its mean score. One hash-agg; the
  // two ratios divide exact integer counts / DECIMAL-route sums.
  def calibrationBins(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("value"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .withColumn("bin", least(floor(col("value") / 50.0).cast("long"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        femit(dsum(col("value")) / count(lit(1))).as("mean_score"),
        femit(sum(col("pos")).cast("double") / count(lit(1)).cast("double"))
          .as("frac_pos"))
      .orderBy("bin")

  // Isotonic calibration of q180's reliability curve — PAVA (pool
  // adjacent violators; Barlow–Bartholomew–Bremner–Brunk 1972), the
  // standard monotone score→probability map production rankers ship
  // (Platt's logistic twin assumes a shape; isotonic doesn't). Rather
  // than the sequential stack algorithm, the fit uses the minimax
  // closed form iso(i) = max_{j≤i} min_{k≥i} avg(pos, bins j..k)
  // (Robertson–Wright–Dykstra), which is pure relational algebra:
  // segment averages from one grid self-join, then a min- and a
  // max-aggregate. ALL the heavy lifting is the single corpus scan
  // into the fixed 10-cell grid (the q115/q180 discipline); every
  // subsequent join touches only the ≤10-row bin table, so the O(B³)
  // segment enumeration is 1000 rows of driver-free in-plan work
  // bounded by the GRID, not the data — at 100 TB the plan shape is
  // unchanged. Non-equi joins on the bounded bin table plan as tiny
  // BNLJs by construction (the q291 1-row-scalar precedent). Segment
  // averages divide exact integer sums, so min/max pick identical
  // IEEE values on both engines; emission rides femit.
  def isotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    val bins = events(s, dir)
      .select(col("value"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .withColumn("b", least(floor(col("value") / 50.0).cast("long"), lit(9L)))
      .groupBy("b")
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
    val seg = bins.select(col("b").as("j"))
      .join(bins.select(col("b").as("k")), col("j") <= col("k"))
      .join(bins.select(col("b").as("m"), col("n"), col("npos")),
        col("m") >= col("j") && col("m") <= col("k"))
      .groupBy("j", "k")
      .agg((sum(col("npos")).cast("double") / sum(col("n")).cast("double"))
        .as("avg_jk"))
    val iso = bins.select(col("b").as("i"))
      .join(seg, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j").agg(min(col("avg_jk")).as("mn"))
      .groupBy("i").agg(max(col("mn")).as("iso"))
    bins.join(iso, col("b") === col("i"))
      .select(col("b").as("bin"), col("n"),
        col("npos").as("n_pos"),
        femit(col("npos").cast("double") / col("n").cast("double"))
          .as("rate_raw"),
        femit(col("iso")).as("rate_iso"))
      .orderBy("bin")
  }

  // Population Stability Index between the month's two halves (the
  // standard production drift score credit-risk monitoring runs;
  // complements q107's ratio checks with the aggregate index):
  // PSI = Σ_bins (p₂ − p₁)·ln(p₂/p₁) over the same fixed 10-cell value
  // grid, Laplace-smoothed ((cnt+1)/(n+B)) so empty bins stay finite
  // and exact-rational. Per-bin terms are single IEEE expressions; the
  // cross-bin sum rides the DECIMAL dsum route, so accumulation order
  // cannot skew the float result. Output: the 10 bins plus a TOTAL row
  // (bin = −1). Day 19738 = 2024-01-16 (epoch-day arithmetic, q128's
  // discipline — calendar-free).
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val binned = events(s, dir)
      .select(
        when(expr("unix_micros(ts) DIV 86400000000") < 19738L, 1L)
          .otherwise(2L).as("snap"),
        least(floor(col("value") / 50.0).cast("long"), lit(9L)).as("bin"))
      .groupBy("snap", "bin").agg(count(lit(1)).as("cnt"))
    val tot = binned.agg(
      sum(when(col("snap") === 1L, col("cnt"))).as("t1"),
      sum(when(col("snap") === 2L, col("cnt"))).as("t2"))
    val grid = binned.groupBy("bin")
      .agg(sum(when(col("snap") === 1L, col("cnt"))).as("n1"),
        sum(when(col("snap") === 2L, col("cnt"))).as("n2"))
      .select(col("bin"), coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
      .crossJoin(broadcast(tot))
      .withColumn("p1", (col("n1") + 1L).cast("double") / (col("t1") + 10L).cast("double"))
      .withColumn("p2", (col("n2") + 1L).cast("double") / (col("t2") + 10L).cast("double"))
      .withColumn("term", (col("p2") - col("p1")) * log(col("p2") / col("p1")))
    val bins = grid.select(col("bin"), col("n1"), col("n2"),
      femit(col("term")).as("term"))
    val total = grid.agg(sum(col("n1")).as("n1"), sum(col("n2")).as("n2"),
        femit(dsum(col("term"))).as("term"))
      .select(lit(-1L).as("bin"), col("n1"), col("n2"), col("term"))
    bins.unionByName(total).orderBy("bin")
  }

  // Time-weighted average value per event type (the TWAP every
  // irregular-sample telemetry/market pipeline runs): each observation
  // holds until the next one of the SAME type; the final observation
  // holds until the global horizon (max event time across the table),
  // so every type integrates over the same interval. Durations are
  // exact µs longs; value·dur is one IEEE product per row summed
  // through the DECIMAL dsum route (order-proof), the final division a
  // single IEEE op. One window per type + one hash-agg; at 100 TB the
  // per-type ordering range-partitions by (type, day) with boundary
  // carry exactly like the q134 EWMA discipline. The global horizon is
  // a BROADCAST 1-row agg (r13 sweep: the former max().over(empty
  // partition) funneled the whole event stream through one task just
  // to carry a scalar).
  def twap(s: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy("event_type")
      .orderBy(col("us").asc, col("event_id").asc)
    val base = events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
    val horizon = base.agg(max(col("us")).as("h"))
    base.crossJoin(broadcast(horizon))
      .withColumn("next_us",
        coalesce(lead(col("us"), 1).over(byType), col("h")))
      .withColumn("dur", col("next_us") - col("us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("dur")).as("total_us"),
        femit(dsum(col("value") * col("dur").cast("double"))
          / sum(col("dur")).cast("double")).as("twap"))
      .orderBy("event_type")
  }

  // Last-touch marketing attribution: each purchase's value is credited
  // to the user's most recent NON-purchase event within a 7-day
  // lookback ('direct' when none qualifies). One per-user window scan
  // (running last-non-purchase via last(_, ignoreNulls) over ROWS
  // UNBOUNDED PRECEDING..1 PRECEDING — no self-join, no per-purchase
  // re-scan) + one small hash-agg on the credited channel. Revenue
  // sums ride the DECIMAL dsum route.
  def lastTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lookbackUs = 7L * 86400L * 1000000L
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase",
          struct(col("us"), col("event_type"))), ignoreNulls = true)
          .over(byUser))
      .where(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("touch").isNull || col("us") - col("touch.us") > lookbackUs,
          lit("direct")).otherwise(col("touch.event_type")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        femit(dsum(col("value"))).as("revenue"))
      .orderBy("channel")
  }

  // k-anonymity audit (Sweeney, IJUFKS 2002): treat (nation, market
  // segment, account-balance thousand-bucket) as the quasi-identifier
  // and report, per (nation, segment), how many QI equivalence classes
  // fall below k=5 and how many customers sit in them — the rows a
  // release would have to generalize or suppress. Two stacked integer
  // hash-aggs (QI class counts, then per-(nation, segment) rollup);
  // the balance bucket floors an IEEE division both engines compute
  // identically.
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal").cast("double") / 1000.0).cast("long").as("bal_kb"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_kb")
      .agg(count(lit(1)).as("cls_n"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("cls_n") < 5L, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("cls_n") < 5L, col("cls_n")).otherwise(0L)).as("n_exposed"),
        min(col("cls_n")).as("min_class"))
      .orderBy("c_nationkey", "c_mktsegment")

  // t-closeness audit (Li, Li, Venkatasubramanian, ICDE 2007) — the
  // distributional upgrade of q184's k-anonymity and q186's
  // l-diversity: a quasi-identifier class leaks even when diverse if
  // its sensitive-attribute DISTRIBUTION diverges from the global one.
  // For the ordered sensitive attribute (acctbal in 1k bands, clamped
  // to [-1, 9] — 11 buckets), the distance is the ordered-EMD:
  // mean |prefix-sum of (class share − global share)|. Each share is a
  // double ratio of exact longs (identical division both engines); the
  // 11-step prefix sum runs in fixed bucket order under a window; the
  // final |·| accumulation rides the DECIMAL route so hash-agg order
  // can't perturb it. Violation = rounded EMD > 0.15.
  //
  // Scale: two hash-aggs (class×bucket, global bucket), an 11-row
  // broadcast for the global distribution, and one (class, bucket)
  // dense grid via cross join of the distinct classes with the literal
  // bucket range — no per-row state, no driver loop.
  def tCloseness(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.read(s, dir, "customer").select(
      col("c_nationkey"), col("c_mktsegment"),
      greatest(least(floor(col("c_acctbal") / 1000.0).cast("long"),
        lit(9L)), lit(-1L)).as("bkt"))
    val global = c.groupBy("bkt").agg(count(lit(1)).as("gn"))
    val gtot = c.agg(count(lit(1)).as("gt"))
    val cls = c.groupBy("c_nationkey", "c_mktsegment", "bkt")
      .agg(count(lit(1)).as("cn"))
    val clsTot = c.groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("ct"))
    val buckets = s.range(-1, 10).select(col("id").as("bkt"))
    val grid = clsTot.crossJoin(buckets)
      .join(cls, Seq("c_nationkey", "c_mktsegment", "bkt"), "left")
      .join(broadcast(global), Seq("bkt"), "left")
      .crossJoin(broadcast(gtot))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bkt"),
        col("ct"),
        (coalesce(col("cn"), lit(0L)).cast("double") / col("ct")
          - coalesce(col("gn"), lit(0L)).cast("double") / col("gt"))
          .as("d"))
    val cw = Window.partitionBy("c_nationkey", "c_mktsegment")
      .orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // prefix sum on the DECIMAL lattice: window-sum association is
    // engine-specific for doubles (DuckDB uses segment trees)
    grid.withColumn("cum", sum(col("d").cast("decimal(38,12)")).over(cw))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(max(col("ct")).as("n"),
        femit(dsum(abs(col("cum"))) / 10.0).as("emd"))
      .withColumn("violates", col("emd") > 0.15)
      .orderBy("c_nationkey", "c_mktsegment")
  }

  // Mixture sequential probability ratio test (Johari, Koomen, Pekelis,
  // Walsh, "Peeking at A/B Tests", KDD 2017 — the always-valid p-value
  // production experimentation platforms ship so analysts can stop
  // early without inflating false positives). Per event_type
  // "experiment": arms by user parity, events in (ts, event_id) order;
  // at each step the mixture likelihood ratio against H0: δ=0 with a
  // normal prior τ on the effect is
  //   log Λ_n = ½·ln(V_n/(V_n+τ)) + δ̂_n²·τ / (2·V_n·(V_n+τ)),
  // V_n = σ²(1/n_T + 1/n_C), and the always-valid p is the running
  // min of 1/Λ (capped at 1). σ² is the global exact-moment variance
  // (DECIMAL sums); running arm counts/sums are window prefix sums on
  // the DECIMAL lattice, so every double input is bit-identical across
  // engines and round(.,6) absorbs only libm ln/exp drift. Emitted at
  // every 200th event per experiment (plus the last), so the output is
  // the monitoring curve, not 10k rows.
  //
  // Scale: one sort-shuffle keyed by event_type (the per-experiment
  // window), one broadcast of per-experiment moments — the shape of
  // any always-on experiment monitor; checkpoint thinning bounds the
  // sink, not the state.
  def msprt(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("event_id"),
      col("ts"), col("user_id"), col("value"))
    val mom = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"), dsum(col("value")).as("s1"),
      dsum(col("value") * col("value")).as("s2"))
      .select(col("event_type"),
        ((col("s2") - col("s1") * col("s1") / col("n"))
          / (col("n") - 1).cast("double")).as("var"))
    val isT = when(pmod(col("user_id"), lit(2L)) === 0L, 1L).otherwise(0L)
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = ev
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("ts", "event_id")))
      .withColumn("nt", sum(isT).over(w))
      .withColumn("nc", sum(lit(1L) - isT).over(w))
      .withColumn("st", sum(when(pmod(col("user_id"), lit(2L)) === 0L,
        col("value")).otherwise(lit(0.0)).cast("decimal(38,12)")).over(w))
      .withColumn("sc", sum(when(pmod(col("user_id"), lit(2L)) =!= 0L,
        col("value")).otherwise(lit(0.0)).cast("decimal(38,12)")).over(w))
    val total = Window.partitionBy("event_type")
    // loglam and its running max are computed over EVERY scorable row
    // (nt, nc > 0) and only THEN thinned to the 200-row checkpoints —
    // the always-valid p must see likelihood-ratio peaks BETWEEN
    // checkpoints (ADVICE r8: thinning bounds the sink, never the
    // state the p-value runs on).
    val cp = run.withColumn("last", max(col("rn")).over(total))
      .where(col("nt") > 0 && col("nc") > 0)
      .join(broadcast(mom), Seq("event_type"))
    val ntd = col("nt").cast("double"); val ncd = col("nc").cast("double")
    val delta = col("st").cast("double") / ntd -
      col("sc").cast("double") / ncd
    val vn = col("var") * (lit(1.0) / ntd + lit(1.0) / ncd)
    val tau = col("var")
    val loglam = lit(0.5) * log(vn / (vn + tau)) +
      delta * delta * tau / (lit(2.0) * vn * (vn + tau))
    cp.withColumn("delta", delta)
      .withColumn("loglam", loglam)
      .withColumn("runmax", max(col("loglam")).over(
        Window.partitionBy("event_type").orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where(col("rn") % 200 === 0 || col("rn") === col("last"))
      .select(col("event_type"), col("rn").cast("long").as("n_seen"),
        col("nt"), col("nc"), femit(col("delta")).as("delta"),
        femit(col("loglam")).as("log_lambda"),
        femit(least(lit(1.0), exp(-col("runmax")))).as("p_always_valid"))
      .orderBy("event_type", "n_seen")
  }

  // In-plan EM for a 2-component 1-D Gaussian mixture over event
  // values (Dempster, Laird, Rubin 1977) — the unsupervised member of
  // the in-plan fitting family (q269 logistic GD, q149 OLS, q279 PCA,
  // q291 naive Bayes, q292 stump): 3 unrolled EM rounds, each one
  // E-step (per-row responsibilities from the current 1-row parameter
  // frame, broadcast) and one M-step (responsibility-weighted moments
  // via hash-agg). Deterministic quartile-anchored init; variances via
  // the moment form so every round is two scans' worth of arithmetic
  // on the DECIMAL lattice. The 1e-300 floor keeps a doubly-underflown
  // responsibility at 0/denominator instead of NaN — identically on
  // both engines. round(.,6) absorbs per-row libm exp drift (the
  // truncation-to-12dp lattice bounds its accumulation ≪ 1e-6).
  //
  // Scale: per round one broadcast of 7 scalars + one partial-agged
  // scan — the EM shape MLlib runs; rounds are a fixed unrolled
  // pipeline, no driver loop over data.
  // Minimum detectable effect at 80% power / 5% two-sided α — the
  // PLANNING counterpart of q150's Welch z (an experimentation
  // platform shows MDE next to every running metric so owners know
  // what their current sample can resolve): per event type over the
  // q219 user-parity arms, MDE = (z_{.975} + z_{.80})·√(s²_t/n_t +
  // s²_c/n_c), relative MDE against the control mean. One partial-
  // agged scan into six exact moments per type; every downstream float
  // is a fixed-order IEEE expression on those identical doubles. The
  // two normal quantiles are fixed shared literals (the q150
  // 1.959963984540054 convention — a hand-typed "1.96"/"0.84" pair
  // would silently diverge between engines). Degenerate arms
  // (n ≤ 1) and a zero control mean emit NULL, mirrored in the oracle.
  def mde(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).where(col("value").isNotNull)
      .select(col("event_type"), (col("user_id") % 2L === 0L).as("t"),
        col("value"))
    val m = e.groupBy("event_type").agg(
      sum(when(col("t"), 1L).otherwise(0L)).as("nt"),
      sum(when(!col("t"), 1L).otherwise(0L)).as("nc"),
      dsum(when(col("t"), col("value"))).as("st"),
      dsum(when(!col("t"), col("value"))).as("sc"),
      dsum(when(col("t"), col("value") * col("value"))).as("stt"),
      dsum(when(!col("t"), col("value") * col("value"))).as("scc"))
    val ntd = col("nt").cast("double"); val ncd = col("nc").cast("double")
    val vart = (col("stt") - col("st") * col("st") / ntd) / (ntd - 1.0)
    val varc = (col("scc") - col("sc") * col("sc") / ncd) / (ncd - 1.0)
    val se = sqrt(vart / ntd + varc / ncd)
    val mdeC = lit(1.959963984540054 + 0.8416212335729143) * se
    val meanC = col("sc") / ncd
    m.select(col("event_type"), col("nt"), col("nc"),
        femit(when(col("nt") > 1L, vart)).as("var_t"),
        femit(when(col("nc") > 1L, varc)).as("var_c"),
        femit(when(col("nt") > 1L && col("nc") > 1L, mdeC)).as("mde_abs"),
        femit(when(col("nt") > 1L && col("nc") > 1L && meanC =!= 0.0,
          mdeC / meanC)).as("mde_rel"))
      .orderBy("event_type")
  }

  // Page–Hinkley drift detector (Page 1954; the streaming-ML standard
  // for mean-shift detection, cf. Gama et al. 2014 survey §3.1) over
  // each metric's event-time value series: with running mean x̄_i,
  // U_i = Σ_{k≤i}(x_k − x̄_k − δ) and PH_i = U_i − min_{k≤i} U_k, an
  // alarm fires when PH exceeds λ. Kept entirely on the DECIMAL
  // lattice: the value prefix sum (hence x̄), the deviation prefix sum
  // U, and its running min are all exact DECIMAL(38,12) window
  // aggregates, so the min/compare bind identical values on both
  // engines; only the final PH and mean go through femit. The alarm
  // compares the ROUNDED PH against λ (the q207 boundary rule).
  // Emitted at every 200th row per metric (plus each metric's first
  // alarm row) — the mSPRT thinning convention: checkpoints bound the
  // sink, the detector state runs on every row.
  //
  // Scale: one sort-shuffle keyed by event_type; all four window
  // aggregates share that single sort (one WindowExec pass), no
  // broadcast, no driver loop.
  def pageHinkley(s: SparkSession, dir: String,
                  delta: Double = 5.0, lambda: Double = 1000.0): DataFrame = {
    val ev = events(s, dir).where(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
    val ord = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val w = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = ev
      .withColumn("rn", row_number().over(ord))
      .withColumn("ps", sum(col("value").cast("decimal(38,12)")).over(w))
    val mean = col("ps").cast("double") / col("rn")
    val stepped = base
      .withColumn("run_mean", mean)
      .withColumn("dev", (col("value") - mean - lit(delta)))
      .withColumn("u", sum(col("dev").cast("decimal(38,12)")).over(w))
      .withColumn("umin", min(col("u")).over(w))
    val ph = (col("u") - col("umin")).cast("double")
    val total = Window.partitionBy("event_type")
    val scored = stepped
      .withColumn("ph", femit(ph))
      .withColumn("alarm", col("ph") > lit(lambda))
      .withColumn("first_alarm",
        min(when(col("alarm"), col("rn"))).over(total))
      .withColumn("last", max(col("rn")).over(total))
    scored.where(col("rn") % 200 === 0 || col("rn") === col("last") ||
        col("rn") === col("first_alarm"))
      .select(col("event_type"), col("rn").cast("long").as("n_seen"),
        femit(col("run_mean")).as("run_mean"), col("ph"), col("alarm"),
        coalesce(col("rn") === col("first_alarm"), lit(false))
          .as("is_first_alarm"))
      .orderBy("event_type", "n_seen")
  }

  // Benjamini–Hochberg FDR step-up (Benjamini & Hochberg, JRSS-B 1995)
  // over the per-metric always-valid p-values [[msprt]] leaves at its
  // final checkpoint — the multiple-comparisons control an
  // experimentation platform applies across its metric suite before
  // declaring winners (one test per metric; α = 0.05). The ranking and
  // the step-up minimum are grid-bounded self-join algebra on the
  // m-row p-value table (m = #event types): rnk by the (p, event_type)
  // total order, q(i) = min_{j≥i} p(j)·m/j capped at 1, reject iff
  // rnk ≤ max{ j : p(j) ≤ α·j/m } — no global window, no driver loop,
  // and the m² join is bounded by the metric count, not the data.
  // Every comparison multiplies doubles cast identically on both
  // engines (a bare DuckDB `rnk * 0.05` would route through DECIMAL
  // and shift the boundary by an ulp); p is q295's femit-snapped
  // output, so both engines rank identical bit patterns.
  def bhFdr(s: SparkSession, dir: String): DataFrame = {
    // single-pass final-checkpoint extraction: a lexicographic struct
    // max keyed by n_seen (unique per type) — a groupBy-max-then-join
    // would execute the whole mSPRT pipeline twice (measured 2×).
    bhFdrOn(msprt(s, dir).groupBy("event_type")
      .agg(max(struct(col("n_seen"), col("p_always_valid"))).as("f"))
      .select(col("event_type"), col("f.p_always_valid").as("p")))
  }

  /** [[bhFdr]] over an explicit (`event_type`, `p`) frame — the
    * testable core (the [[gmmEmOn]] convention), so specs can feed
    * p-vectors that actually cross the α·j/m boundary. The m-row
    * input fans out into four subplans (count, rank self-join,
    * step-up, threshold scan); `localCheckpoint` materializes the
    * tiny p table once so the upstream pipeline — a full mSPRT run
    * when called from [[bhFdr]] — executes once, not four times. */
  def bhFdrOn(fin0: DataFrame): DataFrame = {
    val fin = fin0.localCheckpoint()
    val mC = fin.agg(count(lit(1)).as("m"))
    val ranked = fin.join(
        fin.select(col("event_type").as("et2"), col("p").as("p2")),
        col("p2") < col("p") ||
          (col("p2") === col("p") && col("et2") <= col("event_type")))
      .groupBy("event_type", "p").agg(count(lit(1)).as("rnk"))
    val stepped = ranked.join(
        ranked.select(col("rnk").as("rnk2"), col("p").as("p2")),
        col("rnk2") >= col("rnk"))
      .crossJoin(broadcast(mC))
      .groupBy(col("event_type"), col("p"), col("rnk"))
      .agg(min(least(col("p2") * col("m").cast("double")
        / col("rnk2").cast("double"), lit(1.0))).as("q"))
    val kRow = ranked.crossJoin(broadcast(mC))
      .where(col("p") * col("m").cast("double")
        <= col("rnk").cast("double") * lit(0.05))
      .agg(max(col("rnk")).as("k"))
    stepped.crossJoin(broadcast(kRow))
      .select(col("event_type"), femit(col("p")).as("p"), col("rnk"),
        femit(col("q")).as("q_value"),
        (col("rnk") <= coalesce(col("k"), lit(0L))).as("reject"))
      .orderBy("rnk", "event_type")
  }

  def gmmEm(s: SparkSession, dir: String): DataFrame =
    gmmEmOn(events(s, dir).select(col("value").as("x")))

  /** [[gmmEm]] over an explicit 1-column (`x`) frame — the testable core.
    * Numeric edges are floored (mirrored in the oracle, ADVICE r8):
    * variances at 1e-12 (zero-variance input would divide the E-step by
    * 0), component weights at 1e-300 in M-step divisions (a fully
    * collapsed component would emit NaN means), and the n=1 init
    * variance pins to the floor instead of dividing by n−1 = 0. */
  def gmmEmOn(xs0: DataFrame): DataFrame = {
    def floorVar(c: Column): Column = greatest(c, lit(1e-12))
    def floorW(c: Column): Column = greatest(c, lit(1e-300))
    // r15: the sample frame feeds the init moments plus every E-step —
    // un-checkpointed, the nested params lineage re-ran the upstream
    // scan 4x (the bhFdrOn move; values unchanged, dsum throughout).
    val xs = xs0.localCheckpoint()
    val base = xs.agg(
      count(lit(1)).as("n"), min(col("x")).as("mn"), max(col("x")).as("mx"),
      dsum(col("x")).as("sx"), dsum(col("x") * col("x")).as("sxx"))
    val initVar = floorVar(
      when(col("n") > 1L, (col("sxx") - col("sx") * col("sx") / col("n"))
        / (col("n") - 1).cast("double")).otherwise(lit(0.0)))
    var params = base.select(
      col("n"),
      (col("mn") + (col("mx") - col("mn")) / 4.0).as("mu1"),
      (col("mn") + (col("mx") - col("mn")) * 3.0 / 4.0).as("mu2"),
      initVar.as("s1"),
      initVar.as("s2"),
      lit(0.5).as("w1"), lit(0.5).as("w2"))
    for (_ <- 1 to 3) {
      val n1 = col("w1") / sqrt(col("s1")) *
        exp(-((col("x") - col("mu1")) * (col("x") - col("mu1")))
          / (lit(2.0) * col("s1")))
      val n2 = col("w2") / sqrt(col("s2")) *
        exp(-((col("x") - col("mu2")) * (col("x") - col("mu2")))
          / (lit(2.0) * col("s2")))
      val e = xs.crossJoin(broadcast(params))
        .select(col("x"), col("n"),
          (n2 / (n1 + n2 + lit(1e-300))).as("r2"))
      val m = e.agg(max(col("n")).as("n"),
        dsum(lit(1.0) - col("r2")).as("bw1"), dsum(col("r2")).as("bw2"),
        dsum((lit(1.0) - col("r2")) * col("x")).as("sx1"),
        dsum(col("r2") * col("x")).as("sx2"),
        dsum((lit(1.0) - col("r2")) * col("x") * col("x")).as("sq1"),
        dsum(col("r2") * col("x") * col("x")).as("sq2"))
      val mu1e = col("sx1") / floorW(col("bw1"))
      val mu2e = col("sx2") / floorW(col("bw2"))
      params = m.select(col("n"),
        mu1e.as("mu1"),
        mu2e.as("mu2"),
        floorVar(col("sq1") / floorW(col("bw1")) - mu1e * mu1e).as("s1"),
        floorVar(col("sq2") / floorW(col("bw2")) - mu2e * mu2e).as("s2"),
        (col("bw1") / col("n").cast("double")).as("w1"),
        (col("bw2") / col("n").cast("double")).as("w2"))
    }
    params.select(col("n"),
      femit(col("w1")).as("w1"), femit(col("mu1")).as("mu1"),
      femit(col("s1")).as("s1"),
      femit(col("w2")).as("w2"), femit(col("mu2")).as("mu2"),
      femit(col("s2")).as("s2"))
  }

  // Partition-level dataset manifest — the reproducibility primitive a
  // 100 TB pipeline publishes with every snapshot (the content-hash
  // half of a Delta/Iceberg-style manifest, computed from the ROWS so
  // replication and migration can be audited end-to-end): per logical
  // partition, row count, an ORDERLESS content fingerprint (exact sum
  // of per-row FNV-1a hashes over a canonical integer rendering — any
  // lost/duplicated/corrupted row changes the sum; orderless because a
  // distributed rewrite legitimately permutes rows), and the key
  // bounds. Floats enter the canonical string as integer micro-units,
  // so the rendering is byte-identical across engines; hash sums stay
  // < 2^53 (600k rows × 2^32) and ride exact BIGINTs.
  //
  // Scale: one codegen'd per-row projection + one hash-agg (map-side
  // partial) — the same cost as a count(*), which is why manifests can
  // run on every publish.
  def datasetManifest(s: SparkSession, dir: String): DataFrame = {
    val seed = graft.functions.Fnv1a32.Seed
    Tables.read(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"),
        expr("concat_ws('|', CAST(l_orderkey AS STRING), " +
          "CAST(l_linenumber AS STRING), " +
          "CAST(CAST(round(l_quantity * 100) AS BIGINT) AS STRING))").as("c"))
      .select(col("l_returnflag"), col("l_orderkey"),
        expr(s"fnv1a32(c, ${seed}L)").as("h"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("content_hash"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
      .orderBy("l_returnflag")
  }

  // Split conformal prediction intervals (Vovk et al., "Algorithmic
  // Learning in a Random World", 2005; the distribution-free coverage
  // guarantee production scorers ship): calibration half (even
  // user_id) fits the trivial per-type mean predictor and takes
  // qhat = the ⌈(n+1)(1−α)⌉-th smallest |residual| (α=0.1, an exact
  // order statistic — tie-insensitive: the k-th smallest VALUE is
  // well-defined whatever the tie order); the disjoint test half then
  // reports empirical coverage of mean±qhat, which the theorem lower-
  // bounds by 1−α in expectation. Residuals are IEEE-identical across
  // engines (value − an identically-computed mean), so the order
  // statistic and every coverage comparison are bit-deterministic.
  // Plan: two scans (calib stats+quantile, test coverage), per-type
  // frames broadcast back — no driver scalars.
  def conformal(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("event_type"),
      col("value"))
    val calib = ev.where(pmod(col("user_id"), lit(2L)) === 0L)
    val mu = calib.groupBy("event_type")
      .agg((dsum(col("value")) / count(lit(1))).as("mu"),
        count(lit(1)).as("n_calib"))
    val res = calib.join(broadcast(mu), "event_type")
      .select(col("event_type"), abs(col("value") - col("mu")).as("r"))
    val byR = Window.partitionBy("event_type").orderBy(col("r").asc)
    val qhat = res
      .withColumn("rn", row_number().over(byR))
      .join(broadcast(mu), "event_type")
      .where(col("rn") ===
        ceil((col("n_calib") + 1L).cast("double") * 0.9).cast("long"))
      .select(col("event_type"), col("r").as("qhat"))
    val test = ev.where(pmod(col("user_id"), lit(2L)) === 1L)
    test.join(broadcast(mu), "event_type").join(broadcast(qhat), "event_type")
      .groupBy("event_type")
      .agg(max(col("n_calib")).as("n_calib"),
        count(lit(1)).as("n_test"),
        femit(max(col("qhat"))).as("qhat"),
        femit(sum(when(abs(col("value") - col("mu")) <= col("qhat"), 1L)
            .otherwise(0L)).cast("double") / count(lit(1)).cast("double"))
          .as("coverage"))
      .orderBy("event_type")
  }

  // l-diversity audit (Machanavajjhala et al., ICDE 2006 — the
  // follow-up to q184's k-anonymity): a QI class can be k-anonymous
  // yet leak the sensitive attribute if every member shares one value.
  // QI = (nation, market segment); sensitive = account-balance
  // thousand-bucket. Per class: size, distinct sensitive values l,
  // and whether it meets l>=3 — the generalization worklist a privacy
  // release runs after the k-audit. One hash-agg with an exact
  // count(distinct) (two-phase partial agg under the hood); integer
  // arithmetic end to end.
  def lDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal").cast("double") / 1000.0).cast("long").as("bal_kb"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("bal_kb")).as("l"),
        (countDistinct(col("bal_kb")) >= 3L).as("diverse"))
      .orderBy("c_nationkey", "c_mktsegment")

  // First-significant-digit distribution vs Benford's law (Benford
  // 1938; Nigrini's fraud-audit staple) over order totals. The digit
  // is extracted EXACTLY: price → integer cents via round(price·100)
  // (synthetic totals are 2-decimal, q178's pattern) → first character
  // of the integer's decimal rendering — no log10 on data, so no libm
  // variance can leak in. Expected Benford mass log10(1+1/d) enters as the same
  // 12-digit literal in both engines. Per-digit chi-square terms
  // n·(p_obs−p_exp)²/p_exp are single-expression IEEE; the TOTAL row's
  // statistic crosses digits through the DECIMAL dsum route. One
  // integer hash-agg over the scan, 9+1 output rows — the 100 TB plan
  // is scan-shaped with a 9-row reduce.
  def benford(s: SparkSession, dir: String): DataFrame = {
    val benfordP = Seq( // round(log10(1 + 1/d), 12), d = 1..9
      1 -> 0.301029995664, 2 -> 0.176091259056, 3 -> 0.124938736608,
      4 -> 0.096910013008, 5 -> 0.079181246048, 6 -> 0.066946789631,
      7 -> 0.057991946978, 8 -> 0.051152522447, 9 -> 0.045757490561)
    val expected = benfordP
      .map { case (d, p) => struct(lit(d.toLong).as("digit"), lit(p).as("p_exp")) }
    val digits = Tables.read(s, dir, "orders")
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("grand"))
    val perDigit = digits
      .join(s.range(1).select(explode(array(expected: _*)).as("e"))
        .select(col("e.digit"), col("e.p_exp").as("p_raw")),
        Seq("digit"), "right")
      .crossJoin(broadcast(total))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        femit(coalesce(col("n"), lit(0L)).cast("double")
          / col("grand").cast("double")).as("p_obs"),
        col("p_raw"),
        (coalesce(col("n"), lit(0L)).cast("double")
          - col("grand").cast("double") * col("p_raw")).as("dev"),
        col("grand"))
      .withColumn("term", col("dev") * col("dev")
        / (col("grand").cast("double") * col("p_raw")))
    perDigit.select(col("digit"), col("n"), col("p_obs"),
        femit(col("p_raw")).as("p_exp"), femit(col("term")).as("chi2"))
      .unionByName(perDigit.groupBy()
        .agg(max(col("grand")).as("n"), femit(dsum(col("term"))).as("chi2"))
        .select(lit(-1L).as("digit"), col("n"),
          lit(null).cast("double").as("p_obs"),
          lit(null).cast("double").as("p_exp"), col("chi2")))
      .orderBy("digit")
  }

  // Pearson chi-square test of independence (Pearson 1900) on the
  // event_type × day-of-week contingency table — "is traffic mix
  // stable across the week", the first question behind any seasonality
  // claim (q197). Observed counts are one integer hash-agg; expected
  // E = row_total·col_total/grand and the (O−E)²/E terms are window
  // math over the ≤|types|·7-row table (tiny at any data scale — the
  // heavy lifting is the first agg, which partial-aggregates
  // map-side). Per-type rows sum their 7 IEEE terms through DECIMAL
  // dsum; the TOTAL row carries the full statistic and the dof.
  def chiSquareIndependence(s: SparkSession, dir: String): DataFrame = {
    val o = events(s, dir)
      .select(col("event_type"),
        pmod(expr("unix_micros(ts) div 86400000000"), lit(7L)).as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val withE = o
      .withColumn("row_t", sum(col("o")).over(Window.partitionBy("event_type")))
      .withColumn("col_t", sum(col("o")).over(Window.partitionBy("dow")))
      .withColumn("grand", sum(col("o")).over(Window.partitionBy()))
      .withColumn("e", col("row_t").cast("double") * col("col_t").cast("double")
        / col("grand").cast("double"))
      .withColumn("term", (col("o").cast("double") - col("e"))
        * (col("o").cast("double") - col("e")) / col("e"))
    val perType = withE.groupBy("event_type")
      .agg(sum(col("o")).as("n"), femit(dsum(col("term"))).as("chi2"))
    val total = withE.groupBy()
      .agg(sum(col("o")).as("n"), femit(dsum(col("term"))).as("chi2"),
        ((countDistinct(col("event_type")) - 1L)
          * (countDistinct(col("dow")) - 1L)).as("dof"))
      .select(lit("TOTAL").as("event_type"), col("n"), col("chi2"), col("dof"))
    perType.withColumn("dof", lit(null).cast("long"))
      .unionByName(total).orderBy("event_type")
  }

  // Two-sample Kolmogorov–Smirnov statistic (Smirnov 1939) per event
  // type between the even- and odd-user halves — the classic
  // distribution-drift test complementing q181's binned PSI: KS is
  // binning-free, sensitive anywhere on the CDF. Exact, not
  // approximated: collapse to distinct values with per-sample counts
  // (one hash-agg), one ordered window per type for the two integer
  // ECDF numerators, sup|F1−F2| as a max over IEEE quotients of
  // integers — every comparison bit-deterministic in both engines. At
  // 100 TB the distinct-value table is the compressed intermediate;
  // the window range-partitions by (type, value range) like q134.
  def ksTest(s: SparkSession, dir: String): DataFrame = {
    val pts = events(s, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"), col("value"),
        pmod(col("user_id"), lit(2L)).as("grp"))
      .groupBy("event_type", "value")
      .agg(sum(when(col("grp") === 0L, 1L).otherwise(0L)).as("a"),
        sum(when(col("grp") === 1L, 1L).otherwise(0L)).as("b"))
    val byType = Window.partitionBy("event_type")
    val cum = byType.orderBy(col("value").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts
      .withColumn("ca", sum(col("a")).over(cum))
      .withColumn("cb", sum(col("b")).over(cum))
      .withColumn("na", sum(col("a")).over(byType))
      .withColumn("nb", sum(col("b")).over(byType))
      .withColumn("d", abs(col("ca").cast("double") / col("na").cast("double")
        - col("cb").cast("double") / col("nb").cast("double")))
      .groupBy("event_type")
      .agg(max(col("na")).as("n1"), max(col("nb")).as("n2"),
        count(lit(1)).as("n_points"), femit(max(col("d"))).as("ks"))
      .orderBy("event_type")
  }

  // Mann–Whitney U rank-sum test (Mann & Whitney 1947) per event type
  // between the even/odd-user halves — the rank-based location-shift
  // companion to q189's KS (KS sees any CDF gap; U targets stochastic
  // dominance, robust to outliers where q150's t-test is not). Exact
  // tie handling: collapse to distinct values (one hash-agg), average
  // ranks from integer prior-counts, R₁ as a DECIMAL dsum of exact
  // half-integers, and the tie-corrected normal approximation
  // z = (U₁−μ)/σ with σ from integer tie sums — every float op a
  // fixed-order expression on integers, bit-identical across engines.
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val pts = events(s, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"), col("value"),
        pmod(col("user_id"), lit(2L)).as("grp"))
      .groupBy("event_type", "value")
      .agg(sum(when(col("grp") === 0L, 1L).otherwise(0L)).as("a"),
        sum(when(col("grp") === 1L, 1L).otherwise(0L)).as("b"))
      .withColumn("t", col("a") + col("b"))
    val prior = Window.partitionBy("event_type").orderBy(col("value").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = pts
      .withColumn("before", coalesce(sum(col("t")).over(prior), lit(0L)))
      .withColumn("avgrank",
        col("before").cast("double") + (col("t").cast("double") + 1.0) / 2.0)
    ranked.groupBy("event_type")
      .agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"),
        dsum(col("a").cast("double") * col("avgrank")).as("r1"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      .select(col("event_type"), col("n1"), col("n2"),
        femit(col("r1")).as("r1"),
        femit(col("r1") - col("n1").cast("double")
          * (col("n1").cast("double") + 1.0) / 2.0).as("u1"),
        femit(((col("r1") - col("n1").cast("double")
            * (col("n1").cast("double") + 1.0) / 2.0)
          - col("n1").cast("double") * col("n2").cast("double") / 2.0)
          / sqrt(col("n1").cast("double") * col("n2").cast("double") / 12.0
            * (((col("n1") + col("n2")).cast("double") + 1.0)
              - col("ties").cast("double")
                / ((col("n1") + col("n2")).cast("double")
                  * ((col("n1") + col("n2")).cast("double") - 1.0)))))
          .as("z"))
      .orderBy("event_type")
  }

  // Kaplan–Meier survival estimator (Kaplan & Meier, JASA 1958) over
  // user lifetimes (first→last event, day grain), right-censored for
  // users still active within 2 days of the corpus horizon — the
  // churn-analysis curve every retention team reads next to q128's
  // cohort grid. The per-user reduce is the only heavy stage; the
  // grouped life table is ≤ span-in-days rows, so the global ordered
  // window is trivially small at any corpus scale. S(t) accumulates as
  // exp(Σ ln((n−d)/n)) with the ln terms summed through the DECIMAL
  // window route (exact, order-proof; ln/exp bit-parity has q154/q181
  // precedent); an all-remaining-die step (factor 0) is flagged and
  // pinned to exactly 0 rather than sent through ln.
  def kaplanMeier(s: SparkSession, dir: String): DataFrame = {
    // horizon = broadcast 1-row agg (r13 sweep: the former
    // max().over(empty partition) pushed the user-grain table through
    // one task just to carry a scalar)
    val perUser = events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .groupBy("user_id")
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    val life = perUser
      .crossJoin(broadcast(perUser.agg(max(col("last_us")).as("h"))))
      .select(expr("(last_us - first_us) div 86400000000").as("lifetime_day"),
        (col("h") - col("last_us") < 2L * 86400000000L).as("censored"))
    val table = life.groupBy("lifetime_day")
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
    val ordered = Window.orderBy(col("lifetime_day").asc)
    val prior = ordered.rowsBetween(Window.unboundedPreceding, -1)
    val upTo = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table
      .withColumn("n_risk",
        sum(col("d") + col("c")).over(Window.partitionBy())
          - coalesce(sum(col("d") + col("c")).over(prior), lit(0L)))
      .withColumn("lnterm",
        when(col("d") > 0L && col("n_risk") > col("d"),
          log((col("n_risk") - col("d")).cast("double")
            / col("n_risk").cast("double"))).otherwise(lit(0.0)))
      .withColumn("dead",
        max(when(col("n_risk") === col("d"), 1L).otherwise(0L)).over(upTo))
      .withColumn("surv",
        when(col("dead") === 1L, lit(0.0)).otherwise(
          femit(exp(sum(col("lnterm").cast("decimal(38,12)")).over(upTo)
            .cast("double")))))
      .select(col("lifetime_day"), col("n_risk"), col("d"), col("c"), col("surv"))
      .orderBy("lifetime_day")
  }

  /** Shared two-group survival risk table for [[logRank]] (q394) and
    * [[coxPh]] (q401): q191's lifetimes/censoring with q377's
    * first-event-click grouping, reduced to event-day cells carrying
    * death counts and suffix at-risk counts per group —
    * (day, d1, d0, dj, n1, n0, nj, tot1, tot0), event days only
    * (dj &gt; 0). Day-grain throughout: the unpartitioned prefix
    * windows run over O(days) rows, never users. Returns
    * (riskCells, groupTotals) — the 1-row totals ride separately so
    * callers still emit group sizes when NO death days exist (the
    * all-censored case: sf0.001's horizon covers every user). */
  private def survivalRiskCells(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val perUser = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"))
      .withColumn("rn", row_number().over(w))
      .groupBy("user_id")
      .agg(max(when(col("rn") === 1 && col("event_type") === "click", 1L)
          .otherwise(0L)).as("g"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
    val hz = perUser.agg(max(col("last_us")).as("h"))
    val life = perUser.crossJoin(broadcast(hz))
      .select(col("g"),
        expr("(last_us - first_us) div 86400000000").as("day"),
        (col("h") - col("last_us") < 2L * 86400000000L).as("censored"))
    val cells = life.groupBy("day")
      .agg(sum(when(!col("censored") && col("g") === 1L, 1L).otherwise(0L))
          .as("d1"),
        sum(when(!col("censored") && col("g") === 0L, 1L).otherwise(0L))
          .as("d0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("t1"),
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("t0"))
    val tot = cells.agg(sum(col("t1")).as("tot1"), sum(col("t0")).as("tot0"))
    val prior = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = cells.crossJoin(broadcast(tot))
      .withColumn("n1", col("tot1") - coalesce(sum(col("t1")).over(prior), lit(0L)))
      .withColumn("n0", col("tot0") - coalesce(sum(col("t0")).over(prior), lit(0L)))
      .withColumn("dj", col("d1") + col("d0"))
      .withColumn("nj", col("n1") + col("n0"))
      .where(col("dj") > 0L)
    (risk, tot)
  }

  /** Two-group log-rank (Mantel–Cox) test — the hypothesis-test
    * companion to [[kaplanMeier]] (q191 draws the curves; this says
    * whether they differ: Mantel 1966 / Peto &amp; Peto 1972, THE
    * standard censored-survival comparison): groups are q377's
    * first-event-click proxy, lifetimes/censoring are exactly q191's
    * (last-2-days horizon rule). At each day with ≥1 death the 2×2
    * table contributes O1 += d1, E1 += d·n1/n and the hypergeometric
    * variance V += d·(n1/n)·(n0/n)·(n−d)/(n−1); the statistic is
    * χ² = (O1−E1)²/V (1 df).
    *
    * Determinism: every count is an exact long off day-grain suffix
    * sums; E and V accumulate via dsum over fixed per-day IEEE
    * chains; single-at-risk days (n = 1) contribute zero variance by
    * the standard convention; femit at emission.
    *
    * Scale: one user-grain aggregate reduces the stream to per-user
    * (group, day, censored); everything after is day-grain (the q194
    * class — the unpartitioned prefix windows run over O(days) rows,
    * never users), with the two 1-row totals broadcast. */
  def logRank(s: SparkSession, dir: String): DataFrame = {
    val (risk, tot) = survivalRiskCells(s, dir)
    risk.agg(sum(col("d1")).as("o1"), sum(col("d0")).as("o0"),
        dsum(col("dj").cast("double") * col("n1").cast("double")
          / col("nj").cast("double")).as("e1"),
        dsum(when(col("nj") > 1L,
          col("dj").cast("double")
            * (col("n1").cast("double") / col("nj").cast("double"))
            * (col("n0").cast("double") / col("nj").cast("double"))
            * (col("nj") - col("dj")).cast("double")
            / (col("nj") - 1L).cast("double"))
          .otherwise(lit(0.0))).as("v"))
      .crossJoin(broadcast(tot))
      .select(col("tot1").as("n_g1"), col("tot0").as("n_g0"),
        col("o1"), col("o0"),
        femit(col("e1")).as("e1"), femit(col("v")).as("var_lr"),
        femit((col("o1").cast("double") - col("e1"))
          * (col("o1").cast("double") - col("e1"))
          / nullif(col("v"), lit(0.0))).as("chi2"))
  }

  /** Cox proportional-hazards fit for the single binary group
    * covariate (Cox 1972; Breslow tie handling — the effect-SIZE
    * companion to [[logRank]]'s yes/no test, whose score test at
    * β = 0 IS the log-rank statistic): maximize the partial
    * likelihood by 8 Newton steps on the same day-grain risk table,
    * U(β) = Σ_j [d1_j − d_j·p_j], I(β) = Σ_j d_j·p_j(1−p_j) with
    * p_j = n1_j·e^β / (n1_j·e^β + n0_j); report β̂, the hazard ratio
    * e^β̂, SE = 1/√I(β̂) and the Wald z.
    *
    * Determinism: the iteration count is FIXED (8 — far past 1e-12
    * convergence on any realistic table, and fixed so the oracle
    * replays the identical float trajectory rather than a
    * tolerance-dependent one); each step is day-grain dsum chains and
    * one division; exp is the q58/q79 libm class.
    *
    * Scale: the per-step cost is one aggregate over O(event days)
    * cells — the q194 class; 8 steps = 8 tiny aggregates chained off
    * one shared risk table. */
  def coxPh(s: SparkSession, dir: String, steps: Int = 8): DataFrame = {
    // With zero death days (the all-censored sf0.001 case) every
    // iteration and the final aggregate are empty on BOTH engines —
    // the row count is the signal, exactly like the oracle.
    val (risk0, _) = survivalRiskCells(s, dir)
    val risk = risk0.localCheckpoint() // 8 consumers
    val n1d = col("n1").cast("double"); val n0d = col("n0").cast("double")
    var beta = s.range(1).select(lit(0.0).as("beta"))
    for (_ <- 1 to steps) {
      val y = risk.crossJoin(broadcast(beta))
        .withColumn("pj",
          n1d * exp(col("beta")) / (n1d * exp(col("beta")) + n0d))
      // step clamp to ±10: under complete separation the MLE is ±∞
      // and unclamped Newton marches beta into exp overflow (NaN pj);
      // the clamp keeps the trajectory finite and IDENTICAL on both
      // engines, and is inactive whenever a finite MLE exists
      beta = y.groupBy("beta")
        .agg(dsum(col("d1").cast("double")
            - col("dj").cast("double") * col("pj")).as("usum"),
          dsum(col("dj").cast("double") * col("pj")
            * (lit(1.0) - col("pj"))).as("isum"))
        .select(greatest(least(
          col("beta") + col("usum") / nullif(col("isum"), lit(0.0)),
          lit(10.0)), lit(-10.0)).as("beta"))
    }
    val fin = risk.crossJoin(broadcast(beta))
      .withColumn("pj",
        n1d * exp(col("beta")) / (n1d * exp(col("beta")) + n0d))
      .groupBy("beta")
      .agg(min(col("tot1")).as("n_g1"), min(col("tot0")).as("n_g0"),
        sum(col("dj")).as("n_deaths"),
        dsum(col("dj").cast("double") * col("pj")
          * (lit(1.0) - col("pj"))).as("isum"))
    fin.select(col("n_g1"), col("n_g0"), col("n_deaths"),
      femit(col("beta")).as("beta"),
      femit(exp(col("beta"))).as("hazard_ratio"),
      femit(lit(1.0) / sqrt(nullif(col("isum"), lit(0.0)))).as("se"),
      femit(col("beta") * sqrt(nullif(col("isum"), lit(0.0)))).as("wald_z"))
  }

  /** Brier score with the Murphy (1973) three-way decomposition —
    * the forecast-quality companion to q180's reliability diagram
    * and q166's discrimination-only AUC: for the q382 logistic score
    * binned to 20 equal-width cells against the q395 heavy-purchaser
    * label, Brier = mean (p − o)², REL = Σ n_k(p̄_k − ō_k)²/N (how
    * far the forecast sits from its bin's truth), RES =
    * Σ n_k(ō_k − ō)²/N (how much the bins separate outcomes), UNC =
    * ō(1 − ō); the identity Brier = REL − RES + UNC holds exactly
    * when REL/RES use the binned forecast, so the emitted
    * brier_binned pins it (spec-checked).
    *
    * Determinism: bins are exact integer floors of the score; all
    * means/sums ride dsum in fixed chains; femit at emission.
    *
    * Scale: one user-grain aggregate → one 20-row bin aggregate →
    * 1-row algebra. */
  def brierDecomposition(s: SparkSession, dir: String): DataFrame = {
    val per = events(s, dir)
      .where(col("value").isNotNull)
      .groupBy("user_id")
      .agg(when(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)) * 4L >= count(lit(1)), 1L).otherwise(0L)
          .as("o"),
        count(lit(1)).as("n_events"), dsum(col("value")).as("sv"))
      .select(col("o"),
        (lit(1.0) / (lit(1.0) + exp(-(lit(0.1)
          + lit(0.2) * log(col("n_events").cast("double"))
          - lit(0.3) * (col("sv") / col("n_events").cast("double")
            / 100.0))))).as("p"))
      .withColumn("bin", least(floor(col("p") * 20.0).cast("long"), lit(19L)))
    val bins = per.groupBy("bin")
      .agg(count(lit(1)).as("nk"), dsum(col("p")).as("sp"),
        sum(col("o")).as("so"),
        dsum((col("p") - col("o").cast("double"))
          * (col("p") - col("o").cast("double"))).as("sq"))
      .localCheckpoint() // 20 rows; totals + the decomposition pass
    val tot = bins.agg(sum(col("nk")).as("n"),
      sum(col("so")).as("sot"), dsum(col("sq")).as("sqt"))
    val obar = col("sot").cast("double") / col("n").cast("double")
    val dec = bins.crossJoin(broadcast(tot))
      .withColumn("pbar", col("sp") / col("nk").cast("double"))
      .withColumn("okbar", col("so").cast("double") / col("nk").cast("double"))
      .groupBy("n", "sot", "sqt")
      .agg(dsum(col("nk").cast("double")
          * (col("pbar") - col("okbar")) * (col("pbar") - col("okbar")))
          .as("rel_n"),
        dsum(col("nk").cast("double")
          * (col("okbar") - obar) * (col("okbar") - obar)).as("res_n"))
    dec.select(col("n").as("n_users"), col("sot").as("n_pos"),
      femit(col("sqt") / col("n").cast("double")).as("brier"),
      femit(col("rel_n") / col("n").cast("double")).as("reliability"),
      femit(col("res_n") / col("n").cast("double")).as("resolution"),
      femit(obar * (lit(1.0) - obar)).as("uncertainty"),
      femit(col("rel_n") / col("n").cast("double")
        - col("res_n") / col("n").cast("double")
        + obar * (lit(1.0) - obar)).as("brier_binned"))
  }

  /** Exact TWO-PHASE global ntile(k) over the customer-grain table
    * (the q166 range-cell discipline): rows land in range cells of a
    * MONOTONE (possibly lossy — a double floor is fine, monotonicity
    * is all that's needed) function of the ordering key, the
    * within-cell rank is a cell-local row_number (parallel across
    * cells), cross-cell offsets come from an O(cells) cell-totals
    * table, and rank→tile is the closed-form ntile arithmetic:
    * n = k·q + r ⇒ tiles 1..r take q+1 rows, r+1..k take q — exactly
    * SQL ntile, reproduced bit-for-bit from (rank, n) with pure
    * integer ops. `asc=false` negates the cell id so cell-ascending
    * order equals key-descending order; the within-cell sort uses the
    * EXACT key (the cell function may collapse neighbors). */
  private def ntile2p(per: DataFrame, key: String, cellOf: Column,
                      asc: Boolean, k: Int, out: String,
                      tie: String = "o_custkey"): DataFrame = {
    val celled = per.select(col(tie), col(key))
      .withColumn("cell",
        (if (asc) cellOf.cast("long") else -cellOf.cast("long")))
    val inCell = Window.partitionBy("cell").orderBy(
      if (asc) col(key).asc else col(key).desc, col(tie).asc)
    val preCell = Window.orderBy(col("cell").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cellTotals = celled.groupBy("cell").agg(count(lit(1)).as("c_n"))
      .withColumn("off", coalesce(sum(col("c_n")).over(preCell), lit(0L)))
      .withColumn("n", sum(col("c_n")).over(Window.partitionBy()))
      .select("cell", "off", "n")
    celled
      .withColumn("rn_in", row_number().over(inCell).cast("long"))
      .join(broadcast(cellTotals), "cell")
      .withColumn("rn", col("off") + col("rn_in"))
      .select(col(tie),
        expr(s"""CASE WHEN rn <= (n div $k + 1) * (n % $k)
          THEN (rn - 1) div (n div $k + 1) + 1
          ELSE n % $k
            + (rn - 1 - (n % $k) * (n div $k + 1)) div greatest(n div $k, 1)
            + 1 END""").cast("long").as(out))
  }

  // RFM segmentation (Hughes 1994 — the marketing-ops workhorse):
  // per-customer recency (days since last order vs the corpus max),
  // frequency, monetary (DECIMAL-route sum, so the quintile ORDERING
  // key is bit-identical across engines); exact ntile(5) per axis with
  // a custkey tiebreak (total order ⇒ deterministic tile edges), then
  // one hash-agg per (r,f,m) cell with DECIMAL-route mean spend. The
  // per-customer reduce partial-aggregates map-side.
  //
  // The three quintiles run through [[ntile2p]] — the two-phase
  // range-cell form (VERDICT r10 item 1: an unpartitioned ntile
  // window is ONE task holding every customer, not a range-
  // partitioned sort, which is what the previous comment here wrongly
  // claimed). The recency anchor (corpus max day) is a 1-row
  // broadcast combine, not a global window. The oracle keeps the
  // single-window ntile SQL — the distributed form must reproduce it
  // exactly. PlanSpec pins the no-customer-grain-global-window shape.
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.read(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(max(expr("unix_timestamp(o_orderdate) div 86400")).as("last_day"),
        count(lit(1)).as("freq"),
        dsum(col("o_totalprice")).as("mon"))
      .localCheckpoint() // feeds the anchor + three rank passes + mon
    val anchor = base.agg(max(col("last_day")).as("max_day"))
    val per = base.crossJoin(broadcast(anchor))
      .withColumn("rec_days", col("max_day") - col("last_day"))
    val seg = per.select("o_custkey", "mon")
      .join(ntile2p(per, "rec_days", expr("rec_days div 16"),
        asc = true, 5, "r_q"), "o_custkey")
      .join(ntile2p(per, "freq", expr("freq div 4"),
        asc = false, 5, "f_q"), "o_custkey")
      .join(ntile2p(per, "mon", floor(col("mon").cast("double") / 1e5),
        asc = false, 5, "m_q"), "o_custkey")
    seg.groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_customers"),
        femit(dsum(col("mon")) / count(lit(1)).cast("double"))
          .as("avg_monetary"))
      .orderBy("r_q", "f_q", "m_q")
  }

  // Day-of-week seasonal index per event type — the multiplicative
  // seasonality profile (idx > 1 ⇒ that weekday over-indexes for the
  // type) that turns q188's "is the mix non-uniform?" verdict into
  // per-cell magnitudes. idx = (n_td/days_dow)/(n_t/days_total): every
  // input an exact integer count (cell counts, distinct active days
  // per weekday), every division a fixed-order IEEE op. Two integer
  // hash-aggs (cells, distinct days) + windows over the tiny cell
  // table; calendar-free epoch-day arithmetic (q128's discipline).
  def seasonalIndex(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val dowDays = e.select(col("day"), col("dow")).distinct()
      .groupBy("dow").agg(count(lit(1)).as("days_dow"))
      .withColumn("days_total", sum(col("days_dow")).over(Window.partitionBy()))
    e.groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
      .withColumn("n_type",
        sum(col("n")).over(Window.partitionBy("event_type")))
      .join(broadcast(dowDays), Seq("dow"))
      .select(col("event_type"), col("dow"), col("n"),
        femit(col("n").cast("double") / col("days_dow").cast("double"))
          .as("daily_avg"),
        femit((col("n").cast("double") / col("days_dow").cast("double"))
          / (col("n_type").cast("double") / col("days_total").cast("double")))
          .as("idx"))
      .orderBy("event_type", "dow")
  }

  // Sample autocorrelation of the daily event-count series at lags
  // 1..7 (Box–Jenkins ACF — the "is there weekly structure?" probe
  // feeding q193): gap-filled day spine (q129's sequence-explode
  // pattern, so missing days count 0 instead of silently shrinking
  // lags), shared overall mean from exact integer sums, lag pairs by
  // equi-joining the spine to itself on day+lag (daily table is tiny
  // after the first agg at any scale), numerator and denominator both
  // through DECIMAL dsum. acf = Σ(x_t−x̄)(x_{t+k}−x̄)/Σ(x_t−x̄)².
  def acfDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val spine = bounds
      .select(explode(sequence(col("mn"), col("mx"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("n"), lit(0L)).as("x"))
    val stats = spine.agg(
      (sum(col("x")).cast("double") / count(lit(1)).cast("double")).as("mean"))
    val dev = spine.crossJoin(broadcast(stats))
      .select(col("day"), (col("x").cast("double") - col("mean")).as("dev"))
    val den = dev.agg(dsum(col("dev") * col("dev")).as("den"))
    val lags = s.range(1, 8).select(col("id").as("lag"))
    dev.crossJoin(broadcast(lags))
      .join(dev.select(col("day").as("day2"), col("dev").as("dev2")),
        col("day2") === col("day") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        dsum(col("dev") * col("dev2")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        femit(col("num") / col("den")).as("acf"))
      .orderBy("lag")
  }

  /** Ljung–Box portmanteau statistic (Ljung &amp; Box 1978 — the
    * joint whiteness test over the first h autocorrelations, the
    * decision companion to q194's per-lag ACF and q408's PACF):
    * Q_h = n(n+2)·Σ_{k≤h} ρ_k²/(n−k), emitted CUMULATIVELY per lag so
    * the gate hashes the whole trajectory. ρ comes from the same
    * unrounded dsum num/den ratios as q408.
    *
    * Determinism: the cumulative Σ is a day...lag-grain (≤ 7 cells)
    * running window whose float terms ride DECIMAL per-term (the
    * q294/q295 window-association rule); n(n+2) is exact integer.
    *
    * Scale: q194's shape exactly — O(days) reduction, 7-way bounded
    * lag self-join, then a 7-row window. */
  def ljungBox(s: SparkSession, dir: String, maxLag: Int = 7)
      : DataFrame = {
    val spine = dailySpine(s, dir)
    val stats = spine.agg(
      (sum(col("x")).cast("double") / count(lit(1)).cast("double"))
        .as("mean"), count(lit(1)).as("n"))
    val dev = spine.crossJoin(broadcast(stats))
      .select(col("day"), col("n"),
        (col("x").cast("double") - col("mean")).as("dev"))
    val den = dev.agg(dsum(col("dev") * col("dev")).as("den"),
      max(col("n")).as("n"))
    val lags = s.range(1, maxLag + 1).select(col("id").as("lag"))
    val ac = dev.crossJoin(broadcast(lags))
      .join(dev.select(col("day").as("day2"), col("dev").as("dev2")),
        col("day2") === col("day") + col("lag"))
      .groupBy("lag").agg(dsum(col("dev") * col("dev2")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n"), (col("num") / col("den")).as("r"))
    val wCum = Window.orderBy(col("lag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ac.withColumn("term",
        col("r") * col("r") / (col("n") - col("lag")).cast("double"))
      .withColumn("cum",
        sum(col("term").cast("decimal(38,12)")).over(wCum).cast("double"))
      .select(col("lag"), femit(col("r")).as("acf"),
        femit(col("n").cast("double") * (col("n") + 2L).cast("double")
          * col("cum")).as("q_stat"))
      .orderBy("lag")
  }

  /** Wald–Wolfowitz runs test for randomness (1940) over the daily
    * event-count series: code each day above/below the series mean,
    * count sign runs, and compare against the exact run-count moments
    * E[R] = 2·n₁n₀/n + 1, Var[R] = 2n₁n₀(2n₁n₀ − n)/(n²(n − 1)) —
    * the nonparametric trend/cluster alarm complementing q170's CUSUM
    * (which needs a target) and q285's changepoint (which localizes).
    *
    * Determinism: signs, run boundaries (one day-grain lag window)
    * and n₁/n₀/R are exact integers; the z-ratio is one fixed chain.
    *
    * Scale: O(days) grain throughout — one hash-agg, one bounded
    * window, a 1-row reduce. */
  def runsTest(s: SparkSession, dir: String): DataFrame = {
    val spine = dailySpine(s, dir)
    val stats = spine.agg(
      (sum(col("x")).cast("double") / count(lit(1)).cast("double"))
        .as("mean"))
    val signed = spine.crossJoin(broadcast(stats))
      .select(col("day"),
        when(col("x").cast("double") > col("mean"), 1L).otherwise(0L)
          .as("sgn"))
    val wDay = Window.orderBy(col("day").asc) // O(days) cells
    val runs = signed
      .withColumn("brk",
        when(lag(col("sgn"), 1).over(wDay).isNull ||
          lag(col("sgn"), 1).over(wDay) =!= col("sgn"), 1L).otherwise(0L))
      .agg(sum(col("brk")).as("r"), sum(col("sgn")).as("n1"),
        sum(lit(1L) - col("sgn")).as("n0"))
    runs
      .withColumn("n", col("n1") + col("n0"))
      .withColumn("er",
        lit(2.0) * col("n1").cast("double") * col("n0").cast("double")
          / col("n").cast("double") + lit(1.0))
      .withColumn("vr",
        lit(2.0) * col("n1").cast("double") * col("n0").cast("double")
          * (lit(2.0) * col("n1").cast("double") * col("n0").cast("double")
            - col("n").cast("double"))
          / (col("n").cast("double") * col("n").cast("double")
            * (col("n").cast("double") - lit(1.0))))
      .select(col("n"), col("n1"), col("n0"), col("r").as("n_runs"),
        femit(col("er")).as("expected_runs"),
        femit(col("vr")).as("var_runs"),
        femit((col("r").cast("double") - col("er"))
          / sqrt(nullif(col("vr"), lit(0.0)))).as("z"))
  }

  /** Nelson–Aalen cumulative-hazard estimator (Nelson 1972, Aalen
    * 1978) with the Breslow survivor exp(−H) — the hazard-side
    * companion to q191's Kaplan–Meier product form, sharing its exact
    * risk table (groups pooled): per death day,
    * ΔH = d_j/n_j, H(t) = Σ_{day≤t} ΔH.
    *
    * Determinism: the cumulative H is a day-grain running window over
    * float increments, so each term rides DECIMAL(38,12) per the
    * q294/q295 window-association rule (Spark accumulates
    * sequentially, DuckDB segment-trees — decimal makes both exact);
    * exp is the libm parity class.
    *
    * Scale: the O(event-days) risk-cell table and one bounded
    * day-grain window — q191's shape exactly. */
  def nelsonAalen(s: SparkSession, dir: String): DataFrame = {
    val (risk, _) = survivalRiskCells(s, dir)
    val wCum = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk
      .withColumn("dh",
        col("dj").cast("double") / col("nj").cast("double"))
      .withColumn("h",
        sum(col("dh").cast("decimal(38,12)")).over(wCum).cast("double"))
      .select(col("day"), col("dj").as("n_deaths"),
        col("nj").as("n_at_risk"),
        femit(col("dh")).as("hazard_increment"),
        femit(col("h")).as("cum_hazard"),
        femit(exp(-col("h"))).as("breslow_survival"))
      .orderBy("day")
  }

  /** Platt scaling (Platt 1999 — the parametric score-calibration map
    * σ(a·s + b) fit by maximum likelihood, the smooth companion to
    * q318's isotonic fit and q180's binned reliability): 8 fixed
    * Newton steps on the two-parameter logistic over the q166
    * score/label population, each step one score-grain aggregate of
    * the gradient g = Σ w·(p − y)·[s, 1] and Hessian
    * H = Σ w·p(1−p)·[s², s; s, 1], solved by the closed-form 2×2
    * inverse (det-guarded). The coxPh fixed-trajectory discipline:
    * the oracle replays the identical float path, so convergence
    * tolerance never enters.
    *
    * Scale: rows reduce ONCE to score grain (cnt, poscnt); each
    * Newton step is an aggregate over O(distinct scores) cells + a
    * 1-row broadcast — 8 tiny chained aggregates. */
  def plattScaling(s: SparkSession, dir: String, steps: Int = 8)
      : DataFrame = {
    val perScore = events(s, dir)
      .where(col("value").isNotNull)
      .select((col("value") / 100.0).as("sc"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy("sc")
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("poscnt"))
      .localCheckpoint() // 8 Newton steps + the final NLL pass
    var ab = s.range(1).select(lit(0.0).as("a"), lit(0.0).as("b"))
    for (_ <- 1 to steps) {
      val y = perScore.crossJoin(broadcast(ab))
        .withColumn("p",
          lit(1.0) / (lit(1.0) + exp(-(col("a") * col("sc") + col("b")))))
      val g = y.groupBy("a", "b").agg(
        dsum((col("cnt").cast("double") * col("p")
          - col("poscnt").cast("double")) * col("sc")).as("ga"),
        dsum(col("cnt").cast("double") * col("p")
          - col("poscnt").cast("double")).as("gb"),
        dsum(col("cnt").cast("double") * col("p") * (lit(1.0) - col("p"))
          * col("sc") * col("sc")).as("haa"),
        dsum(col("cnt").cast("double") * col("p") * (lit(1.0) - col("p"))
          * col("sc")).as("hab"),
        dsum(col("cnt").cast("double") * col("p") * (lit(1.0) - col("p")))
          .as("hbb"))
      val det = col("haa") * col("hbb") - col("hab") * col("hab")
      // step clamp to ±20 — the coxPh separation guard
      ab = g.select(
        greatest(least(col("a")
          - (col("hbb") * col("ga") - col("hab") * col("gb"))
            / nullif(det, lit(0.0)), lit(20.0)), lit(-20.0)).as("a"),
        greatest(least(col("b")
          - (col("haa") * col("gb") - col("hab") * col("ga"))
            / nullif(det, lit(0.0)), lit(20.0)), lit(-20.0)).as("b"))
    }
    // NLL guard (ADVICE r12): the ±20 coefficient clamp does not bound
    // a·sc+b, and once the logistic saturates to exactly 1.0 (or 0.0)
    // in float64 a mis-labeled example drives log() to −Inf — clamp p
    // into [ε, 1−ε] (mirrored in the q420 oracle) so avg_nll stays
    // finite on any score range.
    val fin = perScore.crossJoin(broadcast(ab))
      .withColumn("p",
        least(greatest(
          lit(1.0) / (lit(1.0) + exp(-(col("a") * col("sc") + col("b")))),
          lit(1e-15)), lit(1.0) - lit(1e-15)))
    fin.groupBy("a", "b")
      .agg(sum(col("cnt")).as("n_rows"), sum(col("poscnt")).as("n_pos"),
        dsum(col("poscnt").cast("double") * log(col("p"))
          + (col("cnt") - col("poscnt")).cast("double")
            * log(lit(1.0) - col("p"))).as("ll"))
      .select(col("n_rows"), col("n_pos"),
        femit(col("a")).as("coef_a"), femit(col("b")).as("coef_b"),
        femit(-col("ll") / col("n_rows").cast("double")).as("avg_nll"))
  }

  /** Micro-unit value stream for the q439/q441 sketch family. */
  private[graft] def sketchVals(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("value").isNotNull)
      .select(col("event_id"), round(col("value") * 1000000)
        .cast("long").as("v"))

  /** Every-`step`-th kept order statistic per `cell` with covered-row
    * weights — the q439/q441 shared summary builder. Input must carry
    * (v, event_id, cell). */
  private[graft] def sketchKept(celled: DataFrame, step: Int): DataFrame = {
    val wC = Window.partitionBy("cell")
      .orderBy(col("v").asc, col("event_id").asc)
    celled
      .withColumn("r", row_number().over(wC).cast("long"))
      .withColumn("cn", count(lit(1))
        .over(Window.partitionBy("cell")).cast("long"))
      .where(col("r") % step === 0L || col("r") === col("cn"))
      .withColumn("wt", when(col("r") % step === 0L, lit(step.toLong))
        .otherwise(col("cn") % step))
      .where(col("wt") > 0L) // the tail point is redundant when cn | step
      .select(col("v"), col("event_id"), col("wt"))
  }

  /** Shared epilogue: two-phase cumulative weight over a kept-point
    * summary (value-prefix cells — order-preserving for the
    * nonnegative micro-unit longs), ⌈φN⌉ targets, min-v pick, and the
    * exact count-≤-v rank audit against `vals`. */
  private def sketchQuantiles(s: SparkSession, kept: DataFrame,
                              vals: DataFrame, n: Long, bound: Long)
      : DataFrame = {
    val phis = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    val vcelled = kept.withColumn("cell", expr("v div 16777216"))
    val inCell = Window.partitionBy("cell")
      .orderBy(col("v").asc, col("event_id").asc)
    val cwl = inCell.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val preCell = Window.orderBy(col("cell").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cellTotals = vcelled.groupBy("cell")
      .agg(sum(col("wt")).as("c_w"))
      .withColumn("off_w", coalesce(sum(col("c_w")).over(preCell), lit(0L)))
      .select("cell", "off_w")
    val cum = vcelled
      .withColumn("w_in", sum(col("wt")).over(cwl))
      .join(broadcast(cellTotals), "cell")
      .select(col("v"), (col("off_w") + col("w_in")).as("cumw"))
    val targets = phis.map { p =>
      s.range(1).select(lit(p).as("phi"),
        ceil(lit(p) * lit(n.toDouble)).cast("long").as("target_rank"))
    }.reduce(_ unionAll _)
    val est = cum.crossJoin(broadcast(targets))
      .where(col("cumw") >= col("target_rank"))
      .groupBy("phi", "target_rank").agg(min(col("v")).as("est_v"))
    est.join(vals.select(col("v").as("xv")),
        col("xv") <= col("est_v"), "left")
      .groupBy("phi", "target_rank", "est_v")
      .agg(count(col("xv")).as("exact_rank"))
      .select(col("phi"), lit(n).as("n"), col("target_rank"),
        col("est_v").as("est_value_micro"), col("exact_rank"),
        abs(col("exact_rank") - col("target_rank")).as("rank_err"),
        // exact_rank >= cumw >= target (covered rows sit at or below
        // their kept point); the overshoot is at most the pick's own
        // weight (<= step) plus one straddling segment (< step) per
        // cell — (ncells + 1) * step bounds both sides
        lit(bound).as("err_bound"))
      .orderBy("phi")
  }

  /** MERGEABLE QUANTILE SUMMARY with a certified rank-error bound —
    * the deterministic member of the GK/KLL sketch family (Greenwald
    * &amp; Shanmugasundaram SIGMOD 2001 / Karnin-Lang-Liberty FOCS
    * 2016; the repo's KMV/CMS/theta rows cover distinct-count and
    * frequency — this is the missing ORDER-STATISTICS summary every
    * engine ships for percentile pushdown): each id-range cell keeps
    * every `step`-th local order statistic (plus its tail) with the
    * covered-row weight, the per-cell summaries MERGE by value, and a
    * quantile φ reads off the smallest kept value whose cumulative
    * weight reaches ⌈φN⌉. Each cell's kept points are ≤ step apart in
    * local rank, so the merged estimate's TRUE rank deviates from the
    * target by at most ncells·step — and the operator measures it:
    * every emitted row carries the estimate's EXACT rank (one
    * count-≤-v pass over the data) next to the bound, so the gate
    * certifies the sketch's guarantee, not just its arithmetic.
    *
    * Determinism: values are exact micro-unit longs; weights, ranks,
    * targets (⌈φN⌉ through the shared IEEE multiply) and the min-v
    * pick are all integer.
    *
    * Scale: the in-cell windows are keyed by cell; the merged summary
    * is N/step rows whose prefix sum rides the q300 two-phase
    * value-cell pattern (never a corpus-grain global window); the
    * exact-rank audit is one broadcast join of |φ| values. */
  def quantileSketch(s: SparkSession, dir: String, step: Int = 64)
      : DataFrame = {
    val vals = sketchVals(s, dir)
      .localCheckpoint() // sketch build + the exact-rank audit
    val n = vals.count()
    val celled = vals.withColumn("cell", expr("event_id div 4096"))
    val nCells = celled.select("cell").distinct().count()
    val kept = sketchKept(celled, step)
      .localCheckpoint() // merged summary: N/step rows
    sketchQuantiles(s, kept, vals, n, (nCells + 1) * step)
  }

  /** INCREMENTAL maintenance of the [[quantileSketch]] summary — the
    * q75/q100 store lifecycle applied to order statistics (the reason
    * mergeable summaries exist at all — Agarwal et al., "Mergeable
    * Summaries", PODS 2012: a pipeline summarizes each ingest batch
    * ONCE, persists the kept points, and serves percentiles from the
    * UNION of batch summaries without ever rescanning history): three
    * ingest generations (event_id mod 3) each build their own
    * per-cell summary; the store is their plain union; quantiles come
    * off the merged store through the shared epilogue, and the bound
    * column carries the summed per-generation cell counts — merge
    * adds errors, it never multiplies them. A spec certifies the
    * merged store EQUALS the one-pass composite-cell summary row for
    * row (cell-locality makes merge associative), and the gate row
    * certifies the served quantiles honor the summed bound.
    *
    * Scale: each generation's build touches only that generation
    * (O(batch), never O(history)); the serving pass reads Σ N_g/step
    * summary rows. */
  def quantileStoreMerge(s: SparkSession, dir: String, step: Int = 64)
      : DataFrame = {
    val vals = sketchVals(s, dir)
      .localCheckpoint() // three gen builds + the exact-rank audit
    val n = vals.count()
    val gens = (0 to 2).map { g =>
      val gv = vals.where(col("event_id") % 3L === g.toLong)
        .withColumn("cell", expr(s"event_id div 4096 * 3 + $g"))
      (sketchKept(gv, step).localCheckpoint(), // the persisted batch summary
        gv.select("cell").distinct().count())
    }
    val store = gens.map(_._1).reduce(_ unionAll _)
    val nCells = gens.map(_._2).sum
    val nStoreRows = store.count()
    sketchQuantiles(s, store, vals, n, (nCells + 1) * step)
      .withColumn("n_gens", lit(3L))
      .withColumn("n_store_rows", lit(nStoreRows))
  }

  /** Off-policy (counterfactual) evaluation of a target policy from
    * logged interaction data — IPS (Horvitz &amp; Thompson 1952 /
    * inverse-propensity scoring), CLIPPED IPS (Bottou et al., JMLR
    * 2013's M-capped weights), and SNIPS (Swaminathan &amp; Joachims,
    * NeurIPS 2015's self-normalized estimator): the offline-eval
    * arithmetic every recommendation / RLHF-data pipeline runs before
    * an online test. Logged bandit feedback is modeled from events:
    * context x = user decile (user_id mod 10), action a = event_type,
    * reward r = value/100; the logging propensity is the EMPIRICAL
    * p̂(a|x) = n(x,a)/n(x) (exact integer counts — the standard
    * estimated-propensity variant), and the target policy π plays the
    * action with the best GLOBAL mean reward (picked by ROUNDED mean
    * with the action-name tiebreak, the q207 rule). Estimators:
    * V_IPS = (1/n) Σ 1{a=π(x)}·r/p̂, V_clip caps 1/p̂ at M=10,
    * V_SNIPS = Σ 1{·}r/p̂ ÷ Σ 1{·}1/p̂, and the direct-method
    * V_DM = Σ_x (n_x/n)·mean r(x, π(x)) rides along as the
    * model-based contrast.
    *
    * Determinism: propensities are ratios of exact longs; every float
    * sum is dsum; the argmax is rounded-value ordered.
    *
    * Scale: one (x, a) hash-agg for propensities + the broadcast
    * 1-row policy pick + one corpus scan through the weighted sums —
    * no shuffle beyond the (x, a) grid. */
  def ipsEval(s: SparkSession, dir: String, clipM: Double = 10.0)
      : DataFrame = {
    val logged = events(s, dir)
      .where(col("value").isNotNull)
      .select((col("user_id") % 10L).as("x"), col("event_type").as("a"),
        (col("value") / 100.0).as("r"))
    val prop = logged.groupBy("x", "a").agg(count(lit(1)).as("nxa"),
        dsum(col("r")).as("sr_xa"))
      .localCheckpoint() // n(x), the policy pick, and the DM read it
    val nx = prop.groupBy("x").agg(sum(col("nxa")).as("nx"))
    val best = prop.groupBy("a")
      .agg(sum(col("nxa")).as("na"),
        dsum(col("sr_xa")).as("sa"))
      .select(col("a"), femit(col("sa") / col("na").cast("double"))
        .as("mean_r"))
      .orderBy(col("mean_r").desc, col("a").asc).limit(1)
      .select(col("a").as("pi_a"), col("mean_r").as("pi_mean"))
    val w = logged.join(broadcast(best), col("a") === col("pi_a"))
      .join(broadcast(prop.select("x", "a", "nxa")), Seq("x", "a"))
      .join(broadcast(nx), "x")
      .select(col("r"),
        (col("nx").cast("double") / col("nxa").cast("double")).as("iw"))
    val n = logged.count()
    val sums = w.agg(count(lit(1)).as("n_match"),
      dsum(col("r") * col("iw")).as("s_ips"),
      dsum(col("r") * least(col("iw"), lit(clipM))).as("s_clip"),
      dsum(col("iw")).as("s_w"))
    val dm = prop.join(broadcast(best), col("a") === col("pi_a"))
      .join(nx, "x")
      .select((col("nx").cast("double") / lit(n.toDouble)).as("px"),
        (col("sr_xa") / col("nxa").cast("double")).as("mr"))
      .agg(dsum(col("px") * col("mr")).as("v_dm"))
    sums.crossJoin(broadcast(dm)).crossJoin(broadcast(best))
      .select(lit(n).as("n_logged"), col("n_match"), col("pi_a"),
        col("pi_mean"),
        femit(col("s_ips") / lit(n.toDouble)).as("v_ips"),
        femit(col("s_clip") / lit(n.toDouble)).as("v_ips_clipped"),
        femit(col("s_ips") / nullif(col("s_w"), lit(0.0))).as("v_snips"),
        femit(col("v_dm")).as("v_dm"),
        femit(col("n_match").cast("double") / lit(n.toDouble))
          .as("match_rate"))
  }

  /** Value-at-risk and conditional value-at-risk (expected shortfall,
    * Rockafellar &amp; Uryasev 2000) of the DAILY REVENUE series — the
    * lower-tail risk census complementing q212's drawdown (depth of
    * the worst excursion) with "how bad is the average bad day":
    * VaR_¼ = the DYADIC lower-quartile of daily revenue (α = ¼ per
    * the q213/q217 rule: the (n−1)/4 interpolation weight is an exact
    * binary fraction, so both engines hold the identical cut), and
    * CVaR = the mean revenue over days at or below the cut. Revenue
    * accumulates in exact integer micro-units (the q212 convention).
    *
    * Scale: the corpus reduces to O(days) in one hash-agg; the
    * order statistics run one bounded day-grain window. */
  def cvarDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .where(col("value").isNotNull)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(round(col("value") * 1000000).cast("long")).as("rev"))
    val wOrd = Window.orderBy(col("rev").asc, col("day").asc)
    val ranked = daily.withColumn("rn", row_number().over(wOrd).cast("long"))
      .localCheckpoint() // order statistics + tail read one table
    val n = ranked.agg(max(col("rn")).as("n"))
    val cut = ranked.crossJoin(broadcast(n))
      .withColumn("lo_i", expr("(n - 1) div 4 + 1"))
      .withColumn("frac", ((col("n") - 1L) % 4L).cast("double") / 4.0)
      .agg(max(when(col("rn") === col("lo_i"), col("rev"))).as("lo"),
        max(when(col("rn") === col("lo_i") + 1L, col("rev"))).as("hi"),
        max(col("frac")).as("frac"), max(col("n")).as("n"))
      .select(col("n"),
        (col("lo").cast("double") + col("frac")
          * (coalesce(col("hi"), col("lo")) - col("lo")).cast("double"))
          .as("var_u"))
    ranked.crossJoin(broadcast(cut))
      .where(col("rev").cast("double") <= col("var_u"))
      .agg(max(col("n")).as("n_days"), count(lit(1)).as("tail_days"),
        max(col("var_u")).as("var_u"), dsum(col("rev").cast("double"))
          .as("tail_sum"))
      .select(col("n_days"), col("tail_days"),
        femit(col("var_u") / 1000000.0).as("var_q25"),
        femit(col("tail_sum") / col("tail_days").cast("double")
          / 1000000.0).as("cvar_q25"))
  }

  /** Confusion-matrix threshold sweep (F1, Matthews correlation, and
    * Youden's J at nine FIXED score thresholds 25..225) — the
    * decision-layer companion to q166's threshold-free AUC and q411's
    * AP: what the classifier looks like at each operating point the
    * caller could actually deploy. Fixed thresholds, not quantiles,
    * so each row is a pure integer confusion census.
    *
    * Determinism: TP/FP/FN/TN are exact integers; F1/MCC/J are fixed
    * chains with nullif guards (MCC's denominator is the √ of a
    * product of four margins). Scale: one scan × 9 broadcast
    * thresholds → one (threshold)-grain hash-agg. */
  def confusionSweep(s: SparkSession, dir: String): DataFrame = {
    val rows = events(s, dir)
      .where(col("value").isNotNull)
      .select(col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val th = s.range(1, 10).select((col("id") * 25L).as("threshold"))
    rows.crossJoin(broadcast(th))
      .groupBy("threshold")
      .agg(sum(when(col("score") >= col("threshold") && col("y") === 1L,
          1L).otherwise(0L)).as("tp"),
        sum(when(col("score") >= col("threshold") && col("y") === 0L, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("score") < col("threshold") && col("y") === 1L, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("score") < col("threshold") && col("y") === 0L, 1L)
          .otherwise(0L)).as("tn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        femit(lit(2.0) * col("tp").cast("double")
          / nullif((lit(2L) * col("tp") + col("fp") + col("fn"))
            .cast("double"), lit(0.0))).as("f1"),
        femit((col("tp").cast("double") * col("tn").cast("double")
          - col("fp").cast("double") * col("fn").cast("double"))
          / nullif(sqrt((col("tp") + col("fp")).cast("double")
            * (col("tp") + col("fn")).cast("double")
            * (col("tn") + col("fp")).cast("double")
            * (col("tn") + col("fn")).cast("double")), lit(0.0)))
          .as("mcc"),
        femit(col("tp").cast("double")
          / nullif((col("tp") + col("fn")).cast("double"), lit(0.0))
          + col("tn").cast("double")
          / nullif((col("tn") + col("fp")).cast("double"), lit(0.0))
          - lit(1.0)).as("youden_j"))
      .orderBy("threshold")
  }

  /** Restricted mean survival time (RMST; Royston &amp; Parmar 2013's
    * recommended model-free effect measure): the area under the
    * pooled Kaplan–Meier curve up to τ = 14 days, off q394's risk
    * cells. S steps only at death days: S_k = Π(1 − d_j/n_j)
    * computed as exp of a decimal-per-term cumulative Σ ln(1−d/n)
    * (the q294 window rule — a running PRODUCT of floats is a running
    * sum in log space, and the decimal route makes both engines'
    * association identical); the area is Σ S·(segment length) with
    * segments clamped at τ, plus the S = 1 head segment.
    *
    * All-censored fixtures (sf0.001) have zero death days and emit
    * RMST = τ exactly — the q401 empty-contract convention carried
    * into a non-empty 1-row summary.
    *
    * Scale: the O(event-days) risk table, one bounded window, a 1-row
    * reduce. */
  def rmst(s: SparkSession, dir: String, tau: Long = 14L): DataFrame = {
    val (risk, _) = survivalRiskCells(s, dir)
    val wCum = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.orderBy(col("day").asc)
    val surv = risk
      .withColumn("lnf",
        log(lit(1.0) - col("dj").cast("double") / col("nj").cast("double")))
      .withColumn("ls",
        sum(col("lnf").cast("decimal(38,12)")).over(wCum).cast("double"))
      .withColumn("s", exp(col("ls")))
      .withColumn("nxt", coalesce(lead(col("day"), 1).over(wLead),
        lit(tau)))
    val head = surv.agg(min(col("day")).as("d1"),
      count(lit(1)).as("m"))
    val area = surv
      .where(col("day") < tau)
      .agg(dsum(col("s") * (least(col("nxt"), lit(tau)) - col("day"))
        .cast("double")).as("tail_area"))
    area.crossJoin(broadcast(head))
      .select(lit(tau).as("tau"), coalesce(col("m"), lit(0L))
          .as("n_death_days"),
        femit(least(coalesce(col("d1"), lit(tau)), lit(tau))
          .cast("double") + coalesce(col("tail_area"), lit(0.0)))
          .as("rmst"))
  }

  /** Propensity-overlap (positivity) audit for the q377/q396/q403
    * causal family (Crump et al. 2009's overlap concern as a
    * histogram statistic): the clipped propensity is binned into its
    * native 0.05-wide cells, each arm's cell shares are compared, and
    * the overlap coefficient Σ_cells min(share_t, share_c) — 1 means
    * identical propensity distributions (perfect overlap), 0 means
    * the arms never share a cell and NO causal estimator from this
    * family is identified. Common-support share rides along (the
    * fraction of users in cells where both arms appear).
    *
    * Determinism: cells are the exact floor(e/0.05) integers the PSM
    * blocking already uses; counts are integers; shares and the min
    * fold are fixed chains over the ≤ 18-cell table.
    *
    * Scale: the shared user-grain panel, one cell-grain hash-agg, one
    * ≤ 18-row reduce. */
  def propensityOverlap(s: SparkSession, dir: String): DataFrame = {
    val per = causalPanel(s, dir)
      .withColumn("cell", floor(col("e") / lit(0.05)).cast("long"))
    val cells = per.groupBy("cell")
      .agg(sum(col("t")).as("ct"), sum(lit(1L) - col("t")).as("cc"))
      .localCheckpoint() // totals + overlap fold
    val tot = cells.agg(sum(col("ct")).as("nt"), sum(col("cc")).as("nc"))
    cells.crossJoin(broadcast(tot))
      .withColumn("st", col("ct").cast("double") / col("nt").cast("double"))
      .withColumn("sc", col("cc").cast("double") / col("nc").cast("double"))
      .agg(max(col("nt")).as("n_treated"), max(col("nc")).as("n_controls"),
        count(lit(1)).as("n_cells"),
        sum(when(col("ct") > 0L && col("cc") > 0L, 1L).otherwise(0L))
          .as("n_common_cells"),
        dsum(least(col("st"), col("sc"))).as("ovl"),
        sum(when(col("ct") > 0L && col("cc") > 0L,
          col("ct") + col("cc")).otherwise(0L)).as("in_support"))
      .select(col("n_treated"), col("n_controls"), col("n_cells"),
        col("n_common_cells"),
        femit(col("ovl")).as("overlap_coef"),
        femit(col("in_support").cast("double")
          / (col("n_treated") + col("n_controls")).cast("double"))
          .as("common_support_share"))
  }

  /** Entropy rate of the q153 first-order Markov chain (Shannon 1948,
    * ch. 7: H = −Σ_i π_i Σ_j p_ij ln p_ij — the per-step
    * unpredictability of the event stream under its own transition
    * model, the sequence-level companion to q154's marginal entropy):
    * the stationary distribution π comes from 8 FIXED power-iteration
    * rounds on the |types|² transition table (the pageRank/coxPh
    * fixed-trajectory discipline — the oracle replays the identical
    * float path), started uniform.
    *
    * Scale: the transition table is |types|² (25 cells); each power
    * round is one broadcast join + one |types|-row aggregate. */
  def entropyRate(s: SparkSession, dir: String, iters: Int = 8)
      : DataFrame = {
    val trans = markovTransitions(s, dir)
      .select(col("from_type"), col("to_type"), col("p"))
      .localCheckpoint() // 8 power rounds + the final H pass
    var pi = trans.select(col("from_type").as("st")).distinct()
      .crossJoin(broadcast(trans.select(col("from_type").as("st2"))
        .distinct().agg(count(lit(1)).as("k"))))
      .select(col("st"), (lit(1.0) / col("k").cast("double")).as("pi"))
    for (_ <- 1 to iters) {
      pi = trans.join(pi.select(col("st").as("from_type"), col("pi")),
          Seq("from_type"))
        .groupBy(col("to_type").as("st"))
        .agg(dsum(col("pi") * col("p")).as("pi"))
        .localCheckpoint()
    }
    val h = trans.join(pi.select(col("st").as("from_type"), col("pi")),
        Seq("from_type"))
      .agg(dsum(col("pi") * (-col("p") * log(col("p")))).as("h"),
        count(lit(1)).as("n_transitions"))
    val hMax = pi.agg(count(lit(1)).as("k"))
    h.crossJoin(broadcast(hMax))
      .select(col("n_transitions"), col("k").as("n_states"),
        femit(col("h")).as("entropy_rate"),
        femit(log(col("k").cast("double"))).as("max_entropy"),
        femit(col("h") / log(col("k").cast("double")))
          .as("normalized_rate"))
  }

  /** Shared zero-filled daily event-count spine (day = epoch-µs div
    * 86400e6, x = count, t = 0-based index) for the q408/q409 series
    * operators — exactly [[acfDaily]]'s series. O(days) grain. */
  private def dailySpine(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    bounds
      .select(explode(sequence(col("mn"), col("mx"))).as("day"),
        col("mn"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), (col("day") - col("mn")).as("t"),
        coalesce(col("n"), lit(0L)).as("x"))
  }

  /** Partial autocorrelation function via the Durbin–Levinson
    * recursion (Durbin 1960; Box &amp; Jenkins ch. 3 — the AR-order
    * diagnostic companion to q194's ACF and q338's AR forecast):
    * φ_kk = (ρ_k − Σ_{j&lt;k} φ_{k−1,j} ρ_{k−j}) /
    * (1 − Σ_{j&lt;k} φ_{k−1,j} ρ_j), φ_kj = φ_{k−1,j} − φ_kk·φ_{k−1,k−j},
    * unrolled to `maxLag` = 6 levels over q194's daily-count ACF
    * (consumed UNROUNDED — both engines derive ρ from the same
    * dsum num/den ratios, so the whole recursion replays the
    * identical IEEE trajectory; femit only at emission).
    *
    * Determinism: the level sums fold left-to-right j = 1..k−1 (the
    * same association the oracle's `+` chains parse to); each level
    * materializes φ_kk before the φ_kj updates reference it — two
    * projection stages per level, mirrored as two CTEs per level in
    * the oracle.
    *
    * Scale: the series reduces to O(days) in one hash-agg; the lag
    * pairing is a 7-way bounded self-join at day grain (q194's
    * shape); the recursion itself runs on ONE row. */
  def pacfDaily(s: SparkSession, dir: String, maxLag: Int = 6)
      : DataFrame = {
    val spine = dailySpine(s, dir)
    val stats = spine.agg(
      (sum(col("x")).cast("double") / count(lit(1)).cast("double"))
        .as("mean"))
    val dev = spine.crossJoin(broadcast(stats))
      .select(col("day"), (col("x").cast("double") - col("mean")).as("dev"))
    val den = dev.agg(dsum(col("dev") * col("dev")).as("den"))
    val lags = s.range(1, maxLag + 1).select(col("id").as("lag"))
    val ac = dev.crossJoin(broadcast(lags))
      .join(dev.select(col("day").as("day2"), col("dev").as("dev2")),
        col("day2") === col("day") + col("lag"))
      .groupBy("lag").agg(dsum(col("dev") * col("dev2")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), (col("num") / col("den")).as("r"))
    var df = ac.groupBy().agg(
      max(when(col("lag") === 1, col("r"))).as("r1"),
      (2 to maxLag).map(k =>
        max(when(col("lag") === k, col("r"))).as(s"r$k")): _*)
      .withColumn("phi_1_1", col("r1"))
    for (k <- 2 to maxLag) {
      val s1 = (1 until k).map(j =>
        col(s"phi_${k - 1}_$j") * col(s"r${k - j}")).reduce(_ + _)
      val s2 = (1 until k).map(j =>
        col(s"phi_${k - 1}_$j") * col(s"r$j")).reduce(_ + _)
      df = df.withColumn(s"phi_${k}_$k",
        (col(s"r$k") - s1) / nullif(lit(1.0) - s2, lit(0.0)))
      for (j <- 1 until k)
        df = df.withColumn(s"phi_${k}_$j",
          col(s"phi_${k - 1}_$j")
            - col(s"phi_${k}_$k") * col(s"phi_${k - 1}_${k - j}"))
    }
    // r15: one explode instead of a maxLag-way unionAll of selects over
    // the un-checkpointed 1-row lattice — the legs pruned different
    // phi columns, so each re-ran the whole ACF chain (the q418 fix).
    df.select(explode(array((1 to maxLag).map(k =>
        struct(lit(k.toLong).as("lag"), femit(col(s"r$k")).as("acf"),
          femit(col(s"phi_${k}_$k")).as("pacf"))): _*)).as("o"))
      .select(col("o.lag").as("lag"), col("o.acf").as("acf"),
        col("o.pacf").as("pacf"))
      .orderBy("lag")
  }

  /** Theta-method forecast (Assimakopoulos &amp; Nikolopoulos 2000 —
    * the M3-competition winner; Hyndman &amp; Billah 2003 show it is
    * SES with drift): the daily-count series decomposes into the
    * θ = 0 line (the OLS trend a + b·t, q149's closed-form moments)
    * and the θ = 2 series z_t = 2·y_t − (a + b·t); z is smoothed by
    * SES and the h-step forecast is the equal-weight combination
    * ½·[(a + b·(T−1+h)) + L_z] for h = 1..7.
    *
    * The SES level uses the CLOSED-FORM weighted sum
    * L = Σ_{t≥1} 2^{−(T−t)} z_t + 2^{−(T−1)} z_0 with the dyadic
    * α = ½ (the q213/q217 dyadic rule: every weight is an exact
    * power of two, so both engines hold identical doubles and the
    * "recursive" smoother is one order-free dsum — no sequential
    * scan at all).
    *
    * Scale: one O(days) hash-agg for the series, one 1-row moment
    * broadcast, one weighted dsum — no window, no iteration. */
  def thetaForecast(s: SparkSession, dir: String, horizon: Int = 7)
      : DataFrame = {
    val spine = dailySpine(s, dir).localCheckpoint() // moments + SES
    val mom = spine.agg(count(lit(1)).as("nT"),
      dsum(col("t").cast("double")).as("st"),
      dsum(col("t").cast("double") * col("t").cast("double")).as("stt"),
      dsum(col("x").cast("double")).as("sy"),
      dsum(col("t").cast("double") * col("x").cast("double")).as("sty"))
      .withColumn("b",
        (col("nT").cast("double") * col("sty") - col("st") * col("sy")) /
          nullif(col("nT").cast("double") * col("stt")
            - col("st") * col("st"), lit(0.0)))
      .withColumn("a",
        (col("sy") - col("b") * col("st")) / col("nT").cast("double"))
    val lz = spine.crossJoin(broadcast(mom.select("nT", "a", "b")))
      .withColumn("z",
        lit(2.0) * col("x").cast("double")
          - (col("a") + col("b") * col("t").cast("double")))
      .withColumn("w", when(col("t") === 0L,
          pow(lit(0.5), col("nT").cast("double") - lit(1.0)))
        .otherwise(pow(lit(0.5),
          col("nT").cast("double") - col("t").cast("double"))))
      .agg(dsum(col("w") * col("z")).as("lz"))
    val hs = s.range(1, horizon + 1).select(col("id").as("h"))
    hs.crossJoin(broadcast(mom.select("nT", "a", "b")))
      .crossJoin(broadcast(lz))
      .select(col("h"),
        femit(col("a") + col("b")
          * (col("nT").cast("double") - lit(1.0) + col("h").cast("double")))
          .as("trend_line"),
        femit(col("lz")).as("ses_level"),
        femit((col("a") + col("b")
          * (col("nT").cast("double") - lit(1.0) + col("h").cast("double"))
          + col("lz")) * lit(0.5)).as("forecast"))
      .orderBy("h")
  }

  /** Croston's method for intermittent demand (Croston 1972) with the
    * Syntetos–Boylan approximation correction (SBA 2005): the demand
    * series is the DAILY COUNT OF LARGE PURCHASES (value &gt; 180 —
    * intermittent by construction: 5 of 30 days at sf0.001), split
    * into nonzero demand sizes z_i and inter-arrival gaps g_i; each is
    * smoothed by the same closed-form dyadic-α SES as [[thetaForecast]]
    * (α = ½, exact power-of-two weights, order-free dsum), and the
    * demand-rate forecast is Z/Q with SBA = (1 − α/2)·Z/Q.
    *
    * Determinism: occurrence index and gaps come from one window over
    * the O(nonzero-days) series (bounded grain — day cells, the q194
    * class, NOT corpus rows); all weights are exact binary doubles.
    *
    * Scale: one filtered hash-agg to day grain, one tiny window, two
    * weighted dsums. */
  def croston(s: SparkSession, dir: String, threshold: Double = 180.0)
      : DataFrame = {
    val nz = events(s, dir)
      .where(col("event_type") === "purchase" && col("value").isNotNull
        && col("value") > lit(threshold))
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("z"))
    val wOcc = Window.orderBy(col("day").asc) // O(nonzero days) cells
    val occ = nz
      .withColumn("i", row_number().over(wOcc).cast("long"))
      .withColumn("g", col("day") - lag(col("day"), 1).over(wOcc))
      .localCheckpoint() // m + two SES reads
    val m = occ.agg(max(col("i")).as("m"),
      min(col("day")).as("d0"), max(col("day")).as("dm"))
    val zses = occ.crossJoin(broadcast(m))
      .withColumn("w", when(col("i") === 1L,
          pow(lit(0.5), col("m").cast("double") - lit(1.0)))
        .otherwise(pow(lit(0.5),
          col("m").cast("double") - col("i").cast("double") + lit(1.0))))
      .agg(dsum(col("w") * col("z").cast("double")).as("zl"))
    // gaps exist for i >= 2; re-index j = i − 1 over m' = m − 1 cells
    val qses = occ.where(col("i") >= 2L).crossJoin(broadcast(m))
      .withColumn("j", col("i") - 1L)
      .withColumn("w", when(col("j") === 1L,
          pow(lit(0.5), col("m").cast("double") - lit(2.0)))
        .otherwise(pow(lit(0.5),
          col("m").cast("double") - col("j").cast("double"))))
      .agg(dsum(col("w") * col("g").cast("double")).as("ql"))
    m.crossJoin(broadcast(zses)).crossJoin(broadcast(qses))
      .select(col("m").as("n_demands"),
        (col("dm") - col("d0")).as("span_days"),
        femit(col("zl")).as("z_level"),
        femit(col("ql")).as("q_level"),
        femit(col("zl") / nullif(col("ql"), lit(0.0))).as("croston_rate"),
        femit(col("zl") / nullif(col("ql"), lit(0.0)) * lit(0.75))
          .as("sba_rate"))
  }

  // One-way ANOVA F-test across event types (Fisher 1925) — the
  // k-group generalization of q150's two-sample t: is mean value
  // homogeneous across types? Per-group n, Σx, Σx² ride the DECIMAL
  // dsum route (exact, order-proof); the cross-group reductions (grand
  // mean, SSB = Σnᵍ(meanᵍ−gm)², SSW = Σ(Σx²ᵍ−nᵍmeanᵍ²)) dsum the
  // per-group IEEE terms over the k-row table. One scan + one hash-agg
  // + a k-row reduce — the canonical 100 TB shape for a global test.
  def anovaF(s: SparkSession, dir: String): DataFrame = {
    val g = events(s, dir)
      .where(col("value").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("s1"),
        dsum(col("value") * col("value")).as("s2"))
      .withColumn("mean_g", col("s1") / col("n").cast("double"))
    val tot = g.agg(sum(col("n")).as("nn"), count(lit(1)).as("k"),
      dsum(col("s1")).as("ts1"))
    g.crossJoin(broadcast(tot))
      .withColumn("gm", col("ts1") / col("nn").cast("double"))
      .groupBy()
      .agg(max(col("k")).as("k"), max(col("nn")).as("n"),
        dsum(col("n").cast("double") * (col("mean_g") - col("gm"))
          * (col("mean_g") - col("gm"))).as("ssb"),
        dsum(col("s2") - col("n").cast("double") * col("mean_g")
          * col("mean_g")).as("ssw"))
      .select(col("k"), col("n"), femit(col("ssb")).as("ssb"),
        femit(col("ssw")).as("ssw"),
        femit((col("ssb") / (col("k").cast("double") - 1.0))
          / (col("ssw") / (col("n").cast("double")
            - col("k").cast("double")))).as("f"))
  }

  // Pareto / ABC inventory classification (the 80/15/5 revenue-share
  // cut every supply-chain report runs): parts ranked by revenue
  // (DECIMAL-route per-part sums, so the ORDERING key is bit-identical
  // across engines), cumulative share via an exact DECIMAL window sum
  // (order-proof — a plain float cumsum would diverge between Spark's
  // incremental and DuckDB's segment-tree window evaluation), class A
  // ≤ 80%, B ≤ 95%, C above. The cumulative revenue is the TWO-PHASE
  // range-cell prefix sum (q166 discipline, r11 — the previous
  // comment called the unpartitioned window "a range-partitioned
  // sort", which it is not: an empty partitionSpec is ONE task
  // holding every part): parts land in fixed revenue cells (the cell
  // id is a monotone double floor — monotonicity is all correctness
  // needs, the EXACT key still orders within cells), within-cell
  // running DECIMAL sums parallelize across cells, and cross-cell
  // offsets + the grand total come from the O(cells) cell-totals
  // table. DECIMAL addition is exact and associative, so the
  // regrouped off+cum_in equals the oracle's single-window running
  // sum bit-for-bit (both sides add through decimal(30,12) so the
  // capped-precision rescale never fires). Per-part agg partial-
  // aggregates map-side.
  def paretoAbc(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.read(s, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("rev"))
      .withColumn("cell",
        -floor(col("rev").cast("double") / 1e4).cast("long"))
    val inCell = Window.partitionBy("cell")
      .orderBy(col("rev").desc, col("l_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val preCell = Window.orderBy(col("cell").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cellTotals = rev.groupBy("cell")
      .agg(sum(col("rev").cast("decimal(38,12)")).as("c_rev"))
      .withColumn("off",
        coalesce(sum(col("c_rev")).over(preCell),
          lit(0).cast("decimal(38,12)")).cast("decimal(30,12)"))
      .withColumn("total",
        sum(col("c_rev")).over(Window.partitionBy()).cast("double"))
      .select("cell", "off", "total")
    val shared = rev
      .withColumn("cum_in",
        sum(col("rev").cast("decimal(38,12)")).over(inCell)
          .cast("decimal(30,12)"))
      .join(broadcast(cellTotals), "cell")
      .withColumn("cum", (col("off") + col("cum_in")).cast("double"))
      .withColumn("share", col("cum") / col("total"))
      .withColumn("cls", when(col("share") <= 0.80, "A")
        .when(col("share") <= 0.95, "B").otherwise("C"))
    shared.groupBy("cls")
      .agg(count(lit(1)).as("n_parts"), femit(dsum(col("rev"))).as("revenue"),
        femit(dsum(col("rev")) / max(col("total"))).as("rev_share"))
      .orderBy("cls")
  }

  // Decile gains / lift table (the model-eval companion to q166's AUC
  // and q180's calibration): rows ranked by score into 10 equal-count
  // deciles, each reporting positive rate, cumulative capture and lift.
  // DISTRIBUTED ntile: the raw stream first reduces to one row per
  // DISTINCT (score, label) with a count, global rank offsets come from
  // the q166/q39 two-phase prefix sum (fixed score cells + a tiny
  // cell-offset table — no global window over data), and each reduced
  // group is split across the decile boundaries it straddles by pure
  // interval arithmetic. The split is EXACT, not approximate: rows tied
  // on (score, label) are interchangeable, so per-decile (n, n_pos) is
  // independent of how a total-order sort would break those ties — which
  // is also why the oracle's plain ntile(10) window (ORDER BY score
  // DESC, pos ASC) certifies this decomposition. All counts integer;
  // the three ratios are single divisions of exact int64 products.
  def decileLift(s: SparkSession, dir: String): DataFrame = {
    val g = events(s, dir)
      .where(col("value").isNotNull)
      .select(col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .groupBy("score", "pos").agg(count(lit(1)).as("cnt"))
      .withColumn("cell", floor(col("score") / 50.0).cast("long"))
    val inCell = Window.partitionBy("cell")
      .orderBy(col("score").desc, col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cellTotals = g.groupBy("cell").agg(sum(col("cnt")).as("cell_cnt"))
      .withColumn("cell_offset",
        coalesce(sum(col("cell_cnt")).over(
          Window.orderBy(col("cell").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("cell", "cell_offset")
    val tot = g.agg(sum(col("cnt")).as("nn"),
      sum(col("pos") * col("cnt")).as("tot_pos"))
    // ntile semantics: with nn = 10q + r, deciles 1..r get q+1 rows.
    val decs = s.range(1, 11).toDF("decile")
      .crossJoin(broadcast(tot))
      .withColumn("q", expr("nn DIV 10"))
      .withColumn("r", col("nn") % 10L)
      .withColumn("d_start",
        (col("decile") - 1L) * col("q") + least(col("decile") - 1L, col("r")))
      .withColumn("d_end", col("d_start") + col("q")
        + when(col("decile") <= col("r"), 1L).otherwise(0L))
      .select("decile", "d_start", "d_end", "nn", "tot_pos")
    g.withColumn("off_in", coalesce(sum(col("cnt")).over(inCell), lit(0L)))
      .join(broadcast(cellTotals), "cell")
      .withColumn("start", col("cell_offset") + col("off_in"))
      .join(broadcast(decs),
        col("start") < col("d_end") && col("start") + col("cnt") > col("d_start"))
      .withColumn("take",
        least(col("start") + col("cnt"), col("d_end"))
          - greatest(col("start"), col("d_start")))
      .groupBy("decile")
      .agg(sum(col("take")).as("n"),
        sum(when(col("pos") === 1L, col("take")).otherwise(0L)).as("n_pos"),
        max(col("nn")).as("nn"), max(col("tot_pos")).as("tot_pos"))
      .withColumn("cum_pos",
        sum(col("n_pos")).over(Window.orderBy(col("decile").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("n"), col("n_pos"),
        femit(col("n_pos").cast("double") / col("n").cast("double"))
          .as("pos_rate"),
        femit(col("cum_pos").cast("double") / col("tot_pos").cast("double"))
          .as("cum_capture"),
        femit((col("n_pos") * col("nn")).cast("double")
          / (col("n") * col("tot_pos")).cast("double")).as("lift"))
      .orderBy("decile")
  }

  // MAD-based robust outlier screen (Hampel's rule): per event type the
  // median, the median absolute deviation, and the rows flagged by
  // |x − med| > 3·1.4826·MAD — the robust twin of q171's moment z-score
  // (one wild day shifts a mean fence; it cannot move a median fence).
  // Everything up to the report is EXACT integer algebra: cents are
  // int64, the interpolated median is a half-integer so 4·|x − med| is
  // again int64 (adev4), 8·MAD likewise (mad8), and the flag compares
  // 20000·adev4 > 44478·mad8 — the 1.4826 consistency constant as an
  // exact rational, no float comparison anywhere. Only the reported
  // max |z| rounds a float, in one fixed order on identical integers.
  // Two grouped percentile sort-aggs + one broadcast join back — the
  // q178 shape.
  def madRobust(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).where(col("value").isNotNull)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val med = e.groupBy("event_type")
      .agg(expr("percentile(cents, 0.5)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev4",
        (abs(col("cents").cast("double") - col("med")) * 4.0).cast("long"))
    val mad = dev.groupBy("event_type")
      .agg((expr("percentile(adev4, 0.5)") * 2.0).cast("long").as("mad8"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
        (max(col("mad8")).cast("double") / 8.0).as("mad"),
        sum(when(lit(20000L) * col("adev4") > lit(44478L) * col("mad8"), 1L)
          .otherwise(0L)).as("n_outliers"),
        when(max(col("mad8")) > 0L,
          femit((lit(2.0) * max(col("adev4")).cast("double"))
            / (lit(1.4826) * max(col("mad8")).cast("double"))))
          .otherwise(lit(0.0)).as("max_z"))
      .orderBy("event_type")
  }

  // Theil–Sen robust trend estimator (Theil 1950 / Sen 1968): per event
  // type, the median of all pairwise slopes of the daily-count series —
  // the slope q149's OLS would report if outlier days couldn't drag it.
  // The raw stream reduces to O(types × days) in one hash-agg FIRST;
  // the pair expansion is a self-join of that tiny table (≤ days²/2
  // pairs per type, bounded by the corpus horizon, never O(events²)).
  // Slopes are CAST(dy AS DOUBLE)/dx on exact integers — bit-identical
  // across engines — and the median is a manual order statistic (pick
  // rows ⌈m/2⌉ and ⌊m/2⌋+1 under the total order (slope, dy, dx), then
  // average) rather than an engine-specific interpolating aggregate, so
  // the tie handling is pinned, not inherited.
  def theilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    val l = daily.select(col("event_type"), col("day").as("d1"),
      col("x").as("x1"))
    val r = daily.select(col("event_type"), col("day").as("d2"),
      col("x").as("x2"))
    val pairs = l.join(r, Seq("event_type"))
      .where(col("d2") > col("d1"))
      .withColumn("dy", col("x2") - col("x1"))
      .withColumn("dx", col("d2") - col("d1"))
      .withColumn("slope", col("dy").cast("double") / col("dx").cast("double"))
    val cnt = pairs.groupBy("event_type").agg(count(lit(1)).as("m"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("slope").asc, col("dy").asc, col("dx").asc)
    pairs.withColumn("rn", row_number().over(w))
      .join(broadcast(cnt), "event_type")
      .where(col("rn") === expr("(m + 1) DIV 2")
        || col("rn") === expr("m DIV 2 + 1"))
      .groupBy("event_type")
      .agg(max(col("m")).as("n_pairs"), min(col("slope")).as("lo"),
        max(col("slope")).as("hi"))
      .select(col("event_type"), col("n_pairs"),
        femit((col("lo") + col("hi")) / 2.0).as("ts_slope"))
      .orderBy("event_type")
  }

  // Herfindahl–Hirschman concentration index per nation (the antitrust
  // screen; complements q155's Gini — Gini measures inequality of the
  // distribution, HHI measures how few hands hold it): supplier revenue
  // shares squared and summed. Per-supplier revenue rides the DECIMAL
  // dsum route (exact, order-proof), nation totals are a 25-row
  // broadcast, shares and their squares are fixed-order IEEE on
  // identical doubles, and the cross-supplier Σshare² goes back through
  // dsum so accumulation order cannot split the engines. One lineitem
  // hash-agg + two broadcast joins — nothing here outgrows a 1000-
  // executor shuffle.
  def hhi(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.read(s, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("rev"))
    val sup = Tables.read(s, dir, "supplier").select(col("s_suppkey"),
      col("s_nationkey"))
    val nat = Tables.read(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    // supplier scales with SF — planner-decided join (r14 sweep catch);
    // nation stays hinted (spec-fixed 25 rows)
    val j = rev
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("rev"))
    val tot = j.groupBy("nation")
      .agg(dsum(col("rev")).as("tot"), count(lit(1)).as("n_suppliers"))
    j.join(broadcast(tot), "nation")
      .withColumn("share", col("rev") / col("tot"))
      .groupBy("nation")
      .agg(max(col("n_suppliers")).as("n_suppliers"),
        femit(dsum(col("share") * col("share"))).as("hhi"),
        femit(max(col("share"))).as("top_share"))
      .orderBy("nation")
  }

  // Day-over-day active-user overlap: for every adjacent day pair, the
  // DAU of each side, the returning-user intersection, Jaccard overlap
  // and next-day retention — the operational cousin of q128's cohort
  // matrix (that tracks cohorts forward for weeks; this tracks the
  // whole population one step). The stream collapses to DISTINCT
  // (day, user) once — one shuffle keyed (day, user_id) — and the
  // intersection is a self-equi-join on exactly that key with one side
  // shifted a day, so the exchange is reused, not repeated. Counts are
  // exact integers; Jaccard and retention are single divisions.
  def dauOverlap(s: SparkSession, dir: String): DataFrame = {
    val du = events(s, dir)
      .select(expr("unix_micros(ts) DIV 86400000000").as("day"),
        col("user_id"))
      .distinct()
    val nxt = du.withColumn("day", col("day") - 1L)
    val both = du.join(nxt.select(col("day"), col("user_id")),
        Seq("day", "user_id"))
      .groupBy("day").agg(count(lit(1)).as("n_both"))
    val daily = du.groupBy("day").agg(count(lit(1)).as("dau"))
    daily
      .join(daily.select((col("day") - 1L).as("day"),
        col("dau").as("dau_next")), Seq("day"))
      .join(both, Seq("day"), "left")
      .na.fill(0L, Seq("n_both"))
      .select(col("day"), col("dau"), col("dau_next"), col("n_both"),
        femit(col("n_both").cast("double")
          / (col("dau") + col("dau_next") - col("n_both")).cast("double"))
          .as("jaccard"),
        femit(col("n_both").cast("double") / col("dau").cast("double"))
          .as("retention"))
      .orderBy("day")
  }

  // Item-to-item co-occurrence cosine (the Amazon "customers who
  // bought" recommender primitive; Linden et al., IEEE IC 2003): for
  // part pairs sharing ≥ minSup baskets, cosine = cooc/√(nₐ·n_b) —
  // q167's lift reads association strength, cosine reads it normalized
  // by popularity so head items don't dominate. Same capped-basket
  // self-join as q167 (O(basket²) behind the explicit cap, AQE-
  // splittable); item counts join back as plain equi-joins (item-grain,
  // NOT broadcast — at 100 TB the item table outgrows a broadcast).
  // Counts exact int64; the integer product nₐ·n_b stays < 2⁵³ so
  // √/division are fixed-order IEEE on identical values; top-K via
  // TakeOrderedAndProject under the pinned total order (cosine DESC,
  // a, b).
  def itemCooccur(s: SparkSession, dir: String, minSup: Long = 3L,
                  maxBasket: Int = 64, topK: Int = 50): DataFrame = {
    val items = Tables.read(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val bounded = items
      .withColumn("bsize", count(lit(1)).over(Window.partitionBy("ok")))
      .where(col("bsize") <= maxBasket)
      .select("ok", "pk")
    val itemCnt = bounded.groupBy("pk").agg(count(lit(1)).as("n"))
    val l = bounded.select(col("ok"), col("pk").as("a"))
    val r = bounded.select(col("ok"), col("pk").as("b"))
    l.join(r, Seq("ok"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cooc"))
      .where(col("cooc") >= minSup)
      .join(itemCnt.select(col("pk").as("a"), col("n").as("na")), "a")
      .join(itemCnt.select(col("pk").as("b"), col("n").as("nb")), "b")
      // Order by the ROUNDED cosine (with the (a,b) tiebreak), not the
      // raw double: DuckDB's ORDER BY binds the output alias (the
      // rounded value), so ordering by the unrounded double here let
      // the top-K cutoff diverge wherever two pairs share 6 decimals
      // but differ below them — which sf0.001's tie-dense tail hits
      // (rows 29+ flipped) while sf0.01 happened not to. The rounded
      // grid + unique (a,b) is a total order at every scale.
      .withColumn("cosine", femit(col("cooc").cast("double")
        / sqrt((col("na") * col("nb")).cast("double"))))
      .orderBy(col("cosine").desc, col("a").asc, col("b").asc)
      .limit(topK)
      .select(col("a"), col("b"), col("cooc"), col("na"), col("nb"),
        col("cosine"))
  }

  // Weekly-cohort LTV curve (the revenue companion to q128's retention
  // matrix): users cohorted by first-event epoch-week, purchase revenue
  // accumulated per cohort over age-in-weeks, divided by cohort size.
  // Cohort assignment is one user-keyed min-agg; the curve lives on the
  // tiny (cohort × age) table, where the cumulative sum rides the exact
  // DECIMAL window route (order-proof, q198's discipline). Ages with no
  // purchases don't emit rows — the cumulative picks up at the next
  // observed age (documented; a gap-filled spine is q129's pattern).
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val wk = 7L * 86400000000L
    val e = events(s, dir)
      .select(col("user_id"), expr(s"unix_micros(ts) DIV $wk").as("week"),
        col("event_type"), col("value"))
    val first = e.groupBy("user_id").agg(min(col("week")).as("cohort"))
    val sizes = first.groupBy("cohort").agg(count(lit(1)).as("n_users"))
    val w = Window.partitionBy("cohort").orderBy(col("age").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.where(col("event_type") === "purchase" && col("value").isNotNull)
      .join(first, "user_id")
      .withColumn("age", col("week") - col("cohort"))
      .groupBy("cohort", "age")
      .agg(dsum(col("value")).as("revenue"))
      .withColumn("cum",
        sum(col("revenue").cast("decimal(38,12)")).over(w).cast("double"))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), col("age"), col("n_users"),
        femit(col("revenue")).as("revenue"),
        femit(col("cum")).as("cum_revenue"),
        femit(col("cum") / col("n_users").cast("double")).as("ltv"))
      .orderBy("cohort", "age")
  }

  // Exact weighted median (lower form: smallest x with 2·cumweight(x) ≥
  // total) of price cents weighted by quantity, per return flag — the
  // order statistic q51's unweighted quantiles can't express. The raw
  // stream reduces to one row per DISTINCT (flag, cents) with an int64
  // weight, then the global prefix sum is the q166/q199 TWO-PHASE form
  // (fixed cents cells + a broadcast cell-offset table — parallel
  // in-cell windows, never one sort partition per flag: distinct prices
  // per flag approach row count at 100 TB). The median pick compares
  // exact integers; the only division is the final cents→currency
  // scaling, fixed-order on an exact integer.
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.read(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("wt"))
    // localCheckpoint: g feeds three consumers (in-cell windows, the
    // cell-offset table, per-flag totals) — without it each broadcast
    // branch re-scans lineitem and re-runs the reduction (measured 3.9 s
    // → 2.0 s at sf0.1). The checkpointed table is the DISTINCT
    // (flag, cents) reduction — tiny relative to the scan.
    val g = e.groupBy("flag", "cents").agg(sum(col("wt")).as("w"))
      .withColumn("cell", expr("cents DIV 100000"))
      .localCheckpoint()
    val tot = g.groupBy("flag").agg(sum(col("w")).as("total"))
    val inCell = Window.partitionBy("flag", "cell")
      .orderBy(col("cents").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cellTotals = g.groupBy("flag", "cell").agg(sum(col("w")).as("cw"))
      .withColumn("cell_offset",
        coalesce(sum(col("cw")).over(Window.partitionBy("flag")
          .orderBy(col("cell").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("flag", "cell", "cell_offset")
    g.withColumn("cum_in", sum(col("w")).over(inCell))
      .join(broadcast(cellTotals), Seq("flag", "cell"))
      .withColumn("cum", col("cell_offset") + col("cum_in"))
      .join(broadcast(tot), "flag")
      .where(lit(2L) * col("cum") >= col("total"))
      .groupBy("flag")
      .agg(min(col("cents")).as("med_cents"), max(col("total")).as("total_weight"))
      .select(col("flag"), col("total_weight"),
        (col("med_cents").cast("double") / 100.0).as("wmedian"))
      .orderBy("flag")
  }

  // 3-core of the co-purchase graph (parts as nodes, an edge when two
  // parts share ≥ 2 baskets): the dense sub-network a merchandiser or
  // fraud screen looks at after q167/q207 score individual pairs.
  // Edge build reuses the capped-basket self-join; the peel is
  // [[Graph.kcore]]'s fixed-round Pregel form with the round count
  // probed PAST the fixpoint at gate scale (the bfs/q177 contract: the
  // oracle unrolls the same rounds, so an undershot depth fails the
  // hash). Probed depths: sf0.01 reaches its fixpoint at round 10
  // (1880 nodes → 935 core members); sf0.1's sparser catalog has an
  // EMPTY 3-core (all peeled by round 2) — the peel cost there is two
  // cheap rounds plus eight no-ops. All-integer state — every peel
  // decision value-oracles; the oracle's round CTEs are MATERIALIZED
  // (a 10-deep plain CTE chain re-inlines each reference —
  // exponential re-evaluation in DuckDB).
  /** The q210 co-purchase projection graph, shared verbatim by the
    * k-core / MIS / k-truss trio so the three cohesion operators read
    * one edge set: parts co-occurring in ≥ `minCooc` orders, baskets
    * capped at `maxBasket` (the wedge-blowup guard). */
  private[graft] def copurchaseEdges(s: SparkSession, dir: String,
      minCooc: Long = 2L, maxBasket: Int = 64): DataFrame = {
    val items = Tables.read(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val bounded = items
      .withColumn("bsize", count(lit(1)).over(Window.partitionBy("ok")))
      .where(col("bsize") <= maxBasket)
      .select("ok", "pk")
    bounded.select(col("ok"), col("pk").as("a"))
      .join(bounded.select(col("ok"), col("pk").as("b")), Seq("ok"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cooc"))
      .where(col("cooc") >= minCooc)
      .select(col("a").as("src"), col("b").as("dst"))
  }

  def copurchaseKcore(s: SparkSession, dir: String, k: Int = 3,
                      rounds: Int = 10, minCooc: Long = 2L,
                      maxBasket: Int = 64): DataFrame =
    Graph.kcore(copurchaseEdges(s, dir, minCooc, maxBasket), k, rounds)

  /** [[Graph.lubyMis]] over the q210 co-purchase graph — 8 fixed
    * rounds (fixpoint 4 on both fixture scales; q210 probe rule). */
  def copurchaseMis(s: SparkSession, dir: String, rounds: Int = 8)
      : DataFrame =
    Graph.lubyMis(copurchaseEdges(s, dir), rounds)

  /** [[Graph.ktrussPeel]] over the q210 co-purchase graph — k = 4
    * (support ≥ 2), 10 fixed rounds (fixpoint 5 at sf0.001, 2 at
    * sf0.01 — scale moves it; headroom pinned). */
  def copurchaseKtruss(s: SparkSession, dir: String, k: Int = 4,
      rounds: Int = 10): DataFrame =
    Graph.ktrussPeel(copurchaseEdges(s, dir), k, rounds)

  // Maximum drawdown of the daily value volume per event type (the
  // finance peak-to-trough statistic applied to demand monitoring: how
  // far below its best day has each stream fallen, and when): running
  // peak via a causal window max, drawdown = peak − level, argmax
  // drawdown with the earliest-day tiebreak pinned through one
  // max(struct) — no float anywhere, revenue lives in exact integer
  // micro-units (the q170 discipline). The raw stream reduces to
  // O(types × days) in one hash-agg first; windows run per type over
  // that tiny series.
  def drawdown(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .where(col("value").isNotNull)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(sum(round(col("value") * 1000000).cast("long")).as("rev"))
    val peakW = Window.partitionBy("event_type").orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("peak", max(col("rev")).over(peakW))
      .withColumn("dd", col("peak") - col("rev"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        (max(col("peak")).cast("double") / 1e6).as("peak_rev"),
        // deepest drawdown; ties resolved to the EARLIEST day: maximize
        // (dd, -day) — day ≤ 2^31 so the negation stays exact
        max(struct(col("dd"), (-col("day")).as("nday"))).as("m"))
      .select(col("event_type"), col("n_days"), col("peak_rev"),
        (col("m.dd").cast("double") / 1e6).as("max_drawdown"),
        (-col("m.nday")).as("dd_day"))
      .orderBy("event_type")
  }

  // View→purchase conversion latency percentiles per market segment:
  // each purchase matched to the user's MOST RECENT prior view via one
  // running last() window (q183's shape — no per-purchase re-scan, no
  // self-join), latency floored to whole seconds (exact integers), then
  // p50/p75 per segment through the same interpolated-percentile route
  // q51/q178 pinned cross-engine — DYADIC fractions only: with ½/¼
  // weights the interpolation is binary-exact on both engines, whereas
  // a 0.9 quantile's inexact fraction meets two different (equally
  // valid) interpolation formulas and can split the last ulp.
  // Purchases with no prior view keep their row (NULL latency ignored
  // by the percentile, counted in n_unmatched). One user-keyed window
  // shuffle + one customer broadcast + one grouped percentile sort-agg.
  def timeToConvert(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val matched = events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("view_us",
        last(when(col("event_type") === "view", col("us")),
          ignoreNulls = true).over(byUser))
      .where(col("event_type") === "purchase")
      .withColumn("lag_sec", expr("(us - view_us) DIV 1000000"))
    // customer scales with SF — the segment map must not be pinned into
    // executors by an authored hint (r14 broadcast-sweep catch)
    matched
      .join(Tables.read(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("user_id") === col("c_custkey"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("view_us").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        expr("percentile(lag_sec, 0.5)").as("p50_sec"),
        expr("percentile(lag_sec, 0.75)").as("p75_sec"))
      .orderBy("segment")
  }

  // U-shaped (position-based 40/20/40) multi-touch attribution — the
  // multi-touch counterpart to q183's last-touch: every purchase
  // credits ALL its prior-7-day touches, 40% to the first, 40% to the
  // last, 20% split across the middles (degenerate cases pinned: one
  // touch → 1.0, two → 0.5/0.5); untouched purchases surface as a
  // 'direct' row, so total credit ≡ purchase count. The touch↔purchase
  // pairing is the q43 time-cell equi-join (purchases probe their own
  // and the previous 7-day cell — never a nested-loop theta join), the
  // position rank is one purchase-keyed window under the total order
  // (tus, tid), and per-row credits are fixed-order IEEE (0.2/(n−2) on
  // exact integers) summed through the DECIMAL dsum route.
  def positionAttribution(s: SparkSession, dir: String): DataFrame = {
    val lookback = 7L * 86400L * 1000000L
    val e = events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        col("us").as("pus"), coalesce(col("value"), lit(0.0)).as("rev"))
    val touches = e.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("tid"),
        col("us").as("tus"), col("event_type").as("channel"))
    val probe = purchases.withColumn("cell",
      explode(array(expr(s"pus DIV ${lookback}L"),
        expr(s"pus DIV ${lookback}L - 1"))))
    val build = touches.withColumn("cell", expr(s"tus DIV ${lookback}L"))
    val pairs = probe.join(build, Seq("user_id", "cell"))
      .where(col("tus") < col("pus") && col("pus") - col("tus") <= lookback)
      .select(col("pid"), col("rev"), col("tid"), col("tus"), col("channel"))
    val ranked = pairs
      .withColumn("n", count(lit(1)).over(Window.partitionBy("pid")))
      .withColumn("rk", row_number().over(Window.partitionBy("pid")
        .orderBy(col("tus").asc, col("tid").asc)))
      .withColumn("credit",
        when(col("n") === 1L, lit(1.0))
          .when(col("n") === 2L, lit(0.5))
          .when(col("rk") === 1 || col("rk") === col("n"), lit(0.4))
          .otherwise(lit(0.2) / (col("n") - 2L).cast("double")))
    val attributed = ranked.groupBy("channel")
      .agg(count(lit(1)).as("n_touchpoints"),
        femit(dsum(col("credit"))).as("credit"),
        femit(dsum(col("credit") * col("rev"))).as("weighted_revenue"))
    val direct = purchases
      .join(pairs.select("pid").distinct(), Seq("pid"), "left_anti")
      .agg(count(lit(1)).as("n_touchpoints"),
        femit(dsum(lit(1.0))).as("credit"),
        femit(dsum(col("rev"))).as("weighted_revenue"))
      .select(lit("direct").as("channel"), col("n_touchpoints"),
        col("credit"), col("weighted_revenue"))
    attributed.unionByName(direct).orderBy("channel")
  }

  // Join-key skew audit over the fact table's three foreign keys — the
  // diagnostic a distributed engine runs BEFORE choosing a join
  // strategy (q52's salting and AQE's skew-join split both key off
  // exactly this statistic): per key column, row count, distinct keys,
  // the heaviest key and its frequency, and the skew factor
  // max_freq/mean_freq. One generator scan (stack → 3× rows), one
  // (col, key) hash-agg, argmax via max(struct) with the smallest-key
  // tiebreak; skew = (max_freq·n_distinct)/n_rows — exact int64
  // product (< 2⁵³) over one fixed-order division.
  def skewAudit(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "lineitem")
      .selectExpr("stack(3, 'l_orderkey', l_orderkey, 'l_partkey', " +
        "l_partkey, 'l_suppkey', l_suppkey) AS (col_name, key)")
      .groupBy("col_name", "key").agg(count(lit(1)).as("f"))
      .groupBy("col_name")
      .agg(sum(col("f")).as("n_rows"), count(lit(1)).as("n_distinct"),
        max(struct(col("f"), (-col("key")).as("nk"))).as("m"))
      .select(col("col_name"), col("n_rows"), col("n_distinct"),
        col("m.f").as("max_freq"), (-col("m.nk")).as("top_key"),
        femit((col("m.f") * col("n_distinct")).cast("double")
          / col("n_rows").cast("double")).as("skew"))
      .orderBy("col_name")

  // QQ comparison table at the eighths — the MAGNITUDE companion to
  // q189's KS verdict (KS says the halves differ; this says by how
  // much, where in the distribution): even- vs odd-user halves per
  // event type, both quantile curves evaluated at the 9 dyadic eighths
  // {0, ⅛, …, 1} in ONE grouped sort-agg (two filtered percentile
  // arrays side by side — nulls ignored, so one pass), then zipped and
  // exploded. Dyadic fractions ⇒ the interpolation is binary-exact on
  // integer cents (the q213 rule), so curves AND diffs are exact on
  // both engines.
  def qqEighths(s: SparkSession, dir: String): DataFrame = {
    val qs = (0 to 8).map(i => s"${i / 8.0}D").mkString("array(", ", ", ")")
    events(s, dir).where(col("value").isNotNull)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        (col("user_id") % 2 === 0).as("even"))
      .groupBy("event_type")
      .agg(expr(s"percentile(CASE WHEN even THEN cents END, $qs)").as("qe"),
        expr(s"percentile(CASE WHEN NOT even THEN cents END, $qs)").as("qo"))
      .select(col("event_type"),
        posexplode(arrays_zip(col("qe"), col("qo"))))
      .select(col("event_type"), col("pos").cast("long").as("eighth"),
        (col("col.qe") / 100.0).as("q_even"),
        (col("col.qo") / 100.0).as("q_odd"),
        femit(col("col.qo") / 100.0 - col("col.qe") / 100.0).as("diff"))
      .orderBy("event_type", "eighth")
  }

  // CUPED variance-reduced A/B readout (Deng et al., WSDM 2013 — the
  // production trick that shrinks experiment confidence intervals for
  // free): per user, pre-period spend x (first 15 days) and post-period
  // spend y; θ = cov(x,y)/var(x) fitted on the POOLED population, the
  // adjusted metric is y − θ(x − x̄). The variance reduction has the
  // closed form corr²(x,y) (var(y−θx) = var(y) − cov²/var(x)), so ONE
  // pass of DECIMAL-route moments (n, Σx, Σy, Σx², Σxy, Σy²) yields θ,
  // the reduction AND the per-arm adjusted means — no second scan.
  // Per-user sums are exact (dsum); every downstream float is a fixed-
  // order expression on those identical doubles, round(6) at the edge.
  // Arms are the q150 even/odd-user split.
  def cuped(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .where(col("value").isNotNull && col("event_type") === "purchase")
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"), col("value"))
    val cut = e.agg((min(col("day")) + 15L).as("cut"))
    val perUser = e.crossJoin(broadcast(cut))
      .groupBy("user_id")
      .agg(dsum(when(col("day") < col("cut"), col("value"))).as("x0"),
        dsum(when(col("day") >= col("cut"), col("value"))).as("y0"))
      .select(col("user_id"), coalesce(col("x0"), lit(0.0)).as("x"),
        coalesce(col("y0"), lit(0.0)).as("y"))
      .withColumn("arm", col("user_id") % 2L)
    val pooled = perUser.agg(count(lit(1)).as("n"), dsum(col("x")).as("sx"),
        dsum(col("y")).as("sy"), dsum(col("x") * col("x")).as("sxx"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("y") * col("y")).as("syy"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("xbar", col("sx") / col("nd"))
      .withColumn("ybar", col("sy") / col("nd"))
      .withColumn("varx", col("sxx") / col("nd") - col("xbar") * col("xbar"))
      .withColumn("vary", col("syy") / col("nd") - col("ybar") * col("ybar"))
      .withColumn("cov", col("sxy") / col("nd") - col("xbar") * col("ybar"))
      .withColumn("theta", col("cov") / col("varx"))
      .select("xbar", "theta", "cov", "varx", "vary")
    perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), dsum(col("x")).as("gx"),
        dsum(col("y")).as("gy"))
      .crossJoin(broadcast(pooled))
      .select(col("arm"), col("n_users"),
        femit(col("gy") / col("n_users").cast("double")).as("mean_post"),
        femit(col("gy") / col("n_users").cast("double")
          - col("theta") * (col("gx") / col("n_users").cast("double")
            - col("xbar"))).as("mean_adjusted"),
        femit(col("theta")).as("theta"),
        femit(col("cov") * col("cov") / (col("varx") * col("vary")))
          .as("var_reduction"))
      .orderBy("arm")
  }

  // DYNAMIC partition overwrite — the lakehouse correction-batch
  // semantic (Spark's partitionOverwriteMode=dynamic): a day-
  // partitioned events copy receives an overwrite batch containing
  // ONLY the last day (its values doubled); dynamic mode must replace
  // exactly that partition and leave every other day's files untouched
  // — static mode would wipe the table down to one day, double-writing
  // would double the last day's rows. The read-back daily aggregate is
  // value-oracled against the original table with the same correction
  // applied as a CASE — so both failure modes turn the row red. At
  // 100 TB this is the nightly restatement pattern: write cost is
  // O(corrected partition), never O(table).
  def dynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("dynpart_events")
    val e = events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), expr("unix_micros(ts) DIV 86400000000").as("day"))
    e.write.mode("overwrite").partitionBy("day").parquet(out)
    val lastDay = e.agg(max(col("day")).as("last_day"))
    val correction = e.crossJoin(broadcast(lastDay))
      .where(col("day") === col("last_day"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("value") * 2.0).as("value"), col("day"))
    correction.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(out)
    s.read.parquet(out)
      // partition-column type inference reads `day=N` directories as
      // INT; pin BIGINT so the dumped schema matches the oracle's
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n"), femit(dsum(col("value"))).as("sum_value"))
      .orderBy("day")
  }

  // Exponential time-decay popularity (the recency-weighted ranking
  // every storefront and feed uses; half-life ≈ 21 days at λ = 1/30):
  // per part, Σ exp(−age_days/30) over its order lines, top-20. Ages
  // are exact integer days (epoch-day arithmetic on the already-µs-
  // normalized timestamps); each weight is one exp() on age/30.0 —
  // identical IEEE inputs, the q181/q191 cross-engine ln/exp precedent
  // — and the per-part sum rides the DECIMAL dsum route so
  // accumulation order cannot split the engines. One lineitem-orders
  // equi-join (AQE-splittable), one part-keyed hash-agg,
  // TakeOrderedAndProject(20) under (score DESC, partkey).
  def decayPopularity(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("unix_micros(o_orderdate) DIV 86400000000").as("oday"))
    val horizon = o.agg(max(col("oday")).as("hday"))
    Tables.read(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .crossJoin(broadcast(horizon))
      .select(col("l_partkey"),
        exp((col("oday") - col("hday")).cast("double") / 30.0).as("w"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"), dsum(col("w")).as("score0"))
      .orderBy(col("score0").desc, col("l_partkey").asc)
      .limit(20)
      .select(col("l_partkey"), col("n_lines"),
        femit(col("score0")).as("score"))
  }

  // Spearman rank correlation of the daily value series against time,
  // per event type — the MONOTONIC-trend test (robust where q148's
  // Pearson measures only linear association; the rank companion to
  // q201's Theil–Sen slope). Scale discipline: the event stream reduces
  // to O(types × days) rows in one hash-agg BEFORE any window touches
  // it, so the per-type rank windows run over a tiny table. Ranks are
  // exact: day ranks are distinct integers (row_number), value ranks
  // use the average-rank convention rank() + (ties−1)/2 — half-integers
  // — and the daily values they order are DECIMAL-route doubles, so
  // both engines rank identical inputs identically. The five moment
  // sums go through [[dsum]] (rank products are quarter-integers —
  // exact in DECIMAL(38,12)), and the closing Pearson-on-ranks formula
  // is one fixed-order IEEE expression; zero-variance groups report
  // NULL explicitly on both engines (q195's convention).
  def spearmanTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"), col("value"))
      .groupBy("event_type", "day")
      .agg(dsum(col("value")).as("y"))
    val byDay = Window.partitionBy("event_type").orderBy(col("day").asc)
    val byY = Window.partitionBy("event_type").orderBy(col("y").asc)
    val tiesY = Window.partitionBy("event_type", "y")
    val ranked = daily
      .withColumn("rx", row_number().over(byDay).cast("double"))
      .withColumn("ry", rank().over(byY).cast("double")
        + (count(lit(1)).over(tiesY).cast("double") - lit(1.0)) / lit(2.0))
    val m = ranked.groupBy("event_type").agg(
      count(lit(1)).cast("double").as("n"),
      dsum(col("rx")).as("sx"), dsum(col("ry")).as("sy"),
      dsum(col("rx") * col("rx")).as("sxx"),
      dsum(col("ry") * col("ry")).as("syy"),
      dsum(col("rx") * col("ry")).as("sxy"))
    m.select(col("event_type"), col("n").cast("long").as("n_days"),
        when(col("n") * col("sxx") - col("sx") * col("sx") > 0.0 &&
             col("n") * col("syy") - col("sy") * col("sy") > 0.0,
          femit((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
               * sqrt(col("n") * col("syy") - col("sy") * col("sy")))))
          .as("rho"))
      .orderBy("event_type")
  }

  // Spark 4 VARIANT surface: the semi-structured column type that
  // replaces string-JSON at scale (binary-encoded, shredding-ready —
  // a variant_get path read touches only the requested field instead
  // of re-parsing the whole document per row, the 100 TB reason the
  // type exists). The query builds a NESTED document around the
  // events.props payload, parses it to VARIANT once, and extracts a
  // typed value through a multi-level path; per-type counts/extremes
  // are exact integers. The oracle reads the same path with DuckDB's
  // JSON extraction — the VARIANT round trip must be invisible.
  def variantJson(s: SparkSession, dir: String): DataFrame = {
    val v = parse_json(concat(lit("{\"u\":"), col("user_id"),
      lit(",\"inner\":"), col("props"), lit("}")))
    events(s, dir)
      .select(col("event_type"), col("user_id"),
        variant_get(v, "$.inner.k", "bigint").as("k"),
        variant_get(v, "$.u", "bigint").as("u"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(when(col("u") === col("user_id"), 1L).otherwise(0L)).as("n_u_ok"))
      .orderBy("event_type")
  }

  // Spark 4 string collations: group case-divergent keys under the
  // UTF8_LCASE collation — the engine-level answer to the lower()-
  // everywhere idiom (a collated column keeps its original bytes,
  // compares case-insensitively, and at scale lets the optimizer push
  // collation-aware equality into joins/aggs instead of wrapping every
  // reference in lower()). Case variants are injected deterministically
  // (event_id MOD 3 → UPPER / Initcap / raw), the group key is
  // re-exposed as lower() — the collated groupBy's representative pick
  // is first-seen and must NOT be dumped — and the variant census
  // (n_forms, min_form) proves the three spellings really collapsed.
  def collatedGroup(s: SparkSession, dir: String): DataFrame = {
    val et2 = when(col("event_id") % 3 === 0, upper(col("event_type")))
      .when(col("event_id") % 3 === 1, initcap(col("event_type")))
      .otherwise(col("event_type"))
    events(s, dir)
      .select(et2.as("et"))
      .groupBy(collate(col("et"), "UTF8_LCASE").as("k"))
      .agg(count(lit(1)).as("n"),
        countDistinct(collate(col("et"), "UTF8_BINARY")).as("n_forms"),
        min(collate(col("et"), "UTF8_BINARY")).as("min_form"))
      .select(lower(col("k")).as("event_type"), col("n"), col("n_forms"),
        col("min_form"))
      .orderBy("event_type")
  }

  // Spark 4 SQL UDFs (CREATE FUNCTION ... RETURNS ... RETURN expr):
  // the declarative scalar-function surface — the body is SQL, so the
  // analyzer INLINES it into the plan and the result is codegen'd
  // exactly like the hand-written expression (no serialization wall,
  // unlike a JVM closure UDF; at 100 TB the difference is whole-stage
  // codegen vs a per-row function call). One UDF composes another
  // (charge calls disc_price) to exercise nested resolution; the
  // aggregate takes the dsum DECIMAL route inside the SQL text, and
  // the oracle inlines the same bodies by hand.
  // Defined once per session: the bodies are constant, so a rebuild's
  // re-definition would only log "replaced a previously registered
  // function".
  def sqlUdf(s: SparkSession, dir: String): DataFrame = {
    if (!s.catalog.functionExists("graft_charge")) {
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(" +
        "p DOUBLE, d DOUBLE) RETURNS DOUBLE RETURN p * (1.0d - d)")
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_charge(" +
        "p DOUBLE, d DOUBLE, t DOUBLE) RETURNS DOUBLE " +
        "RETURN graft_disc_price(p, d) * (1.0d + t)")
    }
    // The femit lattice references its argument four times; applied
    // directly to the UDF-bearing aggregates, UDF inlining mints fresh
    // expression ids per textual copy, defeating Catalyst's aggregate
    // dedup (8 decimal sums instead of 2 — a measured 2.3× on the
    // bench). Aggregating in an inner query and emitting from its
    // single-instance output columns restores one sum per measure.
    Tables.sql(s, dir,
      s"""SELECT l_returnflag, n_lines,
        |  ${femitSql("disc0")} AS disc_revenue,
        |  ${femitSql("charge0")} AS charge_revenue
        |FROM (SELECT l_returnflag,
        |    count(*) AS n_lines,
        |    CAST(sum(CAST(graft_disc_price(l_extendedprice, l_discount)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS disc0,
        |    CAST(sum(CAST(graft_charge(l_extendedprice, l_discount, l_tax)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS charge0
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin)
  }

  // Window-function breadth, part 2 (q49 covers dense_rank/ntile/lead/
  // lag/first_value/running-max): percent_rank, cume_dist, nth_value —
  // the relative-position family. All three are exact integer-ratio or
  // row-pick semantics over the pinned (o_totalprice DESC, o_orderkey)
  // total order, so every value is a single IEEE division of exact
  // counts (or an integer) — bit-identical cross-engine. Customers
  // with a single order are excluded (percent_rank's n−1 denominator
  // degenerates; the filter drops whole partitions, so surviving
  // windows are unchanged).
  def windowExtras(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.read(s, dir, "orders").where(col("o_custkey") < 50)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o.withColumn("n", count(lit(1)).over(Window.partitionBy("o_custkey")))
      .where(col("n") >= 2)
      .select(col("o_custkey"), col("o_orderkey"),
        femit(percent_rank().over(w)).as("pct_rank"),
        femit(cume_dist().over(w)).as("cume"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_best"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // LATERAL correlated subquery join (SQL:1999; Spark 4 supports the
  // full form including correlated ORDER BY + LIMIT): per-nation top-2
  // customers by account balance, expressed as the lateral "for each
  // row, run this subquery" shape — the SQL-frontend twin of q8's
  // rank-window top-N. Catalyst decorrelates the lateral into a
  // ranked join (no per-row re-execution — the q89 contract); the
  // oracle runs the identical LATERAL text in DuckDB.
  def lateralTopPerGroup(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2) t
        |ORDER BY n.n_name, t.c_custkey""".stripMargin)

  // Spark 4 SQL pipe syntax (|>): the linear query-flow dialect —
  // each stage consumes the previous one top-to-bottom, the shape
  // query generators and interactive exploration produce. The pipe
  // text compiles to the SAME Catalyst plan as its nested-SQL twin
  // (pushdown/pruning/partial agg all apply unchanged), which is
  // exactly what the gate row pins: the oracle is the traditional
  // form of the same query (Q1's pricing-summary shape, dsum route).
  def sqlPipe(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""FROM lineitem
        ||> WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        ||> EXTEND l_extendedprice * (1.0d - l_discount) AS disc
        ||> AGGREGATE count(*) AS n_lines,
        |     ${femitSql("CAST(sum(CAST(disc AS DECIMAL(38,12))) AS DOUBLE)")} AS revenue
        |   GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)

  // Difference-in-differences readout (the quasi-experimental
  // companion to q150's A/B z-test and q219's CUPED): treatment arm =
  // odd user ids, pre/post = epoch-day halves of the observed range
  // (calendar-free, q128's discipline; the midpoint is a 1-row
  // broadcast aggregate, never a driver scalar). The 2×2 cell means
  // come from ONE partial-aggregated scan via the dsum route; DiD =
  // (post−pre)_treat − (post−pre)_control in one fixed-order
  // expression per event type.
  def diffInDiff(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"),
      (col("user_id") % 2).as("treat"),
      expr("unix_micros(ts) DIV 86400000000").as("day"), col("value"))
    val mid = ev.agg(
      expr("(min(day) + max(day) + 1) DIV 2").as("mid"))
    val cells = ev.crossJoin(broadcast(mid))
      .withColumn("post", (col("day") >= col("mid")).cast("int"))
      .groupBy("event_type", "treat", "post")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sv"))
      .withColumn("m", col("sv") / col("n").cast("double"))
    cells.groupBy("event_type")
      .agg(
        sum(col("n")).as("n_events"),
        max(when(col("treat") === 0 && col("post") === 0, col("m"))).as("m00"),
        max(when(col("treat") === 0 && col("post") === 1, col("m"))).as("m01"),
        max(when(col("treat") === 1 && col("post") === 0, col("m"))).as("m10"),
        max(when(col("treat") === 1 && col("post") === 1, col("m"))).as("m11"))
      .select(col("event_type"), col("n_events"),
        femit(col("m00")).as("ctl_pre"), femit(col("m01")).as("ctl_post"),
        femit(col("m10")).as("trt_pre"), femit(col("m11")).as("trt_post"),
        femit((col("m11") - col("m10")) - (col("m01") - col("m00"))).as("did"))
      .orderBy("event_type")
  }

  /** Poisson(1) inverse-CDF thresholds shared by [[bootstrapCi]] and
    * its oracle: cdf(k) = e⁻¹·Σ_{j≤k} 1/j!, computed once in Scala and
    * interpolated into both engines' CASE chains. */
  val PoissonCdf: IndexedSeq[Double] = {
    val einv = math.exp(-1.0)
    (0 to 4).scanLeft(0.0) { (acc, k) =>
      acc + einv / (1 to k).product.toDouble
    }.tail.toIndexedSeq // cdf(0)..cdf(4); weights ≥ 5 capped
  }

  // Deterministic Poisson bootstrap CI for the per-type mean value
  // (the production resampling scheme — Poisson(1) weights approximate
  // multinomial resampling and need NO global coordination: each row
  // draws its B weights independently, so one scan fans out to B
  // replicate partial-aggregates and the shuffle is O(types × B),
  // never O(rows); Chamandy et al., "Estimating Uncertainty for
  // Massive Data Streams", Google 2012). Determinism: the uniform
  // driving each draw is the portable FNV hash of (event_id, b)
  // reduced to a dyadic 2⁻²⁴ grid — same weights under any
  // partitioning, retry, or engine (the q112/q142 contract); the
  // Poisson inverse-CDF thresholds are Scala literals shared with the
  // oracle ([[PoissonCdf]]), weights capped at 5 (P ≈ 0.37%,
  // mirrored). The CI is the EXACT (2nd, 31st) order statistic of the
  // 32 replicate means — no interpolation (q51's dyadic discipline
  // taken to its integer limit), ties pinned by (mean, b).
  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val b = 32
    val ev = events(s, dir).select(col("event_type"), col("event_id"), col("value"))
    // r15: shared-prefix FNV fold per replicate (see poissonBootstrap)
    val u = (graft.functions.HashExprs.fnvFoldSmallInt(col("hpre"), col("b"))
      % 16777216L).cast("double") / lit(16777216.0)
    val wExpr = PoissonCdf.zipWithIndex.foldRight(lit(5)) { case ((c, k), e) =>
      when(u < lit(c), lit(k)).otherwise(e)
    }
    val reps = ev
      .withColumn("hpre", graft.functions.HashExprs.fnvFoldConst(
        graft.functions.HashExprs.fnv1a32("cast(event_id as string)"), ":"))
      .withColumn("b", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("w", wExpr)
      .groupBy("event_type", "b")
      .agg(dsum(col("w").cast("double") * col("value")).as("ws"),
        sum(col("w")).as("wn"))
      .withColumn("mean_b", col("ws") / col("wn").cast("double"))
    val w2 = Window.partitionBy("event_type")
      .orderBy(col("mean_b").asc, col("b").asc)
    val ci = reps.withColumn("rn", row_number().over(w2))
      .groupBy("event_type")
      .agg(max(when(col("rn") === 2, col("mean_b"))).as("lo"),
        max(when(col("rn") === b - 1, col("mean_b"))).as("hi"))
    val base = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sv"))
    base.join(ci, Seq("event_type"))
      .select(col("event_type"), col("n"),
        femit(col("sv") / col("n").cast("double")).as("mean"),
        femit(col("lo")).as("ci_lo"), femit(col("hi")).as("ci_hi"))
      .orderBy("event_type")
  }

  // Spark 4 parameterized SQL: named parameter markers (:param) bound
  // at execution plus the IDENTIFIER() clause turning a PARAMETER into
  // a table reference — the injection-safe template surface a query
  // service exposes (values never concatenated into SQL text; the
  // identifier is resolved through the parser's identifier rules, not
  // string splicing). The bound plan must equal the literal twin —
  // which is exactly what the oracle checks.
  def paramSql(s: SparkSession, dir: String): DataFrame = {
    Tables.register(s, dir)
    s.sql(
      s"""SELECT l_returnflag, count(*) AS n_lines,
        |  ${femitSql(s"""CAST(sum(CAST(l_extendedprice * (1.0d - l_discount)
        |    AS DECIMAL(38,12))) AS DOUBLE)""")} AS revenue
        |FROM IDENTIFIER(:tbl) WHERE l_quantity >= :minq
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      Map("tbl" -> "lineitem", "minq" -> Int.box(30)))
  }

  // Fano factor / index of dispersion per event type (var/mean of the
  // daily count series over observed days): the burstiness scalar —
  // ≈1 for a Poisson-like arrival process, >1 bursty/clumped, <1
  // regular — the quick screen before q170's CUSUM or q171's z-scores
  // are worth running. Stream reduces to O(types × days) first; the
  // sample variance comes from exact int64 moments, so the only
  // floats are two fixed-order divisions.
  def fanoFactor(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .where(col("n_days") >= 2)
      .select(col("event_type"), col("n_days"),
        femit(col("sx").cast("double") / col("n_days").cast("double"))
          .as("mean_daily"),
        femit(((col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double")
            / (col("n_days") * (col("n_days") - 1)).cast("double"))
          / (col("sx").cast("double") / col("n_days").cast("double")))
          .as("fano"))
      .orderBy("event_type")
  }

  // Sketches × grouping sets: mergeable HLL distincts over a CUBE —
  // the dashboard cube (every (type, day) slice plus both margins and
  // the grand total) served by ONE pass with O(cells × sketch) state,
  // the composition a 100 TB rollup actually runs (q81 proved
  // mergeability, q6/q31 the grouping lattice; this is their product).
  // The estimate can't cross engines, so it gates as an oracle-checked
  // bound against the in-plan EXACT distinct (q30/q81's pattern):
  // lgK=12 ⇒ ~1.6% std error, and small cells sit in the sketch's
  // exact sparse regime, so the 5%-or-±1 bound is decisive. Cube
  // nulls coalesce to sentinels for the null-free dump (q66's rule).
  def cubeSketch(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"),
      expr("unix_micros(ts) DIV 86400000000").as("day"), col("user_id"))
    ev.cube("event_type", "day")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("exact_distinct"),
        expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
      .select(coalesce(col("event_type"), lit("ALL")).as("etype"),
        coalesce(col("day"), lit(-1L)).as("day"),
        col("n_rows"), col("exact_distinct"),
        (abs(col("est") - col("exact_distinct"))
          <= greatest(lit(1L), expr("exact_distinct * 5 DIV 100"))).as("est_ok"))
      .orderBy("etype", "day")
  }

  // Join-strategy HINTS through the SQL frontend: MERGE on the
  // fact-fact pair (forcing sort-merge where the planner might pick
  // shuffle-hash) and BROADCAST on the dimension — the production
  // steering surface when statistics mislead the optimizer at 100 TB
  // (a mis-estimated build side OOMs; the hint is the escape hatch).
  // Hints may never change RESULTS — exactly what the oracle pins;
  // PlanSpec pins that they changed the PLAN.
  def joinHints(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""SELECT /*+ MERGE(l), BROADCAST(c) */ c.c_mktsegment,
        |  count(*) AS n_lines,
        |  ${femitSql(s"""CAST(sum(CAST(l_extendedprice * (1.0d - l_discount)
        |    AS DECIMAL(38,12))) AS DOUBLE)""")} AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)

  // The batch Observation API: named metrics piggyback on the SAME
  // single pass that computes the query (no second scan — at 100 TB
  // the difference between "free telemetry" and doubling the read).
  // The declared result is the per-type aggregate PLUS a '__OBSERVED__'
  // row carrying the observed global metrics; the oracle recomputes
  // both from the table, so a metric diverging from the data it rode
  // along with turns the row red. The parquet write is the action that
  // populates the observation (the q56 sink-roundtrip pattern).
  def observeMetrics(s: SparkSession, dir: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation()
    val out = graft.Scratch.dir("observe_agg")
    events(s, dir)
      .select(col("event_type"), col("value"))
      .observe(obs, count(lit(1)).as("n"), dsum(col("value")).as("sv"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sv"))
      .write.mode("overwrite").parquet(out)
    val m = obs.get
    val observed = s.range(1).select(
      lit("__OBSERVED__").as("event_type"),
      lit(m("n").asInstanceOf[Long]).as("n"),
      lit(m("sv").asInstanceOf[Double]).as("sv"))
    s.read.parquet(out).unionByName(observed)
      .select(col("event_type"), col("n"), femit(col("sv")).as("sum_value"))
      .orderBy("event_type")
  }

  // Modern aggregate-function breadth (the E11 family's Spark 3.4+/4
  // additions): exact median, deterministic mode, count_if,
  // bool_and/bool_or — all over exact integers so every value is
  // bit-determined (median of an even count is the average of two
  // int64 micro-units — an exact .5 half; mode's deterministic=true
  // flag pins the LOWEST of tied values, mirrored in the oracle by an
  // explicit (count DESC, value ASC) argmax because DuckDB's mode
  // breaks ties arbitrarily).
  def aggFamily(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"),
      round(col("value") * 1000000).cast("long").as("vu"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (median(col("vu")) / 1e6).as("median_value"),
        expr("mode(k, true)").as("mode_k"),
        count_if(col("vu") > 50000000L).as("n_over_50"),
        bool_and(col("vu") >= 0L).as("all_nonneg"),
        bool_or(col("k") === 99L).as("any_k99"))
      .select(col("event_type"), col("n"),
        femit(col("median_value")).as("median_value"), col("mode_k"),
        col("n_over_50"), col("all_nonneg"), col("any_k99"))
      .orderBy("event_type")
  }

  // Spark 4 SQL session VARIABLES (DECLARE / SET VAR) + EXECUTE
  // IMMEDIATE: the scripting state surface — a variable computed FROM
  // DATA by one statement parameterizes the next, and EXECUTE
  // IMMEDIATE runs dynamically-assembled SQL with the variable bound
  // (the stored-procedure idiom without a procedure). The pipeline:
  // set the threshold to the 90th-percentile order price, then count
  // and total the orders above it per priority. The oracle inlines the
  // same two-step computation as a CTE.
  def sqlVariables(s: SparkSession, dir: String): DataFrame = {
    Tables.register(s, dir)
    s.sql("DECLARE OR REPLACE VARIABLE graft_thresh DOUBLE")
    s.sql("""SET VAR graft_thresh =
            |  (SELECT percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice)
            |   FROM orders)""".stripMargin)
    s.sql(
      s"""EXECUTE IMMEDIATE
        |'SELECT o_orderpriority, count(*) AS n_orders,
        |   ${femitSql("CAST(sum(CAST(o_totalprice AS DECIMAL(38,12))) AS DOUBLE)")}
        |     AS total_price
        | FROM orders WHERE o_totalprice > ?
        | GROUP BY o_orderpriority ORDER BY o_orderpriority'
        |USING graft_thresh""".stripMargin)
  }

  // Forecast BACKTEST: the naive-seasonal predictor (ŷ_d = y_{d−7})
  // scored on the final week of the daily series — MAE / MAPE / bias
  // per type. The evaluation harness every forecasting pipeline needs
  // BEFORE any model sophistication (naive-seasonal is the standard
  // baseline a real model must beat). Daily reduction first (O(types ×
  // days)), the lag via one 7-row window, errors in exact integer
  // counts — only the two final ratios are floats.
  def backtest(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val horizon = daily.agg(max(col("day")).as("maxd"))
    daily
      .withColumn("yhat", lag(col("y"), 7).over(w))
      .crossJoin(broadcast(horizon))
      .where(col("yhat").isNotNull && col("day") > col("maxd") - 7)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("y") - col("yhat"))).as("sae"),
        sum(col("y") - col("yhat")).as("sbias"),
        dsum(abs(col("y") - col("yhat")).cast("double")
          / col("y").cast("double")).as("sape"))
      .select(col("event_type"), col("n_scored"),
        femit(col("sae").cast("double") / col("n_scored").cast("double"))
          .as("mae"),
        femit(col("sape") / col("n_scored").cast("double")).as("mape"),
        femit(col("sbias").cast("double") / col("n_scored").cast("double"))
          .as("bias"))
      .orderBy("event_type")
  }

  // Rolling 14-day Pearson correlation between two event types' daily
  // count series (view vs click co-movement) — the pairwise-comovement
  // monitor. The q148 exact-moment discipline inside a window: both
  // series are exact integer counts, the five moment sums run over a
  // 14-row ROWS frame (int64-exact — no float ever enters a window
  // sum, the q170 rule), and the closed form is one fixed-order
  // expression per day. Day spine gap-filled with zeros (q129's
  // pattern) so both series align on the same days.
  def rollingCorr(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .where(col("event_type").isin("view", "click"))
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val spine = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val a = spine.join(
      daily.where(col("event_type") === "view").select(col("day"), col("y").as("x")),
      Seq("day"), "left").na.fill(0L, Seq("x"))
    val b = daily.where(col("event_type") === "click")
      .select(col("day"), col("y").as("z"))
    val j = a.join(b, Seq("day"), "left").na.fill(0L, Seq("z"))
    val w = Window.orderBy(col("day").asc).rowsBetween(-13, 0)
    j.withColumn("m", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sz", sum(col("z")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("szz", sum(col("z") * col("z")).over(w))
      .withColumn("sxz", sum(col("x") * col("z")).over(w))
      .where(col("m") === 14)
      .select(col("day"),
        when(col("m") * col("sxx") - col("sx") * col("sx") > 0 &&
             col("m") * col("szz") - col("sz") * col("sz") > 0,
          femit((col("m") * col("sxz") - col("sx") * col("sz")).cast("double")
            / (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double"))
               * sqrt((col("m") * col("szz") - col("sz") * col("sz")).cast("double")))))
          .as("corr14"))
      .orderBy("day")
  }

  // FEATURE-STORE assembly: the wide per-user feature table every
  // training pipeline materializes — activity, monetization, recency,
  // tenure, and the deterministic split assignment, all in ONE
  // partial-aggregated pass (at 100 TB the feature build IS a single
  // user-keyed hash-agg; each feature is a conditional aggregate, not
  // a separate scan). The split rides the portable content hash
  // (q69/q112's reproducibility contract: a user never migrates splits
  // under retries, repartitioning, or corpus growth).
  def featureStore(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("event_type"),
      expr("unix_micros(ts) DIV 86400000000").as("day"), col("value"))
    val horizon = ev.agg(max(col("day")).as("h"))
    val split = pmod(graft.functions.HashExprs.fnv1a32(
      "concat(cast(user_id as string), ':feat')"), lit(10L))
    ev.crossJoin(broadcast(horizon))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        countDistinct(col("day")).as("active_days"),
        (max(col("h")) - max(col("day"))).as("recency_days"),
        (max(col("day")) - min(col("day"))).as("tenure_days"),
        femit(dsum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)))).as("spend"))
      .withColumn("split",
        when(split < 8L, "train").when(split === 8L, "val").otherwise("test"))
      .orderBy("user_id")
  }

  // Partition RETENTION sweep: the storage-lifecycle job that keeps a
  // day-partitioned table at its policy horizon by DELETING expired
  // partition directories — metadata-only, O(expired partitions),
  // never a rewrite of surviving data (the whole point of partitioning
  // by the retention key). The read-back must equal the policy filter
  // over the original table: an expired row surviving, or a live
  // partition swept, turns the row red. (The 1-row horizon collect and
  // the directory deletes are the retention job's driver-side control
  // flow, exactly like a production sweeper's listing pass.)
  def retentionSweep(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("retention_events")
    val e = events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), expr("unix_micros(ts) DIV 86400000000").as("day"))
    e.write.mode("overwrite").partitionBy("day").parquet(out)
    val cutoff = e.agg(max(col("day"))).collect().head.getLong(0) - 13L
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("day=") && name.drop(4).toLong < cutoff)
        fs.delete(st.getPath, true)
    }
    s.catalog.refreshByPath(out)
    s.read.parquet(out)
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n"), femit(dsum(col("value"))).as("sum_value"))
      .orderBy("day")
  }

  // Targeted ERASURE (the GDPR/right-to-be-forgotten batch): remove
  // one user's rows by dynamically overwriting ONLY the partitions
  // that contain them — cost O(affected partitions), never O(table)
  // (q220's correction-batch machinery pointed at the governance
  // problem q184/q186 audit). The target is data-derived (min
  // user_id — guaranteed non-vacuous); the read-back must equal the
  // anti-filtered original, and the per-day target-row count column
  // proves the erasure landed partition by partition.
  def erasure(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("erasure_events")
    val e = events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), expr("unix_micros(ts) DIV 86400000000").as("day"))
    e.write.mode("overwrite").partitionBy("day").parquet(out)
    val target = e.agg(min(col("user_id")).as("t"))
    val affected = e.crossJoin(broadcast(target))
      .where(col("user_id") === col("t")).select("day").distinct()
    e.crossJoin(broadcast(target))
      .join(affected, Seq("day"), "left_semi")
      .where(col("user_id") =!= col("t"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("day"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(out)
    s.catalog.refreshByPath(out)
    s.read.parquet(out).crossJoin(broadcast(target))
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("user_id") === col("t"), 1L).otherwise(0L))
          .as("n_target_rows"),
        femit(dsum(col("value"))).as("sum_value"))
      .orderBy("day")
  }

  // Spark 4 RECURSIVE CTE through the SQL frontend: engine-managed
  // iterative fixpoint as ONE statement — the declarative twin of the
  // hand-unrolled fixed-round graph plans (q145 BFS, q210 k-core). The
  // walk enumeration is over the q210 co-purchase graph (parts sharing
  // ≥2 baskets, both directions), seeded at the smallest part key, with
  // an explicit level bound (lvl < 3) so both engines execute exactly
  // the same three expansion rounds regardless of their fixpoint
  // machinery; dist = min level is BFS distance, n_walks the exact walk
  // count. Each round is a shuffle-on-key equi-join against the frontier
  // (UnionLoop re-executes the step plan distributed — no driver loop),
  // and the level bound caps work at O(frontier × avg-degree) per
  // round — the same 100 TB posture as the unrolled plans. Every value
  // is an exact integer.
  def recursiveCte(s: SparkSession, dir: String): DataFrame = {
    // Materialize the edge table ONCE before entering the loop:
    // UnionLoop inlines CTEs, so an edge set left as a CTE would
    // re-execute the basket self-join on EVERY recursion round
    // (measured 16 s → 3 s at sf0.1). localCheckpoint is the same
    // lineage-truncation move every hand-unrolled iterative plan here
    // makes (pageRank, Lloyd); at 100 TB this is "stage the edge list,
    // then iterate over the staged table".
    val e = Tables.sql(s, dir,
      """WITH i0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |ep AS (SELECT a.pk AS a, b.pk AS b FROM i0 a JOIN i0 b
        |  ON a.ok = b.ok AND a.pk < b.pk GROUP BY a.pk, b.pk HAVING count(*) >= 2)
        |SELECT a AS src, b AS dst FROM ep
        |UNION ALL SELECT b AS src, a AS dst FROM ep""".stripMargin)
      .localCheckpoint()
    e.createOrReplaceTempView("graft_q266_edges")
    s.sql(
      """WITH RECURSIVE walks(node, lvl) AS (
        |  SELECT (SELECT min(src) FROM graft_q266_edges) AS node, 0 AS lvl
        |  UNION ALL
        |  SELECT e.dst AS node, w.lvl + 1 AS lvl
        |  FROM walks w JOIN graft_q266_edges e ON e.src = w.node
        |  WHERE w.lvl < 3)
        |SELECT node, min(lvl) AS dist, count(*) AS n_walks
        |FROM walks GROUP BY node ORDER BY node""".stripMargin)
  }

  // Apache DataSketches THETA sketches (Spark 4 built-ins): the sketch
  // family that supports set INTERSECTION and DIFFERENCE, not just
  // union — q81's HLL can merge but can never answer "users who did
  // BOTH view AND click" from per-segment state; theta can, which at
  // 100 TB means per-partition sketches materialized once and every
  // overlap question answered from O(sketch) state without rescanning.
  // Estimates can't cross engines, so the gate follows q255's pattern:
  // exact in-plan distincts ride along and the declared columns are the
  // exact values plus 5%-or-±1 bound booleans (default lgK=12 keeps the
  // gate-scale cardinalities in the sketch's exact regime, so the
  // bounds are decisive, not generous).
  def thetaSketch(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("user_id"))
    val sk = ev.groupBy("event_type")
      .agg(expr("theta_sketch_agg(user_id)").as("sk"),
        countDistinct(col("user_id")).as("nd"))
    val pairs = sk.select(col("event_type").as("et1"), col("sk").as("sk1"),
        col("nd").as("nd1"))
      .join(sk.select(col("event_type").as("et2"), col("sk").as("sk2"),
        col("nd").as("nd2")), col("et1") < col("et2"))
    // Exact pairwise overlap from per-user type sets (q203's pattern).
    val perUser = ev.distinct()
    val exact = perUser.select(col("user_id"), col("event_type").as("et1"))
      .join(perUser.select(col("user_id"), col("event_type").as("et2")),
        Seq("user_id"))
      .where(col("et1") < col("et2"))
      .groupBy("et1", "et2").agg(count(lit(1)).as("exact_inter"))
    def ok(est: Column, exact: Column): Column =
      abs(est - exact) <= greatest(lit(1L), exact * 5 / 100)
    pairs.join(exact, Seq("et1", "et2"), "left")
      .select(col("et1"), col("et2"), col("nd1"), col("nd2"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
        (col("nd1") + col("nd2") - coalesce(col("exact_inter"), lit(0L)))
          .as("exact_union"),
        ok(expr("theta_sketch_estimate(theta_intersection(sk1, sk2))"),
          coalesce(col("exact_inter"), lit(0L))).as("inter_ok"),
        ok(expr("theta_sketch_estimate(theta_union(sk1, sk2))"),
          col("nd1") + col("nd2") - coalesce(col("exact_inter"), lit(0L)))
          .as("union_ok"),
        ok(expr("theta_sketch_estimate(theta_difference(sk1, sk2))"),
          col("nd1") - coalesce(col("exact_inter"), lit(0L))).as("diff_ok"))
      .orderBy("et1", "et2")
  }

  // Kendall rank correlation (tau-b) between every pair of event types'
  // daily count series — the outlier-robust companion to q261's rolling
  // Pearson and q230's Spearman: tau counts pairwise order agreements,
  // so a single anomalous day moves it by O(1/n), not O(outlier).
  // Stream reduces to the O(types × days) daily matrix first (gap-free
  // via the q129 day spine, zeros filled); the day-pair enumeration is
  // O(days²) per type pair — bounded by the calendar, independent of
  // row count, the right trade at 100 TB. Concordant/discordant/tie
  // counts are exact int64; tau-b's closing sqrt is one fixed-order
  // IEEE expression on exact integers.
  def kendallTau(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val bounds = daily.agg(min(col("day")).as("mnd"), max(col("day")).as("mxd"))
    val spine = daily.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(mnd, mxd)")).as("day"))
    val series = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("y"), lit(0L)).as("y"))
    val m = series.select(col("event_type").as("et1"), col("day"),
        col("y").as("x"))
      .join(series.select(col("event_type").as("et2"), col("day"),
        col("y").as("yy")), Seq("day"))
      .where(col("et1") < col("et2"))
    val dp = m.select(col("et1"), col("et2"), col("day").as("d1"),
        col("x").as("x1"), col("yy").as("y1"))
      .join(m.select(col("et1"), col("et2"), col("day").as("d2"),
        col("x").as("x2"), col("yy").as("y2")), Seq("et1", "et2"))
      .where(col("d1") < col("d2"))
    dp.groupBy("et1", "et2")
      .agg(count(lit(1)).as("n0"),
        sum(when((col("x1") - col("x2")) * (col("y1") - col("y2")) > 0, 1L)
          .otherwise(0L)).as("concordant"),
        sum(when((col("x1") - col("x2")) * (col("y1") - col("y2")) < 0, 1L)
          .otherwise(0L)).as("discordant"),
        sum(when(col("x1") === col("x2"), 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("y1") === col("y2"), 1L).otherwise(0L)).as("ties_y"))
      // A series tied on EVERY pair (constant) has zero rank variance —
      // tau undefined; drop the pair on both sides rather than emit NaN.
      .where(col("n0") > col("ties_x") && col("n0") > col("ties_y"))
      .select(col("et1"), col("et2"), col("n0"), col("concordant"),
        col("discordant"),
        femit((col("concordant") - col("discordant")).cast("double")
          / sqrt(((col("n0") - col("ties_x"))
              * (col("n0") - col("ties_y"))).cast("double")))
          .as("tau_b"))
      .orderBy("et1", "et2")
  }

  // Spark 4 SQL SCRIPTING (BEGIN/DECLARE/WHILE): procedural control
  // flow around full distributed statements — the stored-procedure
  // surface q259's variables hinted at, now with a genuine loop whose
  // trip count is part of the contract. The script runs two rounds of
  // 2-sigma clipping on the event values (each round recomputes
  // mean/stddev over the surviving rows, then tightens the bounds) —
  // the classic robust-mean idiom a telemetry pipeline applies before
  // alerting. Each round is ONE distributed scan (multi-variable SET
  // fuses both moments); the loop state is two scalars on the driver —
  // exactly the work a 1000-executor cluster would do, orchestrated by
  // the engine rather than an external driver program. Float parity:
  // values are exact micro-unit int64s, moments exact (DECIMAL(38,0)
  // for the square sum — sum(vu²) overflows int64 at gate scale), and
  // mu/sig/bounds are fixed-order IEEE expressions on those exact
  // integers; the oracle unrolls the two iterations as CTEs with the
  // DuckDB-side VARCHAR decimal→double route.
  def sqlScript(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""BEGIN
        |  DECLARE it INT DEFAULT 0;
        |  DECLARE lo DOUBLE DEFAULT -1e308;
        |  DECLARE hi DOUBLE DEFAULT 1e308;
        |  DECLARE mu DOUBLE; DECLARE sig DOUBLE;
        |  WHILE it < 2 DO
        |    SET (mu, sig) = (SELECT CAST(sum(vu) AS DOUBLE) / count(*),
        |        sqrt(CAST(count(*) * sum(CAST(vu AS DECIMAL(38,0)) * vu)
        |            - CAST(sum(vu) AS DECIMAL(38,0)) * sum(vu) AS DOUBLE)
        |          / (CAST(count(*) AS DOUBLE) * (count(*) - 1)))
        |      FROM (SELECT CAST(round(value * 1000000) AS BIGINT) AS vu
        |            FROM events)
        |      WHERE CAST(vu AS DOUBLE) >= lo AND CAST(vu AS DOUBLE) <= hi);
        |    SET lo = mu - 2.0D * sig;
        |    SET hi = mu + 2.0D * sig;
        |    SET it = it + 1;
        |  END WHILE;
        |  SELECT count(*) AS n_kept,
        |    ${femitSparkSql("CAST(sum(vu) AS DOUBLE) / count(*) / 1e6D")} AS clipped_mean,
        |    ${femitSparkSql("lo / 1e6D")} AS lo_value,
        |    ${femitSparkSql("hi / 1e6D")} AS hi_value
        |  FROM (SELECT CAST(round(value * 1000000) AS BIGINT) AS vu FROM events)
        |  WHERE CAST(vu AS DOUBLE) >= lo AND CAST(vu AS DOUBLE) <= hi;
        |END""".stripMargin)

  // Holt double exponential smoothing (level + trend) per event type
  // over the zero-filled daily count series — the first forecasting
  // model past q260's naive-seasonal baseline and the state producer a
  // q260-style backtest would score. The stream reduces to the
  // O(types × days) daily matrix first; the inherently sequential
  // recurrence then folds over ONE ordered array per type (bounded by
  // the calendar, not the row count — at 100 TB the fold input is still
  // ~10³ doubles per type). α=1/2 and β=1/4 are exact binary fractions
  // and both engines execute the identical operation order (the trend
  // update recomputes the new level expression verbatim), so every
  // intermediate is bit-identical IEEE — no decimal route needed. Init:
  // level=y₀, trend=0 (documented choice; any init is part of the
  // contract). The oracle replays the recurrence as a recursive CTE.
  def holtWinters(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val bounds = daily.agg(min(col("day")).as("mnd"), max(col("day")).as("mxd"))
    val spine = daily.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(mnd, mxd)")).as("day"))
    val series = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("y"), lit(0L)).as("y"))
    series.groupBy("event_type")
      .agg(expr("transform(array_sort(collect_list(struct(day, y))), " +
        "p -> CAST(p.y AS DOUBLE))").as("ys"))
      .select(col("event_type"), size(col("ys")).as("n_days"),
        expr("""aggregate(slice(ys, 2, size(ys) - 1),
          |  named_struct('lvl', element_at(ys, 1), 'tr', 0D),
          |  (acc, y) -> named_struct(
          |    'lvl', 0.5D * y + 0.5D * (acc.lvl + acc.tr),
          |    'tr', 0.25D * ((0.5D * y + 0.5D * (acc.lvl + acc.tr)) - acc.lvl)
          |      + 0.75D * acc.tr))""".stripMargin).as("st"))
      .select(col("event_type"), col("n_days"),
        femit(col("st.lvl")).as("level"),
        femit(col("st.tr")).as("trend"),
        femit(col("st.lvl") + col("st.tr")).as("forecast_next"))
      .orderBy("event_type")
  }

  // In-plan model training: logistic regression by batch gradient
  // descent, three unrolled full-batch steps — the distributed-ML
  // primitive underneath every quality-classifier filter (q88/q104
  // SCORE with fixed weights; this TRAINS them). Each step is one scan:
  // the gradient is a pair of sums over rows (map-side partial agg),
  // the weight update a driver-free 1-row broadcast into the next
  // step's per-row sigmoid — the q47-kmeans composition applied to a
  // differentiable model, O(scan × steps) with no driver loop over
  // data. Label: event is a click; feature: standardized micro-unit
  // value (exact integer moments, q268's route). Float parity: per-row
  // exp/ln are libm-identical inputs (standardization is fixed-order
  // IEEE on exact integers); gradient sums ride dsum's DECIMAL(38,12)
  // quantization, which absorbs any last-ulp libm divergence (≤1e-12
  // absolute per sum — invisible at the rounded output, and the
  // logistic map does not amplify it across three steps). The oracle
  // unrolls the same three steps as CTEs.
  def logisticGd(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(
      expr("CAST(round(value * 1000000) AS BIGINT)").as("vu"),
      when(col("event_type") === "click", lit(1.0)).otherwise(lit(0.0)).as("y"))
    val st = ev.agg(count(lit(1)).as("n"), sum(col("vu")).as("sx"),
        sum(col("vu").cast("decimal(38,0)") * col("vu")).as("sxx"))
      .select(col("n"), col("n").cast("double").as("nd"),
        (col("sx").cast("double") / col("n")).as("mu"),
        sqrt((col("n") * col("sxx") - col("sx").cast("decimal(38,0)") * col("sx"))
          .cast("double")
          / (col("n").cast("double") * (col("n") - lit(1)))).as("sd"))
    // r15: the standardized frame feeds 3 gradient steps + the loss
    // pass — un-checkpointed, each execution re-scanned events twice
    // (feature read + nested moment agg). Values unchanged.
    val base = ev.crossJoin(broadcast(st))
      .select(((col("vu").cast("double") - col("mu")) / col("sd")).as("x"),
        col("y"), col("nd"))
      .localCheckpoint()
    def p: Column = lit(1.0) / (lit(1.0) + exp(-(col("w0") + col("w1") * col("x"))))
    var w = s.range(1).select(lit(0.0).as("w0"), lit(0.0).as("w1"))
    for (_ <- 1 to 3) {
      val g = base.crossJoin(broadcast(w))
        .agg(dsum(p - col("y")).as("g0s"),
          dsum((p - col("y")) * col("x")).as("g1s"),
          first(col("w0")).as("w0"), first(col("w1")).as("w1"),
          first(col("nd")).as("nd"))
      w = g.select((col("w0") - lit(0.5) * (col("g0s") / col("nd"))).as("w0"),
        (col("w1") - lit(0.5) * (col("g1s") / col("nd"))).as("w1"))
    }
    base.crossJoin(broadcast(w))
      .agg(count(lit(1)).as("n"),
        dsum(-(col("y") * log(p) + (lit(1.0) - col("y")) * log(lit(1.0) - p)))
          .as("lsum"),
        first(col("w0")).as("w0"), first(col("w1")).as("w1"),
        first(col("nd")).as("nd"))
      .select(col("n"), femit(col("w0")).as("w0"),
        femit(col("w1")).as("w1"),
        femit(col("lsum") / col("nd")).as("log_loss"))
  }

  // Kruskal–Wallis H (rank ANOVA): does the value distribution differ
  // across ALL event types at once — the k-group completion of q190's
  // two-sample Mann–Whitney and the rank-robust twin of q197's ANOVA.
  // Pooled average ranks come from the q199 two-phase prefix sum
  // (within-cell window + tiny cell-offset table — no global
  // single-partition pass at any scale); values are exact micro-unit
  // int64s, every rank is an exact integer-plus-half on the double
  // grid, rank sums ride dsum, and the tie-corrected H is one
  // fixed-order closing expression. Output: one row (N, groups, H,
  // tie-corrected H).
  def kruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val pts = events(s, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("vu"))
    val cells = pts.groupBy("vu", "event_type").agg(count(lit(1)).as("c"))
    val vals = cells.groupBy("vu").agg(sum(col("c")).as("t"))
      .withColumn("cell", expr("vu DIV 50000000"))
    val inCell = Window.partitionBy("cell").orderBy(col("vu").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cellTotals = vals.groupBy("cell").agg(sum(col("t")).as("cell_cnt"))
      .withColumn("cell_offset",
        coalesce(sum(col("cell_cnt")).over(
          Window.orderBy(col("cell").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("cell", "cell_offset")
    val ranked = vals
      .withColumn("off_in", coalesce(sum(col("t")).over(inCell), lit(0L)))
      .join(broadcast(cellTotals), "cell")
      .select(col("vu"), col("t"),
        ((col("cell_offset") + col("off_in")).cast("double")
          + (col("t").cast("double") + 1.0) / 2.0).as("avgrank"))
    val perGroup = cells.join(ranked, "vu")
      .groupBy("event_type")
      .agg(sum(col("c")).as("ng"),
        dsum(col("c").cast("double") * col("avgrank")).as("sr"))
    val ties = ranked.agg(
      sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
    perGroup
      .agg(sum(col("ng")).as("n"), count(lit(1)).as("n_groups"),
        dsum(col("sr") * col("sr") / col("ng").cast("double")).as("s2"))
      .crossJoin(broadcast(ties))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("h",
        lit(12.0) / (col("nd") * (col("nd") + 1.0)) * col("s2")
          - lit(3.0) * (col("nd") + 1.0))
      .select(col("n"), col("n_groups"), femit(col("h")).as("h"),
        femit(col("h") / (lit(1.0) - col("tie3").cast("double")
          / (col("n") * col("n") * col("n") - col("n")).cast("double")))
          .as("h_corrected"))
  }

  // Modern-SQL ergonomics surface: an inline VALUES dimension (the
  // lookup nobody should need a parquet file for), GROUP BY ALL
  // (grouping keys inferred = every non-aggregate output), ORDER BY ALL
  // (total order over the full output row — the determinism this
  // repo's gate demands, as a one-keyword contract). Identical text
  // runs on DuckDB. The tiny VALUES side broadcasts; the fact scan
  // aggregates in one pass.
  def modernSql(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      s"""SELECT t.tier, o.o_orderpriority, count(*) AS n_orders,
        |  ${femitSql("CAST(sum(CAST(o_totalprice AS DECIMAL(38,12))) AS DOUBLE)")}
        |    AS total_price
        |FROM orders o JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
         |    ('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'),
         |    ('5-LOW', 'cold')) AS t(prio, tier)
         |  ON o.o_orderpriority = t.prio
         |GROUP BY ALL ORDER BY ALL""".stripMargin)

  // DISTRIBUTE BY / SORT BY through the SQL frontend: the explicit
  // clustering surface (Hive's legacy spelling of repartition +
  // sortWithinPartitions). The point at 100 TB: a downstream aggregate
  // on the SAME key rides the explicit exchange instead of adding its
  // own — output partitioning is a contract the planner honors
  // (PlanSpec pins exactly one hash exchange in this plan). Clustering
  // can never change RESULTS: the oracle computes the same per-order
  // profile with no clustering clause at all.
  def distributeBy(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir,
      """SELECT count(*) AS n_orders, max(n_lines) AS max_lines,
        |  CAST(sum(n_lines) AS BIGINT) AS total_lines,
        |  CAST(max(qty) AS BIGINT) AS max_order_qty
        |FROM (
        |  SELECT l_orderkey, count(*) AS n_lines,
        |    sum(CAST(round(l_quantity) AS BIGINT)) AS qty
        |  FROM (SELECT * FROM lineitem DISTRIBUTE BY l_orderkey
        |        SORT BY l_orderkey)
        |  GROUP BY l_orderkey)""".stripMargin)

  // LOCF (last observation carried forward) — the gap-fill idiom q129's
  // zero-fill cannot express: per user, the most recent purchase value
  // propagates across missing days via last(..., ignoreNulls) over an
  // unbounded-preceding frame (DuckDB: last_value(x IGNORE NULLS)) —
  // the feature-engineering standard for slowly-changing observations
  // (price in effect, last known balance). Day grain collapses first
  // (latest purchase per (user, day), pinned by (ts, event_id)); the
  // declared result is the per-user fill census with exact micro-unit
  // checksums, so a wrong carry anywhere changes a sum. The per-user
  // window is calendar-bounded.
  def locf(s: SparkSession, dir: String): DataFrame = {
    val p = events(s, dir)
      .where(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("vu"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    val daily = p.groupBy("user_id", "day")
      .agg(max(struct(col("us"), col("event_id"), col("vu"))).as("m"))
      .select(col("user_id"), col("day"), col("m.vu").as("vu"))
    val bounds = daily.agg(min(col("day")).as("mnd"), max(col("day")).as("mxd"))
    val spine = daily.select("user_id").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(expr("sequence(mnd, mxd)")).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled", last(col("vu"), ignoreNulls = true).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("vu").isNotNull, 1L).otherwise(0L)).as("n_obs"),
        sum(when(col("filled").isNotNull && col("vu").isNull, 1L)
          .otherwise(0L)).as("n_filled"),
        coalesce(sum(col("filled")), lit(0L)).as("sum_filled_vu"))
      .orderBy("user_id")
  }

  // Offline changepoint localization by one round of binary
  // segmentation (the batch companion to q170's online CUSUM): for each
  // event type, the split day maximizing the SSE reduction between the
  // one-segment and two-segment fits of the daily count series. All
  // candidate splits are scored in ONE pass — running (k, Σy, Σy²)
  // prefix moments via a window, totals joined back, each split's cost
  // a fixed-order expression on exact int64 moments. The argmax rides
  // the ROUNDED drop with the day tiebreak (the q207 rule: never rank
  // on a raw double the oracle ranks by alias). O(types × days) rows
  // end to end.
  def changepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val bounds = daily.agg(min(col("day")).as("mnd"), max(col("day")).as("mxd"))
    val spine = daily.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(mnd, mxd)")).as("day"))
    val series = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("y"), lit(0L)).as("y"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = series
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
    val tot = series.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("ty"),
        sum(col("y") * col("y")).as("tyy"))
    def sse(n: Column, sy: Column, syy: Column): Column =
      syy.cast("double") - sy.cast("double") * sy.cast("double") / n.cast("double")
    val costs = pre.join(tot, "event_type")
      .where(col("k") < col("n"))
      .withColumn("sse_drop", femit(
        sse(col("n"), col("ty"), col("tyy"))
          - (sse(col("k"), col("sy"), col("syy"))
            + sse(col("n") - col("k"), col("ty") - col("sy"),
              col("tyy") - col("syy")))))
    val rw = Window.partitionBy("event_type")
      .orderBy(col("sse_drop").desc, col("day").asc)
    costs.withColumn("rn", row_number().over(rw)).where(col("rn") === 1)
      .select(col("event_type"), col("day").as("split_day"),
        col("k").as("n_left"), (col("n") - col("k")).as("n_right"),
        femit(col("sy").cast("double") / col("k").cast("double"))
          .as("mean_left"),
        femit((col("ty") - col("sy")).cast("double")
          / (col("n") - col("k")).cast("double")).as("mean_right"),
        col("sse_drop"))
      .orderBy("event_type")
  }

  // DRIVER-ENVIRONMENT PROBE (VERDICT r8 item 7): one constant row whose
  // columns each exercise a cross-engine drift class the round-8 gate
  // tripped on — read it FIRST when a future round shows a wall of
  // hash-red stat rows. Column → class: sum_i (DuckDB HUGEINT sums vs
  // int64), round_ladder / half_boundary (round half-mode on the
  // femit IEEE lattice), neg_zero (-0.0 collapse), nan_to_null (Spark
  // 0/0 = NaN vs DuckDB 0/0 = NULL, both forced NULL at emission),
  // json_k (JSON path extraction semantics). If ONLY this row is red,
  // the driver's DuckDB/pandas changed behavior in the flagged class;
  // the engine itself is fine. See README "Reading q317".
  def engineProbe(s: SparkSession, dir: String): DataFrame =
    s.range(1, 6).toDF("i").agg(
      count(lit(1)).as("n"),
      sum(col("i")).as("sum_i"),
      femit(lit(1.5e-6)).as("round_ladder"),
      femit(lit(-1e-9)).as("neg_zero"),
      femit(lit(Double.NaN)).as("nan_to_null"),
      femit(lit(0.1234565)).as("half_boundary"),
      get_json_object(lit("""{"k":7}"""), "$.k").cast("long").as("json_k"))

  /** Derandomized Poisson bootstrap CI for the per-type mean of
    * `value` (Chamandy et al., "Estimating Uncertainty for Massive
    * Data Streams", Google TR 2012 — the one-pass bootstrap that
    * scales: replicate b resamples row i with weight
    * w ~ Poisson(1), never materializing resamples). The Poisson draw
    * is DERANDOMIZED: u = fnv1a32(event_id:b:boot)/2³² inverted
    * through the exact Poisson(1) CDF ladder (cumulative literals
    * e⁻¹·Σ1/k!, identical text on both engines, capped at 6 where the
    * tail mass is 8e-5) — reproducible on any engine, cluster, or
    * retry, and oracle-checkable. Each replicate's mean is the ratio
    * estimator Σw·v / Σw; the 95% CI takes order statistics 2 and
    * B−1 of the B=40 replicate means (exact order stats of
    * bit-deterministic doubles — both engines sort identical bits,
    * with the replicate id as tiebreak).
    *
    * Scale: ONE pass over events expanded ×B inside codegen (narrow —
    * no shuffle grows with B); the aggregate reduces to |types|·B
    * cells map-side; the CI order-statistic window runs on B rows per type. The
    * derandomized draw means no RNG state coordination across 1000
    * executors — the property that makes the Poisson bootstrap THE
    * production bootstrap. */
  def poissonBootstrap(s: SparkSession, dir: String): DataFrame = {
    val B = 40
    // r15: the replicate draw hashed concat(id, ':', b, ':boot') per
    // exploded row — B id re-hashes + string builds per event. The id
    // prefix now hashes ONCE per event; each replicate folds its 1-2
    // digits + the ':boot' constant as long arithmetic (bit-identical;
    // see HashExprs.fnvFoldSmallInt and the PropertySpec pin).
    val ev = events(s, dir).where(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"))
    val hpre = graft.functions.HashExprs.fnvFoldConst(
      graft.functions.HashExprs.fnv1a32("cast(event_id as string)"), ":")
    val u = graft.functions.HashExprs.fnvFoldConst(
      graft.functions.HashExprs.fnvFoldSmallInt(col("hpre"), col("b")),
      ":boot").cast("double") / lit(4294967296.0)
    val w = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .otherwise(6L)
    val means = ev
      .select(col("event_type"), col("value"), hpre.as("hpre"),
        explode(expr(s"sequence(0, ${B - 1})")).as("b"))
      .withColumn("w", w)
      .groupBy("event_type", "b")
      .agg((dsum(col("w").cast("double") * col("value")) /
        nullif(sum(col("w")).cast("double"), lit(0.0))).as("mb"))
    // mb is NULL when a replicate's total weight is 0 (degenerate
    // tiny group — Σw = 0 across all rows): Spark sorts NULLs FIRST,
    // DuckDB LAST, so an implicit-NULLS ordering would shift the
    // r=2/r=39 order statistics cross-engine. asc_nulls_last pins the
    // Spark side; the oracle says NULLS LAST (ADVICE r10).
    val byType = Window.partitionBy("event_type")
      .orderBy(col("mb").asc_nulls_last, col("b").asc)
    val ci = means.withColumn("r", row_number().over(byType))
      .groupBy("event_type")
      .agg(min(when(col("r") === 2, col("mb"))).as("lo"),
        min(when(col("r") === B - 1, col("mb"))).as("hi"))
    val pt = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        (dsum(col("value")) / count(lit(1))).as("mean0"))
    pt.join(ci, "event_type")
      .select(col("event_type"), col("n_events"),
        lit(B.toLong).as("n_replicates"),
        femit(col("mean0")).as("point_mean"),
        femit(col("lo")).as("ci_lo"), femit(col("hi")).as("ci_hi"))
      .orderBy("event_type")
  }

  /** Functional-dependency audit (the DEPENDENCY slice of data
    * profiling — Papenbrock et al., VLDB 2015's FD-discovery problem
    * restricted to a declared candidate set, which is how production
    * profilers run it): for each candidate lhs→rhs, exact counts of
    * distinct lhs values, distinct (lhs, rhs) pairs, and lhs values
    * carrying &gt;1 distinct rhs (the violating keys). `holds` = no
    * violating key. NULLs group as values (the SQL-profiler
    * convention; both engines agree under GROUP BY).
    *
    * Scale: each candidate is one 2-column pruned scan into a
    * (lhs, rhs)-distinct map-side aggregate, then a per-lhs count —
    * shuffle bounded by distinct pairs, never rows. Candidates run as
    * a union of independent aggregates (a profiler batches per
    * column-pair; no cross-candidate state exists). */
  def fdAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val ev = events(s, dir)
    def audit(df: DataFrame, fd: String, lhs: String,
              rhs: String): DataFrame = {
      val perLhs = df.select(col(lhs).as("l"), col(rhs).as("r"))
        .distinct()
        .groupBy("l").agg(count(lit(1)).as("nr"))
      perLhs.agg(
        lit(fd).as("fd"),
        count(lit(1)).as("n_lhs"),
        sum(col("nr")).as("n_pairs"),
        sum(when(col("nr") > 1, 1L).otherwise(0L)).as("n_violating_lhs"))
        .select(col("fd"), col("n_lhs"), col("n_pairs"),
          col("n_violating_lhs"),
          when(col("n_violating_lhs") === 0, 1L).otherwise(0L).as("holds"))
    }
    audit(docs, "doc_id->lang", "doc_id", "lang")
      .unionAll(audit(docs, "lang->source", "lang", "source"))
      .unionAll(audit(docs, "source->lang", "source", "lang"))
      .unionAll(audit(ev, "event_id->event_type", "event_id", "event_type"))
      .unionAll(audit(ev, "user_id->event_type", "user_id", "event_type"))
      .orderBy("fd")
  }

  /** Off-policy evaluation of logged interaction data: inverse
    * propensity scoring (Horvitz–Thompson 1952 as applied to logged
    * bandits — Li et al., WSDM 2011) and its self-normalized variant
    * (Swaminathan &amp; Joachims, NeurIPS 2015), evaluating each
    * "always play action a" target policy against the log. The
    * logging propensity p(a | user) is the user's empirical action
    * share, so the importance weight for a matching event is
    * n_user / n_{user,a} — exact integer counts, one IEEE division.
    * Emits per target action: matched events, the IPS estimate
    * (Σw·r / N — unbiased, high variance), SNIPS (Σw·r / Σw — biased,
    * low variance; the one production uses), and the direct on-policy
    * mean of matching rewards for reference.
    *
    * Determinism: weights are ratios of exact BIGINT counts; both
    * estimator sums ride the dsum lattice; every float output is
    * femit'd. Events with NULL reward are excluded from the log
    * (both engines, same predicate).
    *
    * Scale: one (user, action) count aggregate + one broadcast-sized
    * per-user total join back onto the log — the per-event weight is
    * a map; each estimator is one map-side-combined aggregate keyed
    * by the 5 target actions. No all-pairs anywhere. */
  def snipsOffPolicy(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).where(col("value").isNotNull)
      .select(col("user_id"), col("event_type"), col("value"))
    val ua = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_ua"))
    val u = ua.groupBy("user_id").agg(sum(col("n_ua")).as("n_u"))
    val n = ev.agg(count(lit(1)).as("n_log"))
    val w = ev.join(ua, Seq("user_id", "event_type")).join(u, "user_id")
      .select(col("event_type"), col("value"),
        (col("n_u").cast("double") / col("n_ua").cast("double")).as("w"))
    w.crossJoin(broadcast(n))
      .groupBy(col("event_type").as("target"))
      .agg(count(lit(1)).as("n_match"),
        femit(dsum(col("w") * col("value")) /
          min(col("n_log")).cast("double")).as("ips"),
        femit(dsum(col("w") * col("value")) / dsum(col("w"))).as("snips"),
        femit(dsum(col("value")) / count(lit(1)).cast("double"))
          .as("direct_mean"))
      .orderBy("target")
  }

  /** Tukey HSD post-hoc pairwise comparison (Tukey 1949, the
    * Tukey–Kramer unequal-n form): q197's ANOVA says SOME event-type
    * means differ; this says WHICH pairs — every pairwise |mean
    * difference| against the studentized-range criterion
    * q·SE, SE = √(MSE/2 · (1/nᵢ + 1/nⱼ)) with the pooled within-group
    * MSE, at the α=0.05, k=5, df=∞ critical value 3.858 (a shared
    * literal — the studentized-range quantile has no closed form and
    * production keeps the same lookup).
    *
    * Determinism: group moments are exact dsum sums; the 5-row
    * within-mass fold rides dsum again (even 5 doubles are
    * association-hazardous); every pair statistic is one fixed-order
    * IEEE expression; the flag is an exact comparison against the
    * shared literal.
    *
    * Scale: one map-side-combined moment aggregate; everything after
    * runs on k rows and k² pairs. */
  def tukeyHsd(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).where(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val g = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sv"),
        dsum(col("value") * col("value")).as("svv"))
      .localCheckpoint() // k rows; feeds the MSE fold AND the pair cross
    val mse = g.agg(
      (dsum(col("svv") - col("sv") * col("sv") / col("n").cast("double")) /
        (sum(col("n")) - count(lit(1))).cast("double")).as("mse"))
    val a = g.select(col("event_type").as("type_a"), col("n").as("na"),
      (col("sv") / col("n").cast("double")).as("ma"))
    val b = g.select(col("event_type").as("type_b"), col("n").as("nb"),
      (col("sv") / col("n").cast("double")).as("mb"))
    val crit = 3.858 // studentized range q(0.05, k=5, df=inf)
    a.crossJoin(b).where(col("type_a") < col("type_b"))
      .crossJoin(broadcast(mse))
      .select(col("type_a"), col("type_b"),
        femit(abs(col("ma") - col("mb"))).as("mean_diff"),
        femit(sqrt((col("mse") / lit(2.0)) *
          (lit(1.0) / col("na").cast("double") +
            lit(1.0) / col("nb").cast("double")))).as("se"),
        femit(abs(col("ma") - col("mb")) /
          sqrt((col("mse") / lit(2.0)) *
            (lit(1.0) / col("na").cast("double") +
              lit(1.0) / col("nb").cast("double")))).as("q_stat"),
        when(abs(col("ma") - col("mb")) /
          sqrt((col("mse") / lit(2.0)) *
            (lit(1.0) / col("na").cast("double") +
              lit(1.0) / col("nb").cast("double"))) > crit, 1L)
          .otherwise(0L).as("significant"))
      .orderBy("type_a", "type_b")
  }

  /** Temporal PSI drift monitor: q181's two-snapshot population
    * stability index promoted to the WEEKLY series every production
    * drift dashboard actually plots — PSI(week_w ‖ week_0) over the
    * same fixed value bins and Laplace smoothing, one row per
    * non-reference week. The reference stays pinned at week 0 (the
    * deployment-time snapshot convention), so a slow drift accumulates
    * instead of hiding in week-over-week deltas.
    *
    * Determinism: week indices are exact integer day arithmetic off
    * the corpus min-day (no timezone or ISO-week engine variance);
    * smoothing, per-bin terms, and the dsum fold follow q181, but the
    * bin domain here is the CLOSED fixed grid 0–9 (NULLs dropped,
    * negatives clamped) — unlike q181, which keeps every observed bin
    * as its own term row — so per-bin mass always equals the totals.
    *
    * Scale: one scan into a (week, bin) hash-agg — cells, not rows,
    * after that. */
  def temporalPsi(s: SparkSession, dir: String): DataFrame = {
    // NULL values are dropped and negatives clamp into bin 0 (ADVICE
    // r10): every event that contributes to the weekly totals tw/t0
    // must land in a bin 0–9, or the smoothed p0/pw stop summing to 1
    // and that mass silently vanishes from the PSI fold.
    val base = events(s, dir).where(col("value").isNotNull).select(
        expr("unix_micros(ts) DIV 86400000000").as("day"),
        greatest(least(floor(col("value") / 50.0).cast("long"), lit(9L)),
          lit(0L)).as("bin"))
      .localCheckpoint() // feeds the min-day anchor AND the census
    val wk = base.crossJoin(broadcast(base.agg(min(col("day")).as("d0"))))
      .select(expr("(day - d0) DIV 7").as("week"), col("bin"))
    val binned = wk.groupBy("week", "bin").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // (weeks x bins) cells; feeds ref + grid + totals
    val ref = binned.where(col("week") === 0)
      .select(col("bin"), col("cnt").as("n0"))
    val t0 = ref.agg(sum(col("n0")).as("t0"))
    val weeks = binned.where(col("week") > 0)
      .groupBy("week").agg(sum(col("cnt")).as("tw"))
    val bins = s.range(0, 10).toDF("bin")
    val grid = weeks.crossJoin(broadcast(bins))
      .join(binned, Seq("week", "bin"), "left")
      .join(broadcast(ref), Seq("bin"), "left")
      .crossJoin(broadcast(t0))
      .select(col("week"), col("tw"),
        ((coalesce(col("n0"), lit(0L)) + 1L).cast("double") /
          (col("t0") + 10L).cast("double")).as("p0"),
        ((coalesce(col("cnt"), lit(0L)) + 1L).cast("double") /
          (col("tw") + 10L).cast("double")).as("pw"))
      .withColumn("term",
        (col("pw") - col("p0")) * log(col("pw") / col("p0")))
    grid.groupBy("week")
      .agg(min(col("tw")).as("n_events"),
        femit(dsum(col("term"))).as("psi"))
      .orderBy("week")
  }

  /** Goh–Barabási burstiness (EPL 2008) of per-user inter-event times,
    * per event type: B = (σ − μ)/(σ + μ) over the gaps between a
    * user's consecutive events of that type — B → −1 for a periodic
    * process, 0 for Poisson, → 1 for extreme burstiness; the
    * behavioral-tempo diagnostic next to q134's EWMA (level) and
    * q194's ACF (memory).
    *
    * Determinism: gaps are exact microsecond-long differences ordered
    * by (ts, event_id); moments ride dsum; σ, μ, and B are one
    * fixed-order IEEE chain; degenerate σ+μ=0 emits NULL via nullif.
    *
    * Scale: one keyed lag window (partitioned by (type, user) — never
    * a global window) + a map-side-combined moment aggregate. */
  def burstiness(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type", "user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    val gaps = events(s, dir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("event_type"),
        ((col("us") - col("prev")).cast("double") / lit(1000000.0))
          .as("gap"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        (dsum(col("gap")) / count(lit(1)).cast("double")).as("mu"),
        dsum(col("gap") * col("gap")).as("sgg"),
        dsum(col("gap")).as("sg"))
      .select(col("event_type"), col("n_gaps"),
        femit(col("mu")).as("mean_gap_s"),
        femit(sqrt((col("sgg") - col("sg") * col("sg") /
          col("n_gaps").cast("double")) / col("n_gaps").cast("double")))
          .as("sd_gap_s"),
        femit((sqrt((col("sgg") - col("sg") * col("sg") /
          col("n_gaps").cast("double")) / col("n_gaps").cast("double")) -
          col("mu")) /
          nullif(sqrt((col("sgg") - col("sg") * col("sg") /
            col("n_gaps").cast("double")) / col("n_gaps").cast("double")) +
            col("mu"), lit(0.0))).as("burstiness"))
      .orderBy("event_type")
  }

  /** Trimmed and winsorized means per event type (Tukey's robust
    * location estimators — the gap between q200's MAD, which is a
    * SCALE estimator, and the plain mean q1-family aggregates): drop
    * (trimmed) or clamp (winsorized) the outer 10% of order statistics
    * on each side. Cut ranks are exact integer arithmetic
    * (lo = floor(n/10), hi = n − lo; keep ranks in (lo, hi]), with the
    * (value, event_id) tiebreak making the order total.
    *
    * Determinism: one row_number window per type on bit-identical
    * doubles; boundary values are exact order statistics; means ride
    * dsum.
    *
    * Scale: one keyed rank window (partitioned by type — never
    * global) + two map-side aggregates. */
  def trimmedMeans(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).where(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").asc, col("event_id").asc)
    val ranked = ev.withColumn("r", row_number().over(w))
      .localCheckpoint() // feeds the counts, boundaries, and both means
    val n = ranked.groupBy("event_type").agg(count(lit(1)).as("n"))
      .withColumn("lo", expr("n DIV 10"))
      .withColumn("hi", col("n") - col("lo"))
    val j = ranked.join(broadcast(n), "event_type")
    val bounds = j.groupBy("event_type")
      .agg(min(when(col("r") === col("lo") + 1, col("value"))).as("vlo"),
        min(when(col("r") === col("hi"), col("value"))).as("vhi"))
    j.join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(min(col("n")).as("n"),
        femit(dsum(col("value")) / count(lit(1)).cast("double"))
          .as("plain_mean"),
        femit(dsum(when(col("r") > col("lo") && col("r") <= col("hi"),
          col("value"))) /
          sum(when(col("r") > col("lo") && col("r") <= col("hi"), 1L)
            .otherwise(0L)).cast("double")).as("trimmed_mean"),
        femit(dsum(greatest(least(col("value"), col("vhi")), col("vlo"))) /
          count(lit(1)).cast("double")).as("winsorized_mean"))
      .orderBy("event_type")
  }

  /** Two-round iterative proportional fitting (raking — Deming &amp;
    * Stephan 1940; the survey-statistics balancer a data-mixture
    * pipeline uses to hit target marginals): reweight the
    * (source-bucket × lang) document contingency so each lang's
    * weighted mass approaches the UNIFORM target share while the
    * source-bucket marginal re-balances in alternation. Two unrolled
    * IPF rounds (row-fit then column-fit, twice), emitting per-cell
    * weights and the post-fit marginal gaps — the convergence evidence.
    *
    * Determinism: the contingency is exact counts; every fit factor is
    * one fixed-order division of dsum masses; targets are exact
    * literals (1/|levels| with the DOUBLE-division text shared by both
    * engines).
    *
    * Scale: everything after the one corpus scan runs on the
    * |buckets|×|langs| cell table. */
  def raking(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val cells = docs.select(
        expr("CAST(substr(source, 4) AS BIGINT) % 4").as("sb"),
        col("lang"))
      .groupBy("sb", "lang").agg(count(lit(1)).as("c"))
      .withColumn("w0", col("c").cast("double"))
      .localCheckpoint()
    val nTot = cells.agg(sum(col("c")).as("nn"))
    // round 1: fit lang marginals to uniform 1/5, then source buckets
    // to uniform 1/4; round 2 repeats — classic alternating IPF
    def fitLang(in: DataFrame, wCol: String, out: String): DataFrame = {
      val m = in.groupBy("lang").agg(dsum(col(wCol)).as("lm"))
      in.join(broadcast(m), "lang").crossJoin(broadcast(nTot))
        .withColumn(out, col(wCol) *
          ((col("nn").cast("double") / lit(5.0)) / col("lm")))
        .drop("lm", "nn")
    }
    def fitSb(in: DataFrame, wCol: String, out: String): DataFrame = {
      val m = in.groupBy("sb").agg(dsum(col(wCol)).as("sm"))
      in.join(broadcast(m), "sb").crossJoin(broadcast(nTot))
        .withColumn(out, col(wCol) *
          ((col("nn").cast("double") / lit(4.0)) / col("sm")))
        .drop("sm", "nn")
    }
    val fitted = fitSb(fitLang(fitSb(fitLang(cells, "w0", "w1"),
      "w1", "w2"), "w2", "w3"), "w3", "w4")
      .localCheckpoint() // cells; feeds the rows AND the gap audit
    val gap = fitted.groupBy("lang").agg(dsum(col("w4")).as("lmass"))
      .crossJoin(broadcast(nTot))
      .agg(max(abs(col("lmass") / col("nn").cast("double") - lit(0.2)))
        .as("max_lang_gap"))
    fitted.crossJoin(broadcast(gap)).crossJoin(broadcast(nTot))
      .select(col("sb"), col("lang"), col("c"),
        femit(col("w4")).as("weight"),
        femit(col("w4") / col("c").cast("double")).as("per_doc_factor"),
        femit(col("max_lang_gap")).as("max_lang_gap"))
      .orderBy("sb", "lang")
  }

  /** Cross-source QUANTILE NORMALIZATION of a per-doc metric (Bolstad
    * et al., Bioinformatics 2003 — the alignment move a mixing
    * pipeline runs to put per-source score distributions on one scale
    * before comparing thresholds across sources): each document maps
    * to the POOLED corpus value at its within-source quantile, so
    * every source's normalized n_chars distribution becomes the
    * pooled one. Reported as the per-source summary (raw vs
    * normalized means converge ⇔ the sources' shapes differed only by
    * a monotone warp).
    *
    * Determinism: within-source ranks are total-ordered (metric,
    * doc_id); the target pooled rank is PURE INTEGER arithmetic —
    * r = ⌈(2·rs−1)·N / (2·n_s)⌉ computed as
    * ((2rs−1)N + 2n_s − 1) div (2n_s), never a float quantile
    * boundary; the pooled lookup is an interval join prev &lt; r ≤ cum
    * on exact counts. The only floats are the two femit'd means.
    *
    * Scale: per-source windows are PARTITIONED (no global row window);
    * the pooled cumulative table lives at VALUE-DOMAIN grain (distinct
    * n_chars ≪ rows — the decisionStump bound; a continuous metric
    * pre-bins exactly like a GBDT histogram), so it broadcasts into a
    * range join. One scan, two hash-aggs, one broadcast join. */
  def quantileNorm(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val bySrc = Window.partitionBy("source")
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    val ranked = d
      .withColumn("rs", row_number().over(bySrc).cast("long"))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy("source")))
    val pooledTot = d.agg(count(lit(1)).as("nn"))
    val pooled = d.groupBy("n_chars").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("n_chars").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev", col("cum") - col("c"))
      .select(col("n_chars").as("qv"), col("prev"), col("cum"))
    ranked.crossJoin(broadcast(pooledTot))
      .withColumn("rt", expr("((2*rs - 1) * nn + 2*ns - 1) div (2*ns)"))
      .join(broadcast(pooled), col("rt") > col("prev") && col("rt") <= col("cum"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_raw"),
        sum(col("qv")).as("sum_qnorm"),
        min(col("qv")).as("min_qnorm"), max(col("qv")).as("max_qnorm"))
      .select(col("source"), col("n_docs"),
        femit(col("sum_raw").cast("double") / col("n_docs").cast("double"))
          .as("mean_raw"),
        femit(col("sum_qnorm").cast("double") / col("n_docs").cast("double"))
          .as("mean_qnorm"),
        col("min_qnorm"), col("max_qnorm"))
      .orderBy("source")
  }

  /** Inverse-propensity-weighted average treatment effect (Horvitz–
    * Thompson weighting per Rosenbaum &amp; Rubin 1983; the Hájek
    * normalized form) with the covariate-balance audit that decides
    * whether the weights worked — the observational-causal companion
    * to q247's diff-in-diff and q219's CUPED. Unit = user; "treatment"
    * T = the user's FIRST event (by ts, event_id) is a click (an
    * exposure proxy — documented, the fixture has no assignment
    * column); outcome Y = the user's DECIMAL-summed purchase value.
    *
    * The propensity e(X) is a FIXED logistic score over the user's
    * activity covariates (ln n_events, mean event value) — the q88
    * fixed-weight convention standing in for a fitted model, which
    * keeps the whole estimator one deterministic closed form. Weights
    * are clipped to [0.05, 0.95] propensity (the standard positivity
    * trim). Output: naive mean difference, IPW (Hájek) ATE, and the
    * balance audit — the covariate gap between arms before vs after
    * weighting (a working weight set shrinks it).
    *
    * Determinism: covariates and sums ride dsum; exp/ln are the libm
    * parity class; every ratio is a fixed-order chain femit'd at
    * emission.
    *
    * Scale: one keyed window for the first event (partitioned by
    * user), one user-grain hash-agg, then 1-row scalar combines —
    * nothing beyond the user-grain shuffle the sessionization family
    * already pays. */
  def ipwAte(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val per = events(s, dir)
      .where(col("value").isNotNull)
      .withColumn("rn", row_number().over(w))
      .groupBy("user_id")
      .agg(max(when(col("rn") === 1 && col("event_type") === "click", 1L)
          .otherwise(0L)).as("t"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sv"),
        dsum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).as("y"))
      .withColumn("x1", log(col("n_events").cast("double")))
      .withColumn("x2", col("sv") / col("n_events").cast("double") / 100.0)
    val e0 = lit(1.0) / (lit(1.0) +
      exp(-(lit(-0.2) + lit(0.3) * col("x1") + lit(0.1) * col("x2"))))
    val scored = per
      .withColumn("e", least(greatest(e0, lit(0.05)), lit(0.95)))
      .withColumn("wt",
        when(col("t") === 1L, lit(1.0) / col("e"))
          .otherwise(lit(1.0) / (lit(1.0) - col("e"))))
    scored.agg(
        count(lit(1)).as("n_users"), sum(col("t")).as("n_treated"),
        dsum(when(col("t") === 1L, col("y"))).as("sy1"),
        dsum(when(col("t") === 0L, col("y"))).as("sy0"),
        dsum(when(col("t") === 1L, col("wt") * col("y"))).as("wy1"),
        dsum(when(col("t") === 0L, col("wt") * col("y"))).as("wy0"),
        dsum(when(col("t") === 1L, col("wt"))).as("w1"),
        dsum(when(col("t") === 0L, col("wt"))).as("w0"),
        dsum(when(col("t") === 1L, col("x1"))).as("sx1t"),
        dsum(when(col("t") === 0L, col("x1"))).as("sx1c"),
        dsum(when(col("t") === 1L, col("wt") * col("x1"))).as("wx1t"),
        dsum(when(col("t") === 0L, col("wt") * col("x1"))).as("wx1c"))
      .select(col("n_users"), col("n_treated"),
        femit(col("sy1") / col("n_treated").cast("double")
          - col("sy0") / (col("n_users") - col("n_treated")).cast("double"))
          .as("ate_naive"),
        femit(col("wy1") / col("w1") - col("wy0") / col("w0")).as("ate_ipw"),
        femit(col("sx1t") / col("n_treated").cast("double")
          - col("sx1c") / (col("n_users") - col("n_treated")).cast("double"))
          .as("x1_gap_raw"),
        femit(col("wx1t") / col("w1") - col("wx1c") / col("w0"))
          .as("x1_gap_weighted"))
  }

  /** Mean-ablation feature importance for the q382 logistic user
    * scorer (the ablation member of the model-eval family — Breiman
    * 2001's permutation importance asks "how much does the metric
    * drop when the feature's signal is destroyed"; mean ablation
    * destroys it by freezing the feature at its population mean,
    * which keeps the operator derandomized and oracle-exact where a
    * permutation would need a global row shuffle): per feature, the
    * scorer is re-evaluated with that covariate replaced by its mean
    * and the exact Mann–Whitney AUC against the heavy-purchaser label
    * (purchases ≥ 25% of the user's events — any-purchase is
    * degenerate on this fixture: every user converts) is recomputed;
    * importance = AUC(full) − AUC(ablated). The 'none' row is the
    * unablated scorer, so the output is self-contained.
    *
    * Determinism: the score is q382's fixed IEEE logistic chain (ln —
    * the q58/q79 libm class); means ride dsum; each AUC is the
    * two-phase [[aucTwoPhase]] machinery q166 pins; all emissions
    * femit.
    *
    * Scale: ONE user-grain aggregate feeds all variants; per variant
    * the AUC reduces to distinct-score grain immediately (the q166
    * shape — cells of the (0,1) score range). Variants are a union of
    * independent 1-row aggregates. */
  def featureAblation(s: SparkSession, dir: String): DataFrame = {
    // label = "heavy purchaser" (purchases ≥ 25% of the user's
    // events) — exact integer predicate; the naive any-purchase label
    // is degenerate on this fixture (every user purchases)
    val per = events(s, dir)
      .where(col("value").isNotNull)
      .groupBy("user_id")
      .agg(when(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)) * 4L >= count(lit(1)), 1L).otherwise(0L)
          .as("pos"),
        count(lit(1)).as("n_events"), dsum(col("value")).as("sv"))
      .withColumn("x1", log(col("n_events").cast("double")))
      .withColumn("x2", col("sv") / col("n_events").cast("double") / 100.0)
      .localCheckpoint() // feeds the means row + all three score passes
    val means = per.agg(
      (dsum(col("x1")) / count(lit(1)).cast("double")).as("m1"),
      (dsum(col("x2")) / count(lit(1)).cast("double")).as("m2"))
    def score(a: Column, b: Column): Column =
      lit(1.0) / (lit(1.0) +
        exp(-(lit(0.1) + lit(0.2) * a - lit(0.3) * b)))
    val variants: Seq[(String, Column, Column)] = Seq(
      ("none", col("x1"), col("x2")),
      ("x1", col("m1"), col("x2")),
      ("x2", col("x1"), col("m2")))
    val aucs = variants.map { case (name, a, b) =>
      aucTwoPhase(
        per.crossJoin(broadcast(means))
          .select(score(a, b).as("score"), col("pos")),
        floor(col("score") * 50.0))
        .select(lit(name).as("feature"), col("n_pos"), col("n_neg"),
          col("auc0"))
    }.reduce(_ unionAll _)
    val full = aucs.where(col("feature") === "none")
      .select(col("auc0").as("auc_full"))
    aucs.crossJoin(broadcast(full)) // 3 rows x 1 row
      .select(col("feature"), col("n_pos"), col("n_neg"),
        femit(col("auc0")).as("auc"),
        femit(col("auc_full") - col("auc0")).as("auc_drop"))
      .orderBy("feature")
  }

  /** Doubly-robust (AIPW) average treatment effect — the estimator
    * that completes the causal family (q150 A/B, q219 CUPED, q247
    * DiD, q377 IPW): augmented inverse-propensity weighting (Robins,
    * Rotnitzky &amp; Zhao 1994; the "doubly robust" reading per Bang
    * &amp; Robins 2005) combines q377's fixed logistic propensity
    * with a stratified outcome model — m_t(s) = the mean outcome of
    * arm t in coarse-covariate stratum s = min(n_events, 8) — and
    * stays consistent if EITHER model is right:
    * ATE_dr = mean[ m1(s) − m0(s) + t(y − m1(s))/e − (1−t)(y − m0(s))/(1−e) ].
    * A stratum missing an arm falls back to that arm's global mean
    * (the standard small-cell pooling; documented, exercised by the
    * spec). ate_reg (the pure outcome-model estimate) rides along so
    * the report shows all three estimators' spread.
    *
    * Determinism: strata are exact integers; arm means are dsum/count;
    * the per-user augmentation is one fixed IEEE chain over q377's
    * exact propensity; the final means ride dsum; femit at emission.
    *
    * Scale: one user-grain aggregate + one stratum-grain aggregate
    * (≤ 9 rows, broadcast back) + one 1-row global-arm-mean broadcast
    * — no new shuffle shape over q377. */
  def aipwDr(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val per = events(s, dir)
      .where(col("value").isNotNull)
      .withColumn("rn", row_number().over(w))
      .groupBy("user_id")
      .agg(max(when(col("rn") === 1 && col("event_type") === "click", 1L)
          .otherwise(0L)).as("t"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sv"),
        dsum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).as("y"))
      .withColumn("x1", log(col("n_events").cast("double")))
      .withColumn("x2", col("sv") / col("n_events").cast("double") / 100.0)
      .withColumn("stratum", least(col("n_events"), lit(8L)))
      .localCheckpoint() // feeds the outcome model + the estimator pass
    val cell = per.groupBy("stratum")
      .agg(dsum(when(col("t") === 1L, col("y"))).as("sy1"),
        sum(when(col("t") === 1L, 1L).otherwise(0L)).as("n1"),
        dsum(when(col("t") === 0L, col("y"))).as("sy0"),
        sum(when(col("t") === 0L, 1L).otherwise(0L)).as("n0"))
      .select(col("stratum"),
        when(col("n1") > 0L, col("sy1") / col("n1").cast("double")).as("m1"),
        when(col("n0") > 0L, col("sy0") / col("n0").cast("double")).as("m0"))
    val glob = per.agg(
      (dsum(when(col("t") === 1L, col("y"))) /
        sum(col("t")).cast("double")).as("g1"),
      (dsum(when(col("t") === 0L, col("y"))) /
        sum(lit(1L) - col("t")).cast("double")).as("g0"))
    val e0 = lit(1.0) / (lit(1.0) +
      exp(-(lit(-0.2) + lit(0.3) * col("x1") + lit(0.1) * col("x2"))))
    val scored = per
      .join(broadcast(cell), "stratum")
      .crossJoin(broadcast(glob))
      .withColumn("mm1", coalesce(col("m1"), col("g1")))
      .withColumn("mm0", coalesce(col("m0"), col("g0")))
      .withColumn("e", least(greatest(e0, lit(0.05)), lit(0.95)))
      .withColumn("dr",
        col("mm1") - col("mm0")
          + col("t").cast("double") * (col("y") - col("mm1")) / col("e")
          - (lit(1.0) - col("t").cast("double")) * (col("y") - col("mm0"))
          / (lit(1.0) - col("e")))
    scored.agg(count(lit(1)).as("n_users"), sum(col("t")).as("n_treated"),
        dsum(col("mm1") - col("mm0")).as("sreg"),
        dsum(col("dr")).as("sdr"))
      .select(col("n_users"), col("n_treated"),
        femit(col("sreg") / col("n_users").cast("double")).as("ate_reg"),
        femit(col("sdr") / col("n_users").cast("double")).as("ate_dr"))
  }

  /** Shared user-grain causal panel for [[psmAtt]], [[waldIv]] and
    * [[rddSharp]] — q377's exact unit/treatment/outcome/covariate
    * conventions (unit = user; T = first event is a click; Y =
    * decimal-summed purchase value; x1 = ln n_events; e = the q88
    * fixed-logistic propensity clipped to [0.05, 0.95]) plus the
    * user's first-event epoch-µs for instrument construction. One
    * keyed window + one user-grain hash-agg, shared so the three
    * estimators stay comparable with q377/q396 by construction. */
  private def causalPanel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events(s, dir)
      .where(col("value").isNotNull)
      .withColumn("rn", row_number().over(w))
      .groupBy("user_id")
      .agg(max(when(col("rn") === 1 && col("event_type") === "click", 1L)
          .otherwise(0L)).as("t"),
        count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("first_us"),
        dsum(col("value")).as("sv"),
        dsum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).as("y"))
      .withColumn("x1", log(col("n_events").cast("double")))
      .withColumn("x2", col("sv") / col("n_events").cast("double") / 100.0)
      .withColumn("e", least(greatest(
        lit(1.0) / (lit(1.0) +
          exp(-(lit(-0.2) + lit(0.3) * col("x1") + lit(0.1) * col("x2")))),
        lit(0.05)), lit(0.95)))
  }

  /** Propensity-score matching ATT (Rosenbaum &amp; Rubin 1983;
    * 1-nearest-neighbor WITH replacement under a caliper — the
    * matching member of the observational-causal family, closing the
    * q377 IPW / q396 AIPW trio with the estimator practitioners run
    * first): each treated user is matched to the control whose
    * propensity is nearest, provided |Δe| ≤ caliper (0.05); treated
    * users with no in-caliper control drop out (reported via
    * match_rate). ATT = mean(y_t − y_matched-control); the matched
    * x1 gap rides along as the balance audit, mirroring q377's.
    *
    * Matching is with-replacement, so each treated unit's match is an
    * independent argmin — order-free and deterministic, where
    * without-replacement greedy matching would depend on a global
    * processing order.
    *
    * Determinism: the nearest-control argmin ranks on the 1e-6-grid
    * rounded |Δe| with the control user_id as total tiebreak (the
    * q207 ranked-float rule); e is the shared libm-parity logistic.
    *
    * Scale: NO global sort and no cross join — controls are
    * replicated into their own 0.05-wide propensity cell and the two
    * adjacent cells (the caliper equals the cell width, so every
    * in-caliper pair shares a join cell by construction), and
    * treated users join on their single cell: a bounded ×3 blocked
    * equi-join keyed by cell, then a per-treated-user top-1 window at
    * user grain. Cell population is bounded by the propensity
    * distribution, not the corpus (AQE skew-split absorbs a heavy
    * cell); everything downstream is one hash-agg. */
  def psmAtt(s: SparkSession, dir: String, caliper: Double = 0.05)
      : DataFrame = {
    val per = causalPanel(s, dir)
      .withColumn("cell", floor(col("e") / lit(caliper)).cast("long"))
      .localCheckpoint() // feeds treated + control + denominator reads
    val treated = per.where(col("t") === 1L)
      .select(col("user_id").as("tu"), col("e").as("te"),
        col("y").as("ty"), col("x1").as("tx1"), col("cell"))
    val controls = per.where(col("t") === 0L)
      .select(col("user_id").as("cu"), col("e").as("ce"),
        col("y").as("cy"), col("x1").as("cx1"), col("cell"))
      .crossJoin(broadcast(s.range(-1, 2).select(col("id").as("d"))))
      .withColumn("cell", col("cell") + col("d")).drop("d")
    val wBest = Window.partitionBy("tu")
      .orderBy(col("dgrid").asc, col("cu").asc)
    val matched = treated.join(controls, Seq("cell"))
      .withColumn("de", abs(col("te") - col("ce")))
      .where(col("de") <= lit(caliper))
      .withColumn("dgrid",
        floor(col("de") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("rnk", row_number().over(wBest))
      .where(col("rnk") === 1)
    val tot = per.agg(sum(col("t")).as("n_treated"),
      sum(lit(1L) - col("t")).as("n_controls"))
    matched.agg(count(lit(1)).as("n_matched"),
        dsum(col("ty") - col("cy")).as("sdy"),
        dsum(col("de")).as("sde"),
        dsum(col("tx1") - col("cx1")).as("sdx1"))
      .crossJoin(broadcast(tot))
      .select(col("n_treated"), col("n_controls"), col("n_matched"),
        femit(col("n_matched").cast("double")
          / col("n_treated").cast("double")).as("match_rate"),
        femit(col("sdy") / col("n_matched").cast("double")).as("att"),
        femit(col("sde") / col("n_matched").cast("double"))
          .as("mean_abs_de"),
        femit(col("sdx1") / col("n_matched").cast("double"))
          .as("x1_gap_matched"))
  }

  /** Instrumental-variable effect via the Wald estimator (Wald 1940;
    * = exactly-identified 2SLS, Angrist &amp; Imbens 1994's LATE under
    * monotonicity — the family member that survives treatment-on-
    * outcome confounding q377/q396 cannot): instrument Z = "the user's
    * first event falls in the first half of the observation window"
    * (an early-cohort encouragement proxy — documented; the fixture
    * has no randomized instrument column), treatment and outcome as
    * the shared panel. Reports the first stage E[T|Z=1] − E[T|Z=0]
    * (the weak-instrument audit), the intent-to-treat reduced form
    * E[Y|Z=1] − E[Y|Z=0], their Wald ratio, and the naive difference
    * for contrast.
    *
    * Determinism: the window midpoint is the integer-µs comparison
    * 2·first_us ≤ min+max (no float division); arm sums ride dsum;
    * the ratio is nullif-guarded and femit'd.
    *
    * Scale: the shared user-grain panel, one 1-row min/max broadcast,
    * one global aggregate — the q377 shape exactly. */
  def waldIv(s: SparkSession, dir: String): DataFrame = {
    val per = causalPanel(s, dir)
    val span = per.agg((min(col("first_us")) + max(col("first_us")))
      .as("mnmx"))
    val z = per.crossJoin(broadcast(span))
      .withColumn("z",
        when(col("first_us") * 2L <= col("mnmx"), 1L).otherwise(0L))
    z.agg(count(lit(1)).as("n_users"), sum(col("z")).as("n_z1"),
        sum(when(col("z") === 1L, col("t"))).as("t1"),
        sum(when(col("z") === 0L, col("t"))).as("t0"),
        dsum(when(col("z") === 1L, col("y"))).as("sy1"),
        dsum(when(col("z") === 0L, col("y"))).as("sy0"),
        sum(col("t")).as("nt"),
        dsum(when(col("t") === 1L, col("y"))).as("syt"),
        dsum(when(col("t") === 0L, col("y"))).as("syc"))
      .withColumn("fs", col("t1").cast("double") / col("n_z1").cast("double")
        - col("t0").cast("double")
        / (col("n_users") - col("n_z1")).cast("double"))
      .withColumn("itt", col("sy1") / col("n_z1").cast("double")
        - col("sy0") / (col("n_users") - col("n_z1")).cast("double"))
      .select(col("n_users"), col("n_z1"),
        femit(col("fs")).as("first_stage"),
        femit(col("itt")).as("itt"),
        femit(col("itt") / nullif(col("fs"), lit(0.0))).as("late_wald"),
        femit(col("syt") / col("nt").cast("double")
          - col("syc") / (col("n_users") - col("nt")).cast("double"))
          .as("ate_naive"))
  }

  /** Sharp regression-discontinuity effect (Thistlethwaite &amp;
    * Campbell 1960; local-linear both-sides estimation per Imbens &amp;
    * Lemieux 2008): running variable x = the panel's x2 (mean event
    * value on the /100 scale — continuous with support on both sides
    * of the cutoff at every fixture scale, unlike the integer-lumpy
    * event count), cutoff c = 0.5 (the "high spender" threshold),
    * fixed bandwidth h = 0.125 — both exact binary doubles, so the
    * side predicates carry no literal-parity risk at all. A
    * separate OLS line y = a + b·(x − c) is fit closed-form on each
    * side inside the bandwidth (the q149 moment formulas under
    * conditional dsum), and the effect is the intercept jump
    * a_right − a_left at the cutoff. Side populations ride along as
    * the thin-side audit.
    *
    * Determinism: one global aggregate of conditional decimal moments;
    * the OLS closed forms are fixed-order IEEE chains femit'd at
    * emission.
    *
    * Scale: one pass over the shared user-grain panel — a single
    * hash-agg, no join, no window beyond the panel's own. */
  def rddSharp(s: SparkSession, dir: String): DataFrame = {
    val h = 0.125
    val per = causalPanel(s, dir).withColumn("u", col("x2") - lit(0.5))
    val inL = col("u") >= lit(-h) && col("u") < lit(0.0)
    val inR = col("u") >= lit(0.0) && col("u") <= lit(h)
    def side(p: Column, tag: String) = Seq(
      sum(when(p, 1L).otherwise(0L)).as(s"n_$tag"),
      dsum(when(p, col("u"))).as(s"su_$tag"),
      dsum(when(p, col("u") * col("u"))).as(s"suu_$tag"),
      dsum(when(p, col("y"))).as(s"sy_$tag"),
      dsum(when(p, col("u") * col("y"))).as(s"suy_$tag"))
    val aggs = side(inL, "l") ++ side(inR, "r")
    def fit(tag: String): (Column, Column) = {
      val n = col(s"n_$tag").cast("double")
      val b = (n * col(s"suy_$tag") - col(s"su_$tag") * col(s"sy_$tag")) /
        nullif(n * col(s"suu_$tag") - col(s"su_$tag") * col(s"su_$tag"),
          lit(0.0))
      val a = (col(s"sy_$tag") - b * col(s"su_$tag")) / n
      (a, b)
    }
    val base = per.agg(aggs.head, aggs.tail: _*)
    val (al, bl) = fit("l"); val (ar, br) = fit("r")
    base.select(col("n_l").as("n_left"), col("n_r").as("n_right"),
      femit(al).as("intercept_left"), femit(ar).as("intercept_right"),
      femit(bl).as("slope_left"), femit(br).as("slope_right"),
      femit(ar - al).as("rdd_effect"))
  }

  /** Shared empirical-game machinery for [[shapleyAttribution]] and
    * [[shapleySampled]]: per-user pre-conversion channel coalitions as
    * exact bitmasks (channel bit = position in the declared list) and
    * the empirical characteristic-function table vtab(mask, n, nc)
    * with v(S) = nc/n for observed coalitions, 0 for unobserved.
    * Returns (touched, vtab). The bit shift is long-based so masks
    * stay exact for any channel set up to 63. */
  private def coalitionGame(s: SparkSession, dir: String,
      channels: Seq[String]): (DataFrame, DataFrame) = {
    val ev = events(s, dir)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val seq0 = ev.select(col("user_id"), col("event_type"),
        col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w))
    val firstP = seq0.where(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("rn")).as("prn"))
    import s.implicits._
    val chBit = channels.zipWithIndex.toDF("ch", "bit")
    val touched = seq0.join(firstP, Seq("user_id"), "left")
      .where(col("event_type").isin(channels: _*) &&
        (col("prn").isNull || col("rn") < col("prn")))
      .select(col("user_id"), col("event_type").as("ch")).distinct()
    val masks = touched.join(broadcast(chBit), "ch")
      .groupBy("user_id")
      .agg(sum(expr("shiftleft(cast(1 as bigint), bit)")).as("mask"))
    val userSet = ev.select("user_id").distinct()
      .join(masks, Seq("user_id"), "left")
      .join(firstP.select(col("user_id"), lit(1L).as("conv")),
        Seq("user_id"), "left")
      .select(coalesce(col("mask"), lit(0L)).as("mask"),
        coalesce(col("conv"), lit(0L)).as("conv"))
    val vtab = userSet.groupBy("mask")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("nc"))
    (touched, vtab)
  }

  /** Shapley-value conversion attribution (Shapley 1953 applied to
    * channel attribution per Zhao et al. 2018, "Shapley Value Methods
    * for Attribution Modeling" — the game-theoretic successor to
    * q183's last-touch and q214's position rules, and the only one
    * that is order-free and efficiency-axiomatic): the "players" are
    * the marketing channels (`channels`, a declared parameter like
    * q76's term set — the event-type universe minus the conversion
    * event), a user's coalition is the SET of channels touched before
    * their first purchase, v(S) = the observed conversion rate of
    * users whose coalition is EXACTLY S (unobserved coalitions
    * contribute v = 0 — the standard empirical characteristic
    * function), and φ_c = Σ_{S∌c} |S|!(k−1−|S|)!/k! · (v(S∪c) − v(S)).
    *
    * Determinism: coalitions are exact bitmasks (channel bit =
    * position in the declared list); v ratios, the factorial weights
    * (exact small-integer literals), and the φ fold all ride
    * dsum/femit.
    *
    * Scale: one keyed first-purchase window + one user-grain distinct
    * + one mask hash-agg; EVERYTHING after runs on the 2^k-row
    * coalition table (k = |channels| ≤ a handful by construction —
    * attribution over hundreds of channels uses [[shapleySampled]],
    * whose cost is nPerms×k, not 2^k). No driver-side collect: k is a
    * parameter, not data. */
  def shapleyAttribution(s: SparkSession, dir: String,
      channels: Seq[String] = Seq("click", "error", "signup", "view"))
      : DataFrame = {
    val k = channels.size
    require(k >= 1 && k <= 8,
      "exact Shapley needs a small channel set — use shapleySampled beyond 8")
    import s.implicits._
    val chBit = channels.zipWithIndex.toDF("ch", "bit")
    val (touched, vtab) = coalitionGame(s, dir, channels)
    def fact(n: Int): Long = (1 to n).foldLeft(1L)(_ * _)
    val wgtRows = (0 until k).map(m =>
      (m.toLong, fact(m).toDouble * fact(k - 1 - m).toDouble / fact(k)))
    val wgt = wgtRows.toDF("m", "wgt")
    val subsets = s.range(0, 1L << k).toDF("smask")
      .join(vtab, col("smask") === col("mask"), "left")
      .select(col("smask"),
        when(col("n").isNull, lit(0.0))
          .otherwise(col("nc").cast("double") / col("n").cast("double"))
          .as("v"),
        coalesce(col("n"), lit(0L)).as("n_obs"))
      .localCheckpoint() // 2^k rows; joined twice per channel
    val vS = subsets.select(col("smask"), col("v"))
    val v2 = subsets.select(col("smask").as("smask2"), col("v").as("v2"))
    val terms = broadcast(chBit).crossJoin(vS)
      .where(expr("shiftright(smask, bit) % 2 = 0"))
      .withColumn("m", expr("cast(bit_count(smask) as bigint)"))
      .withColumn("smask2", expr("smask + cast(shiftleft(1, bit) as bigint)"))
      .join(v2, "smask2")
      .join(broadcast(wgt), "m")
    val perCh = terms.groupBy("ch")
      .agg(dsum(col("wgt") * (col("v2") - col("v"))).as("phi"))
    val touchCounts = touched.groupBy("ch")
      .agg(count(lit(1)).as("n_users_touched"))
    perCh.join(touchCounts, Seq("ch"), "left")
      .select(col("ch"),
        coalesce(col("n_users_touched"), lit(0L)).as("n_users_touched"),
        femit(col("phi")).as("shapley"))
      .orderBy("ch")
  }

  /** Sampled-permutation Shapley attribution (Castro, Gómez &amp;
    * Tejada 2009, "Polynomial calculation of the Shapley value based
    * on sampling" — the estimator [[shapleyAttribution]]'s own
    * scaladoc names for large channel sets, where the exact 2^k
    * coalition sweep is a different operator, VERDICT r11 item 3):
    * draw `nPerms` channel permutations, credit each channel its
    * marginal contribution v(pred∪{c}) − v(pred) under each draw
    * (pred = the channels before c in that permutation), and estimate
    * φ̂_c as the mean marginal. Per permutation the marginals
    * telescope to v(all) − v(∅), so the efficiency axiom holds
    * EXACTLY for the estimate too (spec-pinned), and at any nPerms
    * the estimator is unbiased; the CI is the q346 order-statistic
    * convention over the per-draw marginals (ranks nPerms/40 and
    * nPerms+1−nPerms/40 with the draw-id tiebreak).
    *
    * Determinism: draws are fnv-derandomized (the q346 discipline —
    * permutation p orders channels by fnv1a32('perm:p:ch') with the
    * channel tiebreak), so the q393 oracle replays the same draws
    * bit-for-bit; v ratios are single IEEE divisions of exact counts,
    * the mean rides dsum, everything femits at emission.
    *
    * Scale: the game table vtab is ONE user-grain aggregate (same as
    * exact); everything after runs on the nPerms×k draw table — two
    * mask equi-joins against vtab and one k-partitioned rank window,
    * independent of 2^k. This is the operator that makes attribution
    * over hundreds of channels a bounded plan. */
  def shapleySampled(s: SparkSession, dir: String,
      channels: Seq[String] = Seq("click", "error", "signup", "view"),
      nPerms: Int = 200): DataFrame = {
    val k = channels.size
    require(k >= 1 && k <= 63, "long masks bound the channel set at 63")
    require(nPerms >= 40, "CI order statistics need >= 40 draws")
    import s.implicits._
    val chBit = channels.zipWithIndex.toDF("ch", "bit")
    val (_, vtab) = coalitionGame(s, dir, channels)
    val perms = s.range(0, nPerms.toLong).toDF("p")
      .crossJoin(broadcast(chBit))
      .withColumn("key", graft.functions.HashExprs.fnv1a32(
        "concat('perm:', cast(p as string), ':', ch)"))
    val byPerm = Window.partitionBy("p")
      .orderBy(col("key").asc, col("ch").asc)
    val pre = Window.partitionBy("p").orderBy(col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val draws = perms
      .withColumn("pos", row_number().over(byPerm))
      .withColumn("cbit", expr("shiftleft(cast(1 as bigint), bit)"))
      .withColumn("smask", coalesce(sum(col("cbit")).over(pre), lit(0L)))
      .withColumn("smask2", col("smask") + col("cbit"))
    val v1 = vtab.select(col("mask").as("smask"),
      (col("nc").cast("double") / col("n").cast("double")).as("v1"))
    val v2 = vtab.select(col("mask").as("smask2"),
      (col("nc").cast("double") / col("n").cast("double")).as("v2"))
    val marg = draws
      .join(v1, Seq("smask"), "left")
      .join(v2, Seq("smask2"), "left")
      .select(col("p"), col("ch"),
        (coalesce(col("v2"), lit(0.0)) - coalesce(col("v1"), lit(0.0)))
          .as("m"))
    // marginals are bit-deterministic doubles (exact-count divisions in
    // one fixed order), so the raw-value rank with the draw-id tiebreak
    // matches cross-engine (the q346 rule)
    val rLo = math.max(2, nPerms / 40)
    val rHi = nPerms - rLo + 1
    val byM = Window.partitionBy("ch").orderBy(col("m").asc, col("p").asc)
    marg.withColumn("r", row_number().over(byM))
      .groupBy("ch")
      .agg((dsum(col("m")) / lit(nPerms.toDouble)).as("phi"),
        min(when(col("r") === rLo, col("m"))).as("lo"),
        min(when(col("r") === rHi, col("m"))).as("hi"))
      .select(col("ch"), lit(nPerms.toLong).as("n_perms"),
        femit(col("phi")).as("shapley"),
        femit(col("lo")).as("ci_lo"), femit(col("hi")).as("ci_hi"))
      .orderBy("ch")
  }

  /** Qini uplift curve by decile (Radcliffe 2007, "Using control
    * groups to target on predicted lift" — the treatment-effect twin
    * of q199's outcome-only gains table): users ranked by a FIXED
    * uplift score (the q88/q377 fixed-weight convention), cut into 10
    * equal-count deciles via the exact two-phase [[ntile2p]], and per
    * decile the treated/control conversion split plus the cumulative
    * Qini mass cum(conv_t − conv_c·n_t/n_c) — the curve whose area
    * ranks uplift models. Treatment/outcome definitions are exactly
    * q377's (first-event click proxy, any-purchase conversion), so
    * the two rows read together.
    *
    * Determinism: the ranking key is the raw logistic score (one
    * fixed IEEE chain — bit-identical, so ordering matches) with the
    * user_id tiebreak; decile assignment is [[ntile2p]]'s pure
    * integer arithmetic; ratios femit at emission; zero-control
    * deciles emit NULL via nullif on both engines.
    *
    * Scale: user-grain agg + the two-phase ntile (keyed cell windows
    * + an O(cells) offset table) + 10-row curve algebra. */
  def qiniUplift(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val per = events(s, dir)
      .where(col("value").isNotNull)
      .withColumn("rn", row_number().over(w))
      .groupBy("user_id")
      .agg(max(when(col("rn") === 1 && col("event_type") === "click", 1L)
          .otherwise(0L)).as("t"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sv"))
      .withColumn("u",
        lit(1.0) / (lit(1.0) + exp(-(lit(0.1)
          + lit(0.2) * log(col("n_events").cast("double"))
          - lit(0.3) * (col("sv") / col("n_events").cast("double") / 100.0)))))
      .localCheckpoint() // feeds the rank pass and the decile join
    val dec = ntile2p(per, "u", floor(col("u") * 50.0),
      asc = false, 10, "decile", tie = "user_id")
    val cells = per.join(dec, "user_id")
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        sum(col("t")).as("n_t"),
        sum(lit(1L) - col("t")).as("n_c"),
        sum(col("t") * col("conv")).as("conv_t"),
        sum((lit(1L) - col("t")) * col("conv")).as("conv_c"))
    val cum = Window.orderBy(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("inc",
        col("conv_t").cast("double") - col("conv_c").cast("double")
          * col("n_t").cast("double")
          / nullif(col("n_c").cast("double"), lit(0.0)))
      .withColumn("qini",
        sum(col("inc").cast("decimal(38,12)")).over(cum).cast("double"))
      .select(col("decile"), col("n"), col("n_t"), col("n_c"),
        col("conv_t"), col("conv_c"),
        femit(col("conv_t").cast("double")
          / nullif(col("n_t").cast("double"), lit(0.0))
          - col("conv_c").cast("double")
          / nullif(col("n_c").cast("double"), lit(0.0))).as("uplift"),
        femit(col("qini")).as("qini"))
      .orderBy("decile")
  }

  /** ROC-AUC with a derandomized Poisson-bootstrap confidence interval
    * — q166's point estimate composed with q346's bootstrap machinery
    * (Chamandy et al. 2012), answering the question a model report
    * actually needs: is 0.61 AUC distinguishable from coin-flip at
    * this sample size? Each of B=40 replicates reweights every event
    * by the same fnv-inverted Poisson(1) draw as q346 (event-keyed —
    * replicate b's weight for an event is identical across queries,
    * the derandomization contract), and the WEIGHTED Mann–Whitney AUC
    * is exact under integer weights: a tied score group with weighted
    * counts (W, P) takes average rank W_before + (W+1)/2 — precisely
    * the value the expanded-row computation would give, so each
    * replicate's AUC equals q166 run on the resampled multiset.
    *
    * Determinism: weights are exact integers off the fnv ladder; rank
    * prefix sums are integer windows PARTITIONED BY REPLICATE (never a
    * global window over data — the score table is value-grain, ×B);
    * the CI takes order statistics 2/B−1 of bit-deterministic doubles
    * with the replicate id tiebreak (q346's rule).
    *
    * Scale: the raw stream reduces once to one row per (score, class)
    * — everything after is (distinct scores × B) cells; at production
    * scale distinct scores pre-bin like any monitoring metric. */
  def aucBootstrap(s: SparkSession, dir: String): DataFrame = {
    val B = 40
    // r15: shared-prefix FNV fold per replicate (see poissonBootstrap)
    val perScore = events(s, dir)
      .where(col("value").isNotNull)
      .select(col("value").as("score"),
        graft.functions.HashExprs.fnvFoldConst(
          graft.functions.HashExprs.fnv1a32("cast(event_id as string)"),
          ":").as("hpre"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      .withColumn("b", explode(expr(s"sequence(0, ${B - 1})")))
    val u = graft.functions.HashExprs.fnvFoldConst(
      graft.functions.HashExprs.fnvFoldSmallInt(col("hpre"), col("b")),
      ":boot").cast("double") / lit(4294967296.0)
    val w = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .otherwise(6L)
    val cells = perScore.withColumn("w", w)
      .groupBy("b", "score")
      .agg(sum(col("w")).as("cnt"), sum(col("w") * col("pos")).as("poscnt"))
      .where(col("cnt") > 0)
    val pre = Window.partitionBy("b").orderBy(col("score").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val reps = cells
      .withColumn("wb", coalesce(sum(col("cnt")).over(pre), lit(0L)))
      .withColumn("avg_rank",
        col("wb").cast("double") + (col("cnt") + 1L).cast("double") / 2.0)
      .groupBy("b")
      .agg(sum(col("poscnt")).as("np"), sum(col("cnt") - col("poscnt")).as("nn"),
        dsum(col("poscnt").cast("double") * col("avg_rank")).as("rpos"))
      .select(col("b"),
        ((col("rpos") - col("np").cast("double")
          * (col("np") + 1L).cast("double") / 2.0)
          / nullif(col("np").cast("double") * col("nn").cast("double"),
            lit(0.0))).as("auc_b"))
    val byAuc = Window.orderBy(col("auc_b").asc_nulls_last, col("b").asc)
    val ci = reps.withColumn("r", row_number().over(byAuc))
      .agg(min(when(col("r") === 2, col("auc_b"))).as("lo"),
        min(when(col("r") === B - 1, col("auc_b"))).as("hi"))
    rocAuc(s, dir).select(col("n_pos"), col("n_neg"), col("auc"))
      .crossJoin(broadcast(ci))
      .select(col("n_pos"), col("n_neg"), lit(B.toLong).as("n_replicates"),
        col("auc").as("auc_point"),
        femit(col("lo")).as("ci_lo"), femit(col("hi")).as("ci_hi"),
        (femit(col("lo")) > 0.5).as("separable_at_95"))
  }

  /** Shared per-day STL components for [[stlStrength]] (q387) and
    * [[stlAnomalies]] (q391): (day, y, t, d, dow, sv, r) over the
    * complete-MA-window days. */
  private def stlComponents(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val spine = bounds
      .select(explode(sequence(col("mn"), col("mx"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("n"), lit(0L)).cast("double").as("y"))
    val ma = Window.orderBy(col("day").asc).rowsBetween(-3, 3)
    val cnt7 = count(lit(1)).over(ma)
    val detr = spine
      .withColumn("t",
        when(cnt7 === 7,
          sum(col("y").cast("decimal(38,12)")).over(ma).cast("double")
            / lit(7.0)))
      .where(col("t").isNotNull)
      .withColumn("d", col("y") - col("t"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
      .localCheckpoint() // feeds dow means, recenter, and variances
    val dowMean = detr.groupBy("dow")
      .agg((dsum(col("d")) / count(lit(1)).cast("double")).as("s0"))
    val sBar = dowMean.agg(
      (dsum(col("s0")) / count(lit(1)).cast("double")).as("sb"))
    detr.join(broadcast(dowMean), "dow")
      .crossJoin(broadcast(sBar))
      .withColumn("sv", col("s0") - col("sb"))
      .withColumn("r", col("d") - col("sv"))
      .localCheckpoint() // variance aggregates / anomaly scan below
  }

  /** STL-style decomposition STRENGTH diagnostics for the daily event
    * series (Cleveland et al. 1990's trend/seasonal/remainder split in
    * its closed moving-average form; the strength statistics are
    * Wang, Smith &amp; Hyndman 2006's F_trend = max(0, 1 −
    * Var(R)/Var(T+R)) and F_seasonal = max(0, 1 − Var(R)/Var(S+R)) —
    * the two numbers a forecasting pipeline reads before choosing a
    * model class, complementing q272's Holt–Winters fit and q193's
    * raw seasonal index): trend = centered 7-day moving average over
    * the gap-filled day spine (edges with incomplete windows dropped —
    * the classic convention), seasonal = day-of-week means of the
    * detrended series re-centered to sum 0, remainder = the rest.
    *
    * Determinism: the spine is exact epoch-day integers (q129/q128);
    * the MA, dow means, recentering, and all three variances ride
    * dsum; the two F statistics are fixed-order chains femit'd.
    *
    * Scale: one day-grain aggregate (map-side combined); every window
    * after that runs on the bounded day spine (the q194 class — days,
    * not rows). */
  def stlStrength(s: SparkSession, dir: String): DataFrame = {
    val comp = stlComponents(s, dir)
    def varOf(c: Column) = {
      val n = count(lit(1)).cast("double")
      (dsum(c * c) - dsum(c) * dsum(c) / n) / n
    }
    comp.agg(count(lit(1)).as("n_days"),
        varOf(col("r")).as("vr"),
        varOf(col("y") - col("sv")).as("vts"), // deseasonalized = T+R
        varOf(col("sv") + col("r")).as("vsr"))
      .select(col("n_days"),
        femit(greatest(lit(0.0), lit(1.0) - col("vr") / col("vts")))
          .as("f_trend"),
        femit(greatest(lit(0.0), lit(1.0) - col("vr") / col("vsr")))
          .as("f_seasonal"),
        femit(col("vr")).as("var_remainder"))
  }

  /** Seasonally-adjusted ANOMALY DAYS off the [[stlComponents]]
    * remainder (the twist every production monitor applies before
    * alerting — a raw q171-style z-score fires on every weekend dip;
    * scoring the STL REMAINDER fires only on days the trend and the
    * weekly shape cannot explain): z = r/√Var(R), report days at
    * |z| ≥ 2 with the full decomposition. Same components row set as
    * q387, so the two rows read together. Reports the TOP-5 days by
    * |z| (ranked by the ROUNDED score with the day tiebreak — the
    * q207 rule; a fixed threshold alone can legitimately match zero
    * days at small horizons, and a monitor always shows its worst
    * offenders), each flagged `anomalous` at the classic |z| ≥ 2 cut.
    *
    * Determinism: Var(R) is the q387 exact-moment chain; z is one
    * division; top-5 by femit'd |z| + day; floats femit.
    *
    * Scale: one variance combine broadcast back onto the bounded day
    * spine — day grain throughout; the rank window is over the day
    * spine (bounded, the q194 class). */
  def stlAnomalies(s: SparkSession, dir: String): DataFrame = {
    val comp = stlComponents(s, dir)
    val n = count(lit(1)).cast("double")
    val vr = comp.agg(
      ((dsum(col("r") * col("r")) - dsum(col("r")) * dsum(col("r")) / n) / n)
        .as("vr"))
    val scored = comp.crossJoin(broadcast(vr))
      .withColumn("z", col("r") / sqrt(col("vr")))
      .withColumn("az", femit(abs(col("z"))))
    scored
      .withColumn("rk", row_number().over(
        Window.orderBy(col("az").desc, col("day").asc)))
      .where(col("rk") <= 5)
      .select(col("rk").cast("long").as("rk"), col("day"),
        col("y").cast("long").as("n_events"),
        femit(col("t")).as("trend"), femit(col("sv")).as("seasonal"),
        femit(col("r")).as("remainder"), femit(col("z")).as("z"),
        (col("az") >= 2.0).as("anomalous"))
      .orderBy("rk")
  }

  /** Leave-last-order-out evaluation of an item-based co-occurrence
    * recommender (hit-rate@k and mean recall@k — the offline top-N
    * evaluation protocol of Deshpande &amp; Karypis, TOIS 2004; the
    * eval loop every recsys pipeline runs before an online test): per
    * customer the LAST order (by orderdate, orderkey — a keyed window,
    * rn = 1) is held out as the test basket; the co-occurrence model
    * trains on the remaining orders (item pairs sharing an order,
    * q167's bounded-basket + minSup discipline); candidates score by
    * summed co-counts with the customer's train items, seen items
    * anti-joined away; top-k by the EXACT integer score with the
    * partkey tiebreak; a hit = any held-out item in the top-k.
    *
    * Determinism: every score is an exact integer sum; ranking ties
    * break on partkey; the two emitted rates ride femit/dsum.
    *
    * Scale: the co table is bounded by q167's basket cap; candidate
    * generation is user-items ⋈ co (shuffle keyed by item, AQE-
    * splittable); the per-user top-k is a PARTITIONED window. Eval
    * universe = customers with ≥ 2 orders. */
  def recsysEval(s: SparkSession, dir: String, k: Int = 10,
                 minSup: Long = 2L, maxBasket: Int = 64,
                 nbrK: Int = 50): DataFrame = {
    val oi = Tables.read(s, dir, "orders")
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("cust"),
        col("o_orderdate").as("od"))
      .withColumn("rn", row_number().over(Window.partitionBy("cust")
        .orderBy(col("od").desc, col("ok").desc)))
      .withColumn("n_orders",
        count(lit(1)).over(Window.partitionBy("cust")))
      .where(col("n_orders") >= 2)
      .join(Tables.read(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct(), "ok")
      .localCheckpoint() // feeds train, test, and the co model
    val test = oi.where(col("rn") === 1)
      .select(col("cust"), col("pk")).distinct()
    val train = oi.where(col("rn") =!= 1)
    val baskets = train.select("ok", "pk")
      .withColumn("bsize", count(lit(1)).over(Window.partitionBy("ok")))
      .where(col("bsize") <= maxBasket)
      .select("ok", "pk")
    // item NEIGHBORHOOD cap (Deshpande-Karypis's k: keep each item's
    // top-`nbrK` co-items by count) — the piece that bounds the model
    // at catalog scale: without it a ubiquitous item's co-list is
    // O(catalog) and candidate generation explodes (also 7.8s -> 5.3s
    // at sf0.1). Deterministic: (cnt DESC, b ASC) rank.
    val co = baskets.select(col("ok"), col("pk").as("a"))
      .join(baskets.select(col("ok"), col("pk").as("b")), "ok")
      .where(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minSup)
      .withColumn("nr", row_number().over(Window.partitionBy("a")
        .orderBy(col("cnt").desc, col("b").asc)))
      .where(col("nr") <= nbrK)
    val userItems = train.select(col("cust"), col("pk")).distinct()
      .localCheckpoint() // candidate generation + the seen anti-join
    val recs = userItems.join(co, col("pk") === col("a"))
      .groupBy(col("cust"), col("b").as("rec"))
      .agg(sum(col("cnt")).as("score"))
      .join(userItems.select(col("cust"), col("pk").as("rec")),
        Seq("cust", "rec"), "left_anti")
      .withColumn("rk", row_number().over(Window.partitionBy("cust")
        .orderBy(col("score").desc, col("rec").asc)))
      .where(col("rk") <= k)
    val perUser = test.groupBy("cust").agg(count(lit(1)).as("n_test"))
      .join(recs.join(test.select(col("cust"), col("pk").as("rec")),
          Seq("cust", "rec"))
        .groupBy("cust").agg(count(lit(1)).as("n_hits")),
        Seq("cust"), "left")
      .select(col("cust"), col("n_test"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    perUser.agg(count(lit(1)).as("n_users_eval"),
        sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_users_hit"),
        dsum(col("n_hits").cast("double") / col("n_test").cast("double"))
          .as("sum_recall"))
      .select(col("n_users_eval"), col("n_users_hit"),
        lit(k.toLong).as("k"),
        femit(col("n_users_hit").cast("double")
          / col("n_users_eval").cast("double")).as("hit_rate"),
        femit(col("sum_recall") / col("n_users_eval").cast("double"))
          .as("mean_recall"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q317_engine_probe" -> (engineProbe _),
    "q1_pricing_summary" -> (pricingSummary _),
    "q2_filter_project" -> (filterProject _),
    "q3_join_agg" -> (joinAgg _),
    "q4_semi_join" -> (semiJoin _),
    "q5_anti_join" -> (antiJoin _),
    "q6_rollup" -> (rollupAgg _),
    "q7_distinct" -> (distinctAgg _),
    "q8_window_rank" -> (windowRank _),
    "q9_window_running" -> (windowRunning _),
    "q10_topk" -> (topkOrders _),
    "q11_setops" -> (setOps _),
    "q12_scalar_funcs" -> (scalarFuncs _),
    "q13_json_extract" -> (jsonExtract _),
    "q14_tumbling_window" -> (tumblingWindow _),
    "q15_sliding_window" -> (slidingWindow _),
    "q16_sessionize" -> (sessionize _),
    "q17_dedup_exact" -> (dedupExact _),
    "q31_cube" -> (cubeAgg _),
    "q34_sql_grouping_sets" -> (groupingSets _),
    "q42_asof_join" -> (asofClickView _),
    "q43_band_join" -> (bandPairs _),
    "q136_interval_join" -> (intervalOverlap _),
    "q48_pivot" -> (pivotEvents _),
    "q49_window_suite" -> (windowSuite _),
    "q51_quantiles" -> (quantileAgg _),
    "q52_salted_join" -> (saltedJoinAgg _),
    "q53_bucketed_join" -> (bucketedJoinAgg _),
    "q55_session_window" -> (sessionWindowAgg _),
    "q59_partition_pruning" -> (partitionPrunedAgg _),
    "q63_compaction" -> (compactionAgg _),
    "q66_full_outer" -> (fullOuterCounts _),
    "q67_schema_evolution" -> (schemaEvolutionAgg _),
    "q71_argmax" -> (argExtremes _),
    "q72_outer_explode" -> (outerExplodeCounts _),
    "q73_union_by_name" -> (unionByNameAgg _),
    "q77_try_arithmetic" -> (tryArithmetic _),
    "q78_map_funcs" -> (mapFuncs _),
    "q81_hll_merge" -> (hllMergeAgg _),
    "q151_sketch_rollup" -> (sketchRollup _),
    "q152_table_diff" -> (tableDiff _),
    "q156_ref_integrity" -> (refIntegrity _),
    "q157_hist_quantiles" -> (histogramQuantiles _),
    "q153_markov" -> (markovTransitions _),
    "q163_markov_eval" -> (markovEval _),
    "q154_entropy" -> (userEntropy _),
    "q155_gini" -> (giniByType _),
    "q82_merge_upsert" -> (mergeUpsert _),
    "q83_unpivot" -> (unpivotEvents _),
    "q84_array_funcs" -> (arrayFuncs _),
    "q85_date_arith" -> (dateArith _),
    "q89_correlated_subquery" -> (correlatedSubquery _),
    "q91_range_frame" -> (rangeFrame _),
    "q92_quality_report" -> (qualityReport _),
    "q107_quality_drift" -> (qualityDrift _),
    "q110_bloom_prune_join" -> (bloomPrunedJoin _),
    "q115_value_histogram" -> (valueHistogram _),
    "q127_funnel" -> (funnel _),
    "q130_topk_per_key" -> (topkPerKey _),
    "q131_incremental_agg" -> (incrementalAgg _),
    "q128_cohort_retention" -> (cohortRetention _),
    "q129_gap_fill" -> (gapFill _),
    "q134_ewma" -> (ewmaDaily _),
    "q146_scd2" -> (scd2Versions _),
    "q158_capped_sessions" -> (sessionizeCapped _),
    "q159_golden_record" -> (goldenRecord _),
    "q160_typed_agg" -> (typedAgg _),
    "q161_bitmap_distinct" -> (bitmapDistinct _),
    "q162_rolling_distinct" -> (rollingDistinct _),
    "q147_time_travel" -> (scd2Snapshot _),
    "q148_correlation" -> (corrByGroup _),
    "q149_ols_regression" -> (olsByGroup _),
    "q150_ab_test" -> (abTest _),
    "q116_props_scrub" -> (propsScrub _),
    "q119_range_layout" -> (rangeLayoutAgg _),
    "q126_zorder_layout" -> (zorderLayoutAgg _),
    "q96_map_zip" -> (mapZipFuncs _),
    "q166_auc" -> (rocAuc _),
    "q167_assoc_rules" -> ((s, dir) => assocRules(s, dir)),
    "q168_skyline" -> (skyline _),
    "q169_interval_coalesce" -> (intervalCoalesce _),
    "q170_cusum" -> (cusum _),
    "q171_zscore_anomaly" -> (zscoreAnomaly _),
    "q172_path_trigrams" -> (pathTrigrams _),
    "q178_outlier_fence" -> (outlierFence _),
    "q179_seq_pairs" -> (seqPairs _),
    "q180_calibration" -> (calibrationBins _),
    "q318_isotonic" -> (isotonicCalibration _),
    "q181_psi" -> (psiDrift _),
    "q182_twap" -> (twap _),
    "q183_attribution" -> (lastTouchAttribution _),
    "q184_k_anonymity" -> (kAnonymity _),
    "q185_conformal" -> (conformal _),
    "q186_l_diversity" -> (lDiversity _),
    "q187_benford" -> (benford _),
    "q188_chisq" -> (chiSquareIndependence _),
    "q189_ks_test" -> (ksTest _),
    "q190_mann_whitney" -> (mannWhitney _),
    "q191_kaplan_meier" -> (kaplanMeier _),
    "q192_rfm" -> (rfmSegments _),
    "q193_seasonal_index" -> (seasonalIndex _),
    "q194_acf" -> (acfDaily _),
    "q408_pacf" -> ((s, dir) => pacfDaily(s, dir)),
    "q409_theta_forecast" -> ((s, dir) => thetaForecast(s, dir)),
    "q410_croston" -> ((s, dir) => croston(s, dir)),
    "q420_platt_scaling" -> ((s, dir) => plattScaling(s, dir)),
    "q422_ljung_box" -> ((s, dir) => ljungBox(s, dir)),
    "q423_runs_test" -> (runsTest _),
    "q425_nelson_aalen" -> (nelsonAalen _),
    "q426_cvar" -> (cvarDaily _),
    "q427_confusion_sweep" -> (confusionSweep _),
    "q428_rmst" -> ((s, dir) => rmst(s, dir)),
    "q430_propensity_overlap" -> (propensityOverlap _),
    "q431_entropy_rate" -> ((s, dir) => entropyRate(s, dir)),
    "q436_ips_eval" -> ((s, dir) => ipsEval(s, dir)),
    "q439_quantile_sketch" -> ((s, dir) => quantileSketch(s, dir)),
    "q441_quantile_store" -> ((s, dir) => quantileStoreMerge(s, dir)),
    "q197_anova" -> (anovaF _),
    "q198_pareto_abc" -> (paretoAbc _),
    "q199_decile_lift" -> (decileLift _),
    "q200_mad_robust" -> (madRobust _),
    "q201_theil_sen" -> (theilSen _),
    "q202_hhi" -> (hhi _),
    "q203_dau_overlap" -> (dauOverlap _),
    "q207_item_cooccur" -> ((s, dir) => itemCooccur(s, dir)),
    "q208_cohort_ltv" -> (cohortLtv _),
    "q209_weighted_median" -> (weightedMedian _),
    "q210_kcore" -> ((s, dir) => copurchaseKcore(s, dir)),
    "q406_luby_mis" -> ((s, dir) => copurchaseMis(s, dir)),
    "q407_ktruss" -> ((s, dir) => copurchaseKtruss(s, dir)),
    "q212_drawdown" -> (drawdown _),
    "q213_time_to_convert" -> (timeToConvert _),
    "q214_position_attribution" -> (positionAttribution _),
    "q215_skew_audit" -> (skewAudit _),
    "q217_qq_eighths" -> (qqEighths _),
    "q219_cuped" -> (cuped _),
    "q220_dynamic_overwrite" -> (dynamicOverwrite _),
    "q221_tpch_q5" -> (tpchQ5 _),
    "q224_not_in_nulls" -> (notInNulls _),
    "q225_setops_all" -> (setOpsAll _),
    "q226_listagg" -> (listAgg _),
    "q227_decay_popularity" -> (decayPopularity _),
    "q230_spearman" -> (spearmanTrend _),
    "q236_variant_json" -> (variantJson _),
    "q237_collated_group" -> (collatedGroup _),
    "q238_sql_udf" -> (sqlUdf _),
    "q242_window_extras" -> (windowExtras _),
    "q245_lateral_join" -> (lateralTopPerGroup _),
    "q246_sql_pipe" -> (sqlPipe _),
    "q247_diff_in_diff" -> (diffInDiff _),
    "q248_bootstrap_ci" -> (bootstrapCi _),
    "q249_param_sql" -> (paramSql _),
    "q253_fano" -> (fanoFactor _),
    "q255_cube_sketch" -> (cubeSketch _),
    "q256_join_hints" -> (joinHints _),
    "q257_observe_metrics" -> (observeMetrics _),
    "q258_agg_family" -> (aggFamily _),
    "q259_sql_variables" -> (sqlVariables _),
    "q260_backtest" -> (backtest _),
    "q261_rolling_corr" -> (rollingCorr _),
    "q262_feature_store" -> (featureStore _),
    "q263_retention_sweep" -> (retentionSweep _),
    "q264_erasure" -> (erasure _),
    "q266_recursive_cte" -> (recursiveCte _),
    "q267_theta_sketch" -> (thetaSketch _),
    "q268_sql_script" -> (sqlScript _),
    "q269_logistic_gd" -> (logisticGd _),
    "q274_kruskal_wallis" -> (kruskalWallis _),
    "q275_modern_sql" -> (modernSql _),
    "q277_distribute_by" -> (distributeBy _),
    "q280_tpch_q3" -> (tpchQ3 _),
    "q281_tpch_q10" -> (tpchQ10 _),
    "q286_tpch_q2" -> (tpchQ2 _),
    "q287_tpch_q17" -> (tpchQ17 _),
    "q288_tpch_q18" -> (tpchQ18 _),
    "q289_tpch_q21" -> (tpchQ21 _),
    "q290_tpch_q22" -> (tpchQ22 _),
    "q294_t_closeness" -> (tCloseness _),
    "q295_msprt" -> (msprt _),
    "q319_bh_fdr" -> (bhFdr _),
    "q320_mde" -> (mde _),
    "q326_page_hinkley" -> ((s, dir) => pageHinkley(s, dir)),
    // Skew ADVISOR over a prospective shuffle key: per-key histogram +
    // the salt factor a salted join/agg needs (see Layout.skewAdvisor)
    "q330_skew_advisor" -> ((s, dir) =>
      Layout.skewAdvisor(events(s, dir), "user_id", targetRows = 512L)),
    // K-fold cross-validated ridge: hash folds, complement-moment
    // train fits, out-of-fold MSE (see cvRidge)
    "q337_cv_ridge" -> ((s, dir) => cvRidge(s, dir)),
    // AR(2) Yule-Walker fit + 1-step forecast over the daily count
    // series per event type (see arForecast)
    "q338_ar_forecast" -> ((s, dir) => arForecast(s, dir)),
    // Correlated bottom-k join-size estimate (events x orders on
    // user_id = o_custkey), estimate next to exact audit
    // (see Layout.joinSizeEstimate)
    "q339_join_size_estimate" -> ((s, dir) =>
      Layout.joinSizeEstimate(events(s, dir), "user_id",
        Tables.read(s, dir, "orders"), "o_custkey")),
    "q296_tpch_q12" -> (tpchQ12 _),
    "q297_tpch_q14" -> (tpchQ14 _),
    "q298_tpch_q19" -> (tpchQ19 _),
    "q302_gmm_em" -> (gmmEm _),
    "q304_dataset_manifest" -> (datasetManifest _),
    "q305_tpch_q4" -> (tpchQ4 _),
    "q306_tpch_q6" -> (tpchQ6 _),
    "q307_tpch_q16" -> (tpchQ16 _),
    "q308_tpch_q20" -> (tpchQ20 _),
    "q310_tpch_q7" -> (tpchQ7 _),
    "q311_tpch_q8" -> (tpchQ8 _),
    "q312_tpch_q9" -> (tpchQ9 _),
    "q313_tpch_q11" -> (tpchQ11 _),
    "q314_tpch_q13" -> (tpchQ13 _),
    "q315_tpch_q15" -> (tpchQ15 _),
    "q284_locf" -> (locf _),
    "q285_changepoint" -> (changepoint _),
    "q272_holt_winters" -> (holtWinters _),
    "q273_kendall_tau" -> (kendallTau _),
    "q346_poisson_bootstrap" -> (poissonBootstrap _),
    "q347_fd_audit" -> (fdAudit _),
    "q350_snips" -> (snipsOffPolicy _),
    "q368_tukey_hsd" -> (tukeyHsd _),
    "q369_temporal_psi" -> (temporalPsi _),
    "q370_burstiness" -> (burstiness _),
    "q371_trimmed_mean" -> (trimmedMeans _),
    "q372_raking" -> (raking _),
    "q375_quantile_norm" -> (quantileNorm _),
    "q377_ipw_ate" -> (ipwAte _),
    "q411_average_precision" -> (averagePrecision _),
    "q381_shapley_attribution" -> ((s, dir) => shapleyAttribution(s, dir)),
    "q393_shapley_sampled" -> ((s, dir) => shapleySampled(s, dir)),
    "q394_logrank" -> (logRank _),
    "q395_feature_ablation" -> (featureAblation _),
    "q396_aipw_dr" -> (aipwDr _),
    "q403_psm_att" -> ((s, dir) => psmAtt(s, dir)),
    "q404_wald_iv" -> (waldIv _),
    "q405_rdd_sharp" -> (rddSharp _),
    "q401_cox_ph" -> ((s, dir) => coxPh(s, dir)),
    "q402_brier_decomposition" -> (brierDecomposition _),
    "q382_qini_uplift" -> (qiniUplift _),
    "q386_auc_bootstrap" -> (aucBootstrap _),
    "q387_stl_strength" -> (stlStrength _),
    "q390_recsys_eval" -> ((s, dir) => recsysEval(s, dir)),
    "q391_stl_anomalies" -> (stlAnomalies _),
  )

  // E11 breadth: the try_* ANSI-safe arithmetic family — NULL instead
  // of throw on divide-by-zero (try_divide), BIGINT overflow (try_add),
  // and unparseable casts (try_cast). Folded to per-status counts/sums
  // so the NULL semantics are gate-checked without top-level NULL
  // columns (q66's null-free dump rule); the oracle states the
  // identical semantics as portable CASE/TRY_CAST SQL.
  //
  // Cost model (measured): Spark's TryEval catches a real JVM exception
  // per erroring ROW — an always-overflowing try_add over sf0.1 orders
  // cost 3.1 s and an always-failing string cast 1.3 s, vs ~0.1 s for
  // their non-erroring twins. try_* guards the EXCEPTIONAL row; a plan
  // where the error path is the common case is pathological at any
  // scale. So the overflow/bad-parse branches here hit a deterministic
  // 1% of rows (o_orderkey % 100 = 0) — the semantics are pinned from
  // both sides (erroring rows null out, clean rows survive) at the
  // production cost shape. try_divide's double zero-divisor path is
  // exception-free and stays corpus-wide.
  def tryArithmetic(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders")
      .select(col("o_orderstatus").as("status"),
        expr("try_divide(o_totalprice, o_orderkey % 3)").as("d"),
        expr("try_add(9223372036854775807, " +
          "CASE WHEN o_orderkey % 100 = 0 THEN 1 ELSE 0 END)").as("ov"),
        // The cast branch mixes outcomes deterministically: half the 1%
        // slice (o_orderkey % 200 = 0) carries a PARSEABLE string (the
        // key itself), the other half the unparseable priority text —
        // so n_cast_ok/sum_cast_ok distinguish "bad casts null out,
        // good casts survive" from "everything nulls out" (ADVICE r6:
        // the all-unparseable form pinned nothing beyond n_add_ok).
        expr("try_cast(CASE WHEN o_orderkey % 200 = 0 THEN CAST(o_orderkey AS STRING) " +
          "WHEN o_orderkey % 100 = 0 THEN o_orderpriority " +
          "ELSE NULL END AS BIGINT)").as("mixed_cast"),
        expr("try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)").as("prio_num"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        count(col("d")).as("n_div_ok"),
        dsum(col("d")).as("sum_div"),
        // count() of the try_add column = rows that did NOT overflow
        count(col("ov")).as("n_add_ok"),
        count(col("mixed_cast")).as("n_cast_ok"),
        coalesce(sum(col("mixed_cast")), lit(0L)).as("sum_cast_ok"),
        sum(col("prio_num")).as("sum_prio"))
      .orderBy("status")

  // E11 breadth: the map-function surface — map_from_arrays, single-
  // entry map(), map_concat, map_filter, transform_values — exploded to
  // (doc_id, k, v) rows per FIXTURES §3 (no top-level map columns in
  // dumped results; DuckDB map ordering differs).
  def mapFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        map_from_arrays(
          array(lit("n_chars"), lit("n_toks")),
          array(length(col("text")).cast("long"),
            size(split(col("text"), " ", -1)).cast("long"))).as("m1"),
        map(lit("lang_len"), length(col("lang")).cast("long")).as("m2"))
      .select(col("doc_id"),
        transform_values(
          map_filter(map_concat(col("m1"), col("m2")), (_, v) => v > 5L),
          (_, v) => v * 2L).as("m"))
      .select(col("doc_id"), explode(col("m")).as(Seq("k", "v")))
      .orderBy("doc_id", "k")

  // SQL-frontend breadth beyond q34's grouping sets: a CORRELATED
  // scalar subquery — per-customer count of their own big orders,
  // expressed as the textbook correlated COUNT (Catalyst decorrelates
  // it to an outer-joined aggregate; no per-row re-execution). The
  // correlated aggregate is an exact COUNT, so no float accumulation
  // crosses the engine boundary.
  def correlatedSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.read(s, dir, "customer").createOrReplaceTempView("q89_customer")
    Tables.read(s, dir, "orders").createOrReplaceTempView("q89_orders")
    s.sql("""
      SELECT c_custkey, c_nationkey,
        (SELECT count(*) FROM q89_orders o
         WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000.0) AS n_big
      FROM q89_customer c
      ORDER BY c_custkey""")
  }

  // Data-quality constraint report (the Deequ/dbt-test operator family):
  // uniqueness, referential integrity both directions, domain checks —
  // one pass of exact-count aggregations + two anti-join counts, emitted
  // as a single violations row. The synthetic data makes several checks
  // legitimately non-zero (the orderkey-0 row; customers that never
  // ordered), so the report is exercised, not vacuous. At 100 TB each
  // check is an ordinary agg/anti-join (AQE-splittable); nothing
  // collects.
  def qualityReport(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.read(s, dir, "orders")
    val customer = Tables.read(s, dir, "customer")
    val dupKeys = orders.groupBy("o_orderkey").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
    val orphans = orders.join(customer,
      orders("o_custkey") === customer("c_custkey"), "left_anti")
    val childless = customer.join(orders,
      customer("c_custkey") === orders("o_custkey"), "left_anti")
    val base = orders.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_orderkey") <= 0, 1L).otherwise(0L)).as("n_nonpos_keys"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("n_nonpos_price"),
      sum(when(year(col("o_orderdate")).between(1992, 1998), 0L).otherwise(1L))
        .as("n_bad_dates"))
    base
      .crossJoin(broadcast(dupKeys.agg(count(lit(1)).as("n_dup_keys"))))
      .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphan_orders"))))
      .crossJoin(broadcast(childless.agg(count(lit(1)).as("n_childless_custs"))))
  }

  // Bloom-pruned fact⋈dim join ([[Layout.bloomPrune]]): lineitem is
  // shed against an 8 KB bloom of the selective dim key set BEFORE the
  // exact join — the runtime-filter/semi-join-reduction move that cuts
  // the fact side's shuffle volume at 100 TB when the dim side is too
  // big to broadcast. No false negatives, so the oracle is the PLAIN
  // join+agg: a bloom bug that drops a matching row turns the row red,
  // while false positives are invisible by construction (the exact
  // join removes them). Pruning power and the no-false-negative set
  // property are additionally pinned in LayoutSpec.
  def bloomPrunedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.read(s, dir, "lineitem")
    val dim = Tables.read(s, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      .select("o_orderkey")
    val pruned = Layout.bloomPrune(li, "l_orderkey", dim, "o_orderkey")
    pruned.join(dim, pruned("l_orderkey") === dim("o_orderkey"))
      .groupBy(col("l_linestatus").as("linestatus"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("linestatus")
  }

  // Distribution-drift report (VERDICT r6 item 7 — q92's constraint
  // checks extended to DISTRIBUTION checks): the per-group row-count
  // histogram of the current corpus compared against a prior snapshot,
  // plus an approx-quantile bound check, one pass each side. The prior
  // snapshot is the corpus as of 1998-01-01 (the time-travel cut a
  // nightly pipeline would diff against); the current generation is
  // the full corpus plus a DELIBERATELY drifted append — a 20% burst
  // of 'O' orders and a small batch under a brand-new status 'X' — so
  // every report column is exercised non-vacuously: 'F'/'P' sit inside
  // the expected-growth band, 'O' trips the ratio flag, 'X' trips the
  // new-group flag. Ratios are raw IEEE divisions (cross-engine exact,
  // -1.0 sentinel for new groups — no top-level NULLs per the q66 dump
  // rule); the approx-median check follows the q30/q81 bound pattern
  // (the sketch value itself is engine-specific, so the row carries
  // the BOOLEAN "approx_percentile lands within the exact p40–p60
  // band", which the oracle pins to true). At 100 TB: two hash-agg
  // histograms + an nlist-row full-outer join; the quantile sketch is
  // a mergeable partial aggregate — nothing collects.
  def qualityDrift(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.read(s, dir, "orders")
    val prior = orders.where(col("o_orderdate") < lit("1998-01-01").cast("date"))
    val burst = orders
      .where(col("o_orderstatus") === "O" && col("o_orderkey") % 5 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
    val novel = orders.where(col("o_orderkey") % 1000 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
      .withColumn("o_orderstatus", lit("X"))
    val current = orders.unionByName(burst).unionByName(novel)
    val p = prior.groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_prior"))
    val c = current.groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_curr"),
        expr("approx_percentile(o_totalprice, 0.5)").as("amed"),
        expr("percentile(o_totalprice, 0.4)").as("p40"),
        expr("percentile(o_totalprice, 0.6)").as("p60"))
    c.join(p, Seq("status"), "full_outer")
      .select(col("status"),
        coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        coalesce(col("n_curr"), lit(0L)).as("n_curr"),
        col("n_prior").isNull.as("is_new_group"),
        when(coalesce(col("n_prior"), lit(0L)) > 0,
          col("n_curr").cast("double") / col("n_prior"))
          .otherwise(lit(-1.0)).as("growth_ratio"),
        (col("n_prior").isNull ||
          !(col("n_curr").cast("double") / col("n_prior")).between(1.9, 2.5))
          .as("drift_flag"),
        // The sketch returns an ACTUAL element; for a tiny group the
        // interpolated p40–p60 band can exclude every element (n=2: both
        // points sit outside any interior band), so the check applies
        // only to populated groups — distribution checks on a handful
        // of rows are noise in any monitoring system.
        (col("n_curr") < 100 ||
          col("amed").between(col("p40"), col("p60"))).as("approx_median_ok"))
      .orderBy("status")
  }

  // Range-sorted layout + time-range scan (Layout.writeRangeSorted's
  // scaladoc): the events table rewritten range-partitioned and sorted
  // on ts, then a 2-day window aggregated from the sorted copy. The
  // values must equal the plain filter over the original table (the
  // oracle) — the layout is pure physics; LayoutSpec pins the physics
  // (row-group min/max skipping collapses the scan's output to the
  // matching slice). The rewrite runs per pass: it IS the declared
  // operator (the q56/q63 write-side convention).
  def rangeLayoutAgg(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("events_ts_sorted")
    Layout.writeRangeSorted(events(s, dir), out, 16, "ts")
    s.read.parquet(out)
      .where(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-12 00:00:00").cast("timestamp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy("event_type")
  }

  // Z-ordered layout + 2-D box scan (Layout.writeZOrdered's scaladoc):
  // lineitem rewritten sorted on the Morton interleave of (l_orderkey,
  // l_partkey), then a box predicate on BOTH dimensions aggregated from
  // the Z-ordered copy. Values must equal the plain filter over the
  // original table (the oracle) — the layout is pure physics; LayoutSpec
  // pins the physics (each single-dimension scan collapses on the
  // Z-ordered copy where a one-key sort collapses only its leading
  // column). Rewrite-per-pass is the q119/q56/q63 convention: the write
  // IS the declared operator.
  def zorderLayoutAgg(s: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("lineitem_zorder")
    Layout.writeZOrdered(Tables.read(s, dir, "lineitem"), out, 16,
      "l_orderkey", "l_partkey")
    s.read.parquet(out)
      .where(col("l_orderkey").between(3000, 3999) &&
        col("l_partkey").between(500, 699))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"),
        min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"))
      .orderBy("l_returnflag")
  }

  // Per-group top-k via the native bounded-heap TopKAgg (its scaladoc
  // has the scale analysis): top-5 orders by price per priority class,
  // rank DESC with the order key as total-order tiebreak. Direction is
  // encoded by negating the price field (exact sign flip, undone on
  // output); the plan is partial→final ObjectHashAggregate — at most
  // k rows per (group, map partition) cross the wire, and NO WindowExec
  // appears (PlanSpec pins both properties).
  def topkPerKey(s: SparkSession, dir: String): DataFrame = {
    Tables.read(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(graft.functions.TopKAgg.topkRows(
        "named_struct('negprice', -o_totalprice, 'o_orderkey', o_orderkey)", 5)
        .as("top"))
      .select(col("o_orderpriority"),
        posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rnk"),
        col("r.o_orderkey").as("o_orderkey"),
        (-col("r.negprice")).as("o_totalprice"))
      .orderBy("o_orderpriority", "rnk")
  }

  // Incremental AGGREGATE-STATE maintenance — the materialized-view
  // delta pattern (the aggregation analogue of q75/q100's signature
  // store and q118's CDC merge): a persisted per-user aggregate table
  // built from the history generation (events before a fixed day
  // cutoff), then the new generation's delta aggregate FULL-OUTER-merged
  // into it. Counts add, sums add EXACTLY (state carries the
  // DECIMAL(38,12) accumulator, not a lossy double — decimal addition
  // is associative, so base ⊎ delta ≡ full recompute, which is
  // precisely what the oracle recomputes), min/max combine by
  // least/greatest. Cost is O(delta) + a merge that rides the state
  // table's bucket layout (bucketed by user_id — the state side
  // contributes NO exchange; PlanSpec pins it), never O(history): the
  // shape that turns a nightly full recompute into a per-batch
  // maintenance job at 100 TB.
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val cutoffDay = 19747L // 2024-01-25: ~80/20 history/delta split
    val ev = events(s, dir).select(col("user_id"),
      expr("unix_micros(ts)").as("us"), col("value"),
      expr("unix_micros(ts) DIV 86400000000").as("day"))
    def aggOf(df: DataFrame): DataFrame = df.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(38,12)")).as("vsum"),
      min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    Layout.writeBucketedBy(aggOf(ev.where(col("day") < cutoffDay)),
      "q131_agg_state", 8, "user_id")
    // align the delta to the state's bucket count up front: the agg
    // rides this single user_id exchange AND the merge join accepts it
    // as-is — otherwise the delta shuffles twice (agg at the default
    // parallelism, then again to match the 8-bucket state side)
    val delta = aggOf(ev.where(col("day") >= cutoffDay)
        .repartition(8, col("user_id")))
      .select(col("user_id"), col("n").as("d_n"), col("vsum").as("d_vsum"),
        col("first_us").as("d_first"), col("last_us").as("d_last"))
    s.table("q131_agg_state").hint("merge")
      .join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n"),
        femit((coalesce(col("vsum"), lit(0).cast("decimal(38,12)"))
          + coalesce(col("d_vsum"), lit(0).cast("decimal(38,12)")))
          .cast("double")).as("sum_value"),
        least(coalesce(col("first_us"), col("d_first")),
          coalesce(col("d_first"), col("first_us"))).as("first_us"),
        greatest(coalesce(col("last_us"), col("d_last")),
          coalesce(col("d_last"), col("last_us"))).as("last_us"))
      .orderBy("user_id")
  }

  // Ordered event funnel (view → click-after-view → purchase-after-
  // click): the product-analytics staple. Stage t+1's cutoff depends on
  // stage t's per-user min, so the natural distributed shape is a chain
  // of (filtered scan ⋈ prior-stage table on user_id → min-agg) — each
  // stage shuffles only its event type's rows keyed by user (skew-
  // splittable equi-joins; the stage tables are ~one row per user and
  // shrink monotonically). No window over the full event stream, no
  // per-user collect. The conversion-lag average goes through exact
  // integer µs sums, divided once at the end — bit-identical across
  // engines.
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val t1 = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("t1"))
    val t2 = ev.where(col("event_type") === "click")
      .join(t1, "user_id").where(col("us") > col("t1"))
      .groupBy("user_id").agg(min(col("us")).as("t2"), min(col("t1")).as("t1"))
    val t3 = ev.where(col("event_type") === "purchase")
      .join(t2.select("user_id", "t2"), "user_id").where(col("us") > col("t2"))
      .groupBy("user_id").agg(min(col("us")).as("t3"))
    val base = ev.agg(countDistinct(col("user_id")).as("n_users"))
    val s1 = t1.agg(count(lit(1)).as("n_viewed"))
    val s2 = t2.agg(count(lit(1)).as("n_clicked"),
      femit(sum(col("t2") - col("t1")).cast("double") / count(lit(1))
        / lit(1000000.0)).as("avg_view_click_sec"))
    val s3 = t3.agg(count(lit(1)).as("n_purchased"))
    base.crossJoin(broadcast(s1)).crossJoin(broadcast(s2))
      .crossJoin(broadcast(s3))
      .select(col("n_users"), col("n_viewed"), col("n_clicked"),
        col("n_purchased"), col("avg_view_click_sec"))
  }

  // Cohort retention: users grouped by their FIRST-activity week, then
  // distinct-user counts per (cohort week, weeks-since-cohort) cell —
  // the triangle every growth dashboard draws. Week indices are pure
  // integer epoch arithmetic (µs DIV day DIV 7), NOT calendar
  // truncation: engines disagree on week-start conventions, integer
  // division they cannot. Two keyed shuffles (per-user min, then the
  // cell agg) — both partial-aggregated, no windows.
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000 DIV 7").as("week"))
    val first = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    ev.join(first, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  // Time-series gap fill: per-user daily activity regularized onto a
  // dense day grid (sequence + explode over each user's [min,max] day
  // span), missing days carried as n=0 with the last observed daily sum
  // forward-filled (last_value IGNORE NULLS over a rows frame). The
  // resample-and-ffill primitive feature pipelines need before any
  // fixed-step model. Scale: the grid explode is per-user-bounded, the
  // ffill window partitions by user (no global single-partition window),
  // and the daily sums take the exact DECIMAL route — the filled value
  // is rounded BEFORE filling so the carried constant is the same
  // 6-decimal double in both engines.
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"), col("value"))
    val daily = ev.groupBy("user_id", "day")
      .agg(count(lit(1)).as("n"), femit(dsum(col("value"))).as("day_sum"))
    val grid = ev.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("day_sum"), ignoreNulls = true)
          .over(Window.partitionBy("user_id").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("filled_sum"))
      .orderBy("user_id", "day")
  }

  // EWMA (exponentially weighted moving average) smoothing of each
  // user's daily value series — the time-series denoising companion to
  // q129's gap-fill. Truncated at horizon W=8: with α=1/2 the weight
  // of the row 8 steps back is 2⁻⁸ ≈ 0.4% — the cutoff turns the
  // inherently-sequential recurrence y_i = αx_i + (1−α)y_{i−1} into a
  // FIXED linear combination of 8 lags (one window, pure projection
  // after it), which is what makes it a single distributed pass; the
  // exact recurrence would need a per-key sequential scan (the q39
  // two-phase prefix trick does not apply to a multiplicative fold in
  // floats). Normalized by the weights actually present (the
  // `adjusted` EWMA), so early rows are unbiased. Float parity is by
  // construction: α=1/2 makes every coefficient 2⁻ʲ (exactly
  // representable, interpolated into BOTH engines' plans from one
  // Scala constant), the term sum is the same left-associated chain,
  // and the normalizer 1−2⁻ᵐ is exact — no round() needed.
  // Scale: one keyed shuffle (daily agg) + one window over it; the
  // window frame is 8 physical lags, not a growing frame.
  val EwmaHorizon = 8
  private[graft] def ewmaCoef(j: Int): Double = math.pow(0.5, j + 1)
  def ewmaDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"), col("value"))
      .groupBy("user_id", "day")
      .agg(femit(dsum(col("value"))).as("day_sum"))
    val w = Window.partitionBy("user_id").orderBy("day")
    val lagged = daily.select(
      (Seq(col("user_id"), col("day"), col("day_sum"),
        row_number().over(w).as("rn")) ++
        (1 until EwmaHorizon).map(j =>
          lag(col("day_sum"), j).over(w).as(s"l$j"))): _*)
    val num = (0 until EwmaHorizon).map { j =>
      val x = if (j == 0) col("day_sum") else coalesce(col(s"l$j"), lit(0.0))
      x * lit(ewmaCoef(j))
    }.reduce(_ + _)
    val den = lit(1.0) - pow(lit(0.5), least(col("rn"), lit(EwmaHorizon)).cast("double"))
    lagged.select(col("user_id"), col("day"), col("day_sum"),
        (num / den).as("ewma"))
      .orderBy("user_id", "day")
  }

  // SCD TYPE-2 history build — every change event becomes a version
  // row with [valid_from, valid_to) validity (exclusive end = next
  // version's start; NULL = current): the warehouse pattern that KEEPS
  // history where q82/q118's upserts overwrite it. One window per key,
  // (ts, event_id) total order so same-timestamp ties version
  // deterministically (the earlier id gets a zero-length interval —
  // the standard SCD2 convention for intra-batch duplicates).
  // Scale: one keyed shuffle + one lead() — O(events), no self-join.
  def scd2Versions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("valid_from"), col("value"))
      .select(col("user_id"), col("event_id"), col("value"), col("valid_from"),
        lead(col("valid_from"), 1).over(w).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("user_id", "valid_from", "event_id")
  }

  // Point-in-time (time-travel) read over the SCD2 history: the state
  // of every key as of one instant — the interval predicate
  // valid_from <= t < valid_to replaces q42's as-of window machinery
  // once the history table exists. At 100 TB the history would be
  // range-partitioned on valid_from (q119's layout) so the snapshot
  // scan prunes to segments overlapping t.
  val Scd2AsOfUs = 1705276800000000L // 2024-01-15T00:00:00Z
  def scd2Snapshot(s: SparkSession, dir: String): DataFrame =
    scd2Versions(s, dir)
      .where(col("valid_from") <= Scd2AsOfUs &&
        (col("valid_to").isNull || col("valid_to") > Scd2AsOfUs))
      .select(col("user_id"), col("event_id"), col("value"), col("valid_from"))
      .orderBy("user_id")

  // Pearson correlation per group from EXACT moments — corr(value,
  // hour-of-day) per event type. Spark's corr() (and DuckDB's) stream
  // float co-moments in partition order — order-dependent doubles that
  // can't cross-engine-match; accumulating the five raw moments through
  // the DECIMAL route instead makes every sum order-independent and
  // bit-identical, and the closed-form combination is one fixed-order
  // IEEE expression. Same single partial-agged shuffle as any groupBy.
  def corrByGroup(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"), col("value").as("x"),
      expr("CAST((unix_micros(ts) DIV 3600000000) % 24 AS DOUBLE)").as("y"))
    e.groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"), dsum(col("x") * col("x")).as("sxx"),
        dsum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n"),
        femit((col("n") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
            * sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr_xy"))
      .orderBy("event_type")
  }

  // OLS linear regression per group (closed-form normal equations from
  // the same exact-moment route): value trend over days-since-epoch
  // per event type. x is rescaled to days BEFORE the moment sums —
  // µs² products overflow DECIMAL(38,12)'s 26 integer digits; day²
  // products don't, and the rescale is one deterministic division.
  def olsByGroup(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      ((expr("unix_micros(ts)") - lit(1704067200000000L)).cast("double")
        / lit(86400000000.0)).as("x"),
      col("value").as("y"))
    e.groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("y")).as("sxy"), dsum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n"),
        femit((col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        femit((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx"))
          / col("n")).as("intercept"))
      .orderBy("event_type")
  }

  // K-fold cross-validated ridge regression — the model-EVALUATION
  // harness on top of q149's closed-form fit: folds assign by
  // fnv1a32(event_id||':cv') % k (the repo's deterministic-sampler
  // convention — re-runs and different partitionings see identical
  // folds, and a row's fold never migrates when the corpus grows),
  // each fold's TRAIN moments are the DECIMAL-exact sum of the other
  // k−1 folds' partial moments (group once by fold, combine k
  // complement rows — one corpus scan for all k fits, not k scans;
  // the decimal adds are order-free so the combine is exact), the
  // ridge solve is the 2×2 closed form with λ on the slope cell only
  // (the standard don't-penalize-the-intercept convention), and each
  // fold's out-of-fold MSE comes from one residual scan against its
  // broadcast (b0, b1). x rescales µs→days before the moments (the
  // q149 DECIMAL-overflow note). Scale: two corpus scans + a k-row
  // combine, independent of k.
  def cvRidge(s: SparkSession, dir: String, k: Int = 5,
              lambda: Double = 1.0): DataFrame = {
    val e = events(s, dir).select(
      pmod(graft.functions.HashExprs.fnv1a32(
        "concat(cast(event_id AS STRING), ':cv')"), lit(k.toLong))
        .cast("long").as("fold"),
      ((expr("unix_micros(ts)") - lit(1704067200000000L)).cast("double")
        / lit(86400000000.0)).as("x"),
      col("value").as("y"))
    def dpart(c: Column): Column = sum(c.cast("decimal(38,12)"))
    val pf = e.groupBy("fold").agg(count(lit(1)).as("n"),
      dpart(col("x")).as("sx"), dpart(col("y")).as("sy"),
      dpart(col("x") * col("y")).as("sxy"),
      dpart(col("x") * col("x")).as("sxx"))
      .localCheckpoint() // feeds the k complement combines AND n_test
    val train = pf.select(col("fold").as("f")).distinct()
      .join(pf, col("fold") =!= col("f"))
      .groupBy("f")
      .agg(sum(col("n")).as("n_train"),
        sum(col("sx")).cast("double").as("sx"),
        sum(col("sy")).cast("double").as("sy"),
        sum(col("sxy")).cast("double").as("sxy"),
        sum(col("sxx")).cast("double").as("sxx"))
    val fit = train.select(col("f"), col("n_train"),
      ((col("n_train") * col("sxy") - col("sx") * col("sy"))
        / (col("n_train") * (col("sxx") + lit(lambda))
          - col("sx") * col("sx"))).as("b1"),
      col("sx"), col("sy"))
      .select(col("f"), col("n_train"), col("b1"),
        ((col("sy") - col("b1") * col("sx")) / col("n_train")).as("b0"))
    val eval = e.join(broadcast(fit), col("fold") === col("f"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_test"),
        dsum((col("y") - (col("b0") + col("b1") * col("x")))
          * (col("y") - (col("b0") + col("b1") * col("x")))).as("ssr"),
        first(col("n_train")).as("n_train"),
        first(col("b0")).as("b0"), first(col("b1")).as("b1"))
    eval.select(col("fold"), col("n_train"), col("n_test"),
      femit(col("b1")).as("slope"), femit(col("b0")).as("intercept"),
      femit(col("ssr") / col("n_test")).as("mse"))
      .orderBy("fold")
  }

  // AR(2) autoregressive fit + 1-step forecast per event type via the
  // Yule–Walker equations (Box–Jenkins; the closed 2×2 solve —
  // φ₁ = c₁(c₀−c₂)/(c₀²−c₁²), φ₂ = (c₀c₂−c₁²)/(c₀²−c₁²)) over the
  // DAILY count series: autocovariances c₀..c₂ from the centered
  // series on the exact-DECIMAL dsum route (biased /n estimator — the
  // one that keeps YW coefficients stationary), forecast
  // ŷ_{T+1} = μ + φ₁(y_T−μ) + φ₂(y_{T−1}−μ). Lags are previous
  // OBSERVATIONS (calendar gaps collapse — documented; the synthetic
  // series is contiguous). Complements q272 Holt–Winters (trend/
  // seasonality smoothing) with the stochastic-process fit.
  // Degenerate series (c₀²=c₁², <3 days) emit NULL through nullif on
  // both engines. Scale: one day-grain aggregate (map-side combined),
  // windows over the tiny per-type day series, a 2-row-per-type tail.
  // Days are epoch-day integers (unix_micros div 86400e6 — q128's
  // calendar-free discipline), NOT to_date(): to_date applies the
  // session timezone while DuckDB truncates the naive timestamp, so
  // calendar bucketing would silently couple parity to the harness
  // pinning UTC (ADVICE r10).
  def arForecast(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).cast("double").as("y"))
    val mu = daily.groupBy("event_type")
      .agg((dsum(col("y")) / count(lit(1))).as("mu"),
        count(lit(1)).as("n_days"))
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val z = daily.join(broadcast(mu), "event_type")
      .select(col("event_type"), col("day"), col("n_days"),
        (col("y") - col("mu")).as("z"), col("mu"))
      .withColumn("z1", lag(col("z"), 1).over(w))
      .withColumn("z2", lag(col("z"), 2).over(w))
      .withColumn("rn_desc",
        row_number().over(Window.partitionBy("event_type")
          .orderBy(col("day").desc)))
    val cov = z.groupBy("event_type")
      .agg(first(col("n_days")).as("n_days"), first(col("mu")).as("mu"),
        (dsum(col("z") * col("z")) / first(col("n_days"))).as("c0"),
        (dsum(col("z") * col("z1")) / first(col("n_days"))).as("c1"),
        (dsum(col("z") * col("z2")) / first(col("n_days"))).as("c2"),
        max(when(col("rn_desc") === 1, col("z"))).as("zt"),
        max(when(col("rn_desc") === 2, col("z"))).as("zt1"))
    val den = col("c0") * col("c0") - col("c1") * col("c1")
    val phi1 = col("c1") * (col("c0") - col("c2")) / nullif(den, lit(0.0))
    val phi2 = (col("c0") * col("c2") - col("c1") * col("c1")) /
      nullif(den, lit(0.0))
    cov.where(col("n_days") >= 3)
      .select(col("event_type"), col("n_days"),
        femit(col("mu")).as("mu"),
        femit(phi1).as("phi1"), femit(phi2).as("phi2"),
        femit(col("mu") + phi1 * col("zt") + phi2 * col("zt1"))
          .as("forecast"))
      .orderBy("event_type")
  }

  // Two-sample z-test (Welch) between the purchase and click value
  // distributions — the A/B-test decision from the same exact-moment
  // route: means and variances from DECIMAL sums, one closed-form z,
  // and the 5%-level verdict as a boolean. The whole test is one
  // partial-agged scan + a 2-row broadcast combine.
  def abTest(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .where(col("event_type").isin("purchase", "click"))
      .select(col("event_type"), col("value"))
    val m = e.groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sx"),
        dsum(col("value") * col("value")).as("sxx"))
      .select(col("event_type"), col("n"),
        (col("sx") / col("n")).as("mean"),
        ((col("sxx") - col("sx") * col("sx") / col("n"))
          / (col("n") - 1)).as("variance"))
    val a = m.where(col("event_type") === "purchase")
      .select(col("n").as("n_a"), col("mean").as("mean_a"), col("variance").as("var_a"))
    val b = m.where(col("event_type") === "click")
      .select(col("n").as("n_b"), col("mean").as("mean_b"), col("variance").as("var_b"))
    a.crossJoin(b)
      .select(col("n_a"), col("n_b"),
        femit(col("mean_a")).as("mean_a"), femit(col("mean_b")).as("mean_b"),
        femit((col("mean_a") - col("mean_b"))
          / sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")))
          .as("z"),
        (abs((col("mean_a") - col("mean_b"))
          / sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")))
          > 1.959963984540054).as("significant"))
  }

  // Fixed-grid histogram of a measure per group (the monitoring
  // companion to q51's quantiles and q107's drift report): explicit
  // bucket edges ([0, 500) in 20 cells of 25), NOT data-dependent ones
  // — a production monitor compares histograms across days, so the
  // grid must be stable under data change, and a fixed grid needs no
  // min/max pre-pass (one scan, one partial-agg shuffle of at most
  // groups × buckets cells). The bucket index is floor(value/width)
  // clamped to the edge cells — plain IEEE double division, identical
  // in both engines; per-bucket mass goes through the exact
  // DECIMAL(38,12) route.
  def valueHistogram(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        least(greatest(floor(col("value") / 25.0), lit(0.0)), lit(19.0))
          .cast("long").as("bucket"),
        col("value"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type", "bucket")

  // Regex REDACTION (the PII-scrub shape over this corpus's only
  // digit-bearing column): mask every digit run in the JSON props with
  // '#', report per event type how many events were touched, how many
  // digit characters were removed, and how many distinct masked
  // templates remain. The pattern '[0-9]+' means the same thing to
  // java.util.regex and RE2, so the redaction itself is value-oracled
  // (DuckDB needs the 'g' flag for replace-ALL, Spark's
  // regexp_replace is always global). Scale: pure per-row projection
  // + one tiny agg — the corpus streams once.
  def propsScrub(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        regexp_replace(col("props"), "[0-9]+", "#").as("masked"),
        (length(col("props")) -
          length(regexp_replace(col("props"), "[0-9]", ""))).as("n_digits"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("n_digits") > 0, 1L).otherwise(0L)).as("n_redacted"),
        sum(col("n_digits")).cast("long").as("sum_digits_masked"),
        countDistinct(col("masked")).as("n_templates"))
      .orderBy("event_type")

  // Unpivot (melt) — the inverse of q48's pivot: the wide per-user
  // event-count matrix back to long (user_id, event_type, n) rows.
  // Spark's unpivot is a pure projection+generator (one output row per
  // cell, no shuffle beyond the pivot's own); pivot∘unpivot closing the
  // loop is asserted by the oracle recomputing the long form directly
  // from events.
  def unpivotEvents(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    pivotEvents(s, dir)
      .unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
      .where(col("n") > 0)
      .orderBy("user_id", "event_type")
  }

  // E11 breadth: higher-order array functions over a per-order derived
  // array — exists/forall/filter/flatten/sequence/array_repeat/
  // aggregate. The array is built from scalar columns (deterministic),
  // every result folds to scalars (no top-level arrays in the dump).
  def arrayFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders")
      .select(col("o_orderkey"),
        sequence(lit(1L), pmod(col("o_orderkey"), lit(5L)) + lit(1L)).as("sq"),
        array(col("o_totalprice"), col("o_totalprice") * 2, lit(0.0)).as("pr"))
      .select(
        col("o_orderkey"),
        size(col("sq")).cast("long").as("sq_len"),
        exists(col("pr"), _ > 1000.0).as("any_big"),
        forall(col("pr"), _ >= 0.0).as("all_nonneg"),
        size(filter(col("sq"), x => pmod(x, lit(2L)) === 0L)).cast("long").as("n_even"),
        aggregate(col("sq"), lit(0L), (acc, x) => acc + x).as("sq_sum"),
        size(flatten(array(col("sq"), col("sq")))).cast("long").as("flat_len"),
        size(array_repeat(col("o_orderkey"), 3)).cast("long").as("rep_len"))
      .orderBy("o_orderkey")
      .limit(5000)

  // E11 breadth: date/interval arithmetic beyond q12's field extracts —
  // truncation, month arithmetic, day diffs, boundary lookups. All
  // calendar ops (no timezone arithmetic: o_orderdate is a civil date).
  def dateArith(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "orders")
      .select(col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        add_months(col("o_orderdate").cast("date"), 3).as("plus3m"),
        datediff(lit("1998-12-31").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("days_to_end"),
        last_day(col("o_orderdate").cast("date")).as("month_end"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"))
      .orderBy("o_orderkey")
      .limit(5000)

  // E11: the rest of the map-function family (q78 covers
  // map_from_arrays/map/map_concat/map_filter/transform_values) —
  // map_zip_with combines two maps keywise, transform_keys rewrites the
  // key space; exploded to sorted rows per FIXTURES §3.
  def mapZipFuncs(s: SparkSession, dir: String): DataFrame = {
    val nChars = length(col("text")).cast("long")
    val nToks = size(split(col("text"), " ", -1)).cast("long")
    Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        map_from_arrays(array(lit("chars"), lit("toks")),
          array(nChars, nToks)).as("m1"),
        map_from_arrays(array(lit("chars"), lit("toks")),
          array(nChars * 2, nToks + 1)).as("m2"))
      .select(col("doc_id"), explode(
        transform_keys(
          map_zip_with(col("m1"), col("m2"), (_, a, b) => a + b),
          (k, _) => concat(k, lit("_sum")))).as(Seq("k", "v")))
      .orderBy("doc_id", "k")
  }

  // E6 breadth: the MERGEABLE-sketch workflow q30's scalar
  // approx_count_distinct hides — per-group Apache DataSketches HLL
  // sketches (hll_sketch_agg), re-aggregated with hll_union_agg and
  // estimated over the union. Mergeability is THE property that makes
  // sketches work at 100 TB (per-partition/per-day sketches roll up
  // without touching raw data again). Estimates are folded into
  // oracle-checked bounds (the q30 pattern): a drifting sketch turns
  // the row red instead of hiding behind no_oracle.
  def hllMergeAgg(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.read(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ", -1)).as("tok"))
      .where(col("tok") =!= "")
    val perLang = tok.groupBy("lang")
      .agg(hll_sketch_agg(col("tok")).as("sk"),
        countDistinct(col("tok")).as("exact_toks"))
    val langRows = perLang.select(col("lang"), col("exact_toks"),
      (abs(hll_sketch_estimate(col("sk")) - col("exact_toks"))
        / col("exact_toks") < 0.05).as("approx_ok"))
    val exactAll = tok.agg(countDistinct(col("tok")).as("exact_toks"))
    val allRow = perLang.agg(hll_union_agg(col("sk")).as("sk"))
      .crossJoin(broadcast(exactAll))
      .select(lit("__all__").as("lang"), col("exact_toks"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_toks"))
          / col("exact_toks") < 0.05).as("approx_ok"))
    langRows.unionAll(allRow).orderBy("lang")
  }

  // REFERENTIAL-INTEGRITY audit across the full TPC-H foreign-key
  // graph — the warehouse acceptance test (dangling FKs after a
  // partial load are the classic silent corruption): one LEFT ANTI
  // join per FK edge counting orphaned children, plus both sides' row
  // counts for context. Dimension parents broadcast; the two fact-fact
  // edges are keyed shuffles (AQE-splittable). All counts exact longs.
  def refIntegrity(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.join(parent.select(col(pk).as(ck)), Seq(ck), "left_anti")
      child.agg(count(lit(1)).as("child_rows")).crossJoin(
          parent.agg(count(lit(1)).as("parent_rows")))
        .crossJoin(orphans.agg(count(lit(1)).as("orphans")))
        .select(lit(name).as("fk_edge"), col("child_rows"),
          col("parent_rows"), col("orphans"))
    }
    val li = Tables.read(s, dir, "lineitem"); val o = Tables.read(s, dir, "orders")
    val c = Tables.read(s, dir, "customer"); val su = Tables.read(s, dir, "supplier")
    val p = Tables.read(s, dir, "part"); val n = Tables.read(s, dir, "nation")
    val r = Tables.read(s, dir, "region")
    edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
      .unionAll(edge("lineitem->part", li, "l_partkey", p, "p_partkey"))
      .unionAll(edge("lineitem->supplier", li, "l_suppkey", su, "s_suppkey"))
      .unionAll(edge("orders->customer", o, "o_custkey", c, "c_custkey"))
      .unionAll(edge("customer->nation", c, "c_nationkey", n, "n_nationkey"))
      .unionAll(edge("supplier->nation", su, "s_nationkey", n, "n_nationkey"))
      .unionAll(edge("nation->region", n, "n_regionkey", r, "r_regionkey"))
      .orderBy("fk_edge")
  }

  // Quantile estimation FROM the persisted fixed-grid histogram (q115's
  // grid made useful): p50/p90 read off the cumulative bucket mass —
  // the O(buckets) answer a monitoring dashboard serves without
  // touching raw data, bounded by one bucket width of the truth. The
  // estimate itself is pure integer/grid arithmetic (upper edge of the
  // first bucket whose cumulative count reaches q·n) ⇒ exact parity;
  // the ok_* booleans check it against each engine's own exact
  // percentile with the one-bucket tolerance (the q30/q81 bound
  // pattern — robust to cross-engine interpolation drift, red if the
  // histogram path is wrong).
  def histogramQuantiles(s: SparkSession, dir: String): DataFrame = {
    val h = events(s, dir)
      .select(col("event_type"),
        least(greatest(floor(col("value") / 25.0), lit(0.0)), lit(19.0))
          .cast("long").as("bucket"), col("value"))
    val hist = h.groupBy("event_type", "bucket").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("bucket")
    val cum = hist.select(col("event_type"), col("bucket"), col("c"),
      sum(col("c")).over(w).as("cum"),
      sum(col("c")).over(Window.partitionBy("event_type")).as("n"))
    def est(q: Double) = min(when(col("cum") >= col("n") * q,
      (col("bucket") + 1L) * 25L)).cast("double")
    val ex = events(s, dir).groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("ex50"),
        expr("percentile(value, 0.9)").as("ex90"))
    cum.groupBy("event_type")
      .agg(est(0.5).as("est_p50"), est(0.9).as("est_p90"))
      .join(ex, "event_type")
      .select(col("event_type"), col("est_p50"), col("est_p90"),
        (abs(col("est_p50") - col("ex50")) <= 25.0).as("ok_p50"),
        (abs(col("est_p90") - col("ex90")) <= 25.0).as("ok_p90"))
      .orderBy("event_type")
  }

  // TABLE DIFF — the snapshot-reconciliation operator (what a data
  // engineer runs after a backfill, a migration, or a vendor refresh):
  // full outer join of two table generations on the key, each row
  // classified added / removed / changed / unchanged by comparing a
  // content digest, plus the per-class counts. The digest is the
  // portable FNV over the concatenated payload (q18's discipline) so
  // a changed row is detected identically in both engines. Scale: one
  // keyed shuffle per side (or zero with the q53 bucketed layout);
  // payload comparison is per-row. The two generations here are
  // derived from the corpus (gen1 = q82's update/delete/insert batch
  // applied), mirrored verbatim in the oracle.
  def tableDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val gen0 = docs.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"), col("lang"))
    val gen1 = gen0.where(col("doc_id") % 10 =!= 0) // deletes
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 2, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"), col("lang")) // updates
      .unionAll(docs.where(col("doc_id") % 2 === 1 && col("doc_id") % 10 === 1)
        .select(col("doc_id"), col("text"), col("lang"))) // inserts
    def dig(df: DataFrame, n: String) = df.select(col("doc_id"),
      graft.functions.HashExprs.fnv1a32("concat(text, '|', lang)").as(n))
    dig(gen0, "h0").join(dig(gen1, "h1"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h0").isNull, "added")
          .when(col("h1").isNull, "removed")
          .when(col("h0") =!= col("h1"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("status")
  }

  // Per-user event-type TRANSITION MATRIX (first-order Markov counts +
  // row-normalized probabilities) — the sequence-analytics staple
  // between q127's funnel (one fixed path) and a full sequence model:
  // consecutive event pairs per user via one lag() window, then a
  // global pair count. (ts, event_id) total order makes same-timestamp
  // ties deterministic. Two keyed shuffles, both partial-agged; the
  // probability is one division of exact longs.
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val pairs = events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
    val cnt = pairs.groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy("from_type").agg(sum(col("n")).as("row_n"))
    cnt.join(tot, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("row_n")).as("p"))
      .orderBy("from_type", "to_type")
  }

  // NEXT-EVENT PREDICTION eval — q153's transition matrix used as a
  // first-order Markov model and scored IN-ENGINE on the same events
  // (training accuracy; a production run would fit on day < t and
  // score on day ≥ t — same plan with two filters): per from-type the
  // argmax next-type (ties to the lexicographically smallest — both
  // engines' total order), then the fraction of transitions the
  // argmax gets right. The model table is tiny (|types|²) and
  // broadcast back onto the pair stream; the whole eval adds one
  // window over 25 rows + one broadcast join to q153's plan.
  def markovEval(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val pairs = events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .select(col("event_type").as("from_type"), col("next_type"))
    val cnt = pairs.groupBy("from_type", "next_type")
      .agg(count(lit(1)).as("n"))
    val wArg = Window.partitionBy("from_type")
      .orderBy(col("n").desc, col("next_type").asc)
    val model = cnt.withColumn("r", row_number().over(wArg))
      .where(col("r") === 1)
      .select(col("from_type"), col("next_type").as("predicted"))
    pairs.join(broadcast(model), "from_type")
      .groupBy("from_type")
      .agg(first(col("predicted")).as("predicted"),
        count(lit(1)).as("n"),
        sum(when(col("next_type") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n"))
      .orderBy("from_type")
  }

  // Shannon ENTROPY of the event-type distribution per user (plus the
  // type count) — the behavioral-diversity score monitoring and
  // bot-detection pipelines compute; the q143 xlogx discipline: counts
  // exact, H = ln(n) − Σ c·ln(c)/n in one fixed-order expression,
  // round(6) absorbs libm ln drift. Two partial-agged shuffles.
  def userEntropy(s: SparkSession, dir: String): DataFrame = {
    val c = events(s, dir).groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
    c.groupBy("user_id")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"),
        dsum(col("c").cast("double") * log(col("c").cast("double"))).as("sclc"))
      .select(col("user_id"), col("n"), col("n_types"),
        femit(log(col("n").cast("double"))
          - col("sclc") / col("n").cast("double")).as("entropy"))
      .orderBy("user_id")
  }

  // GINI concentration of spend across users per event type — the
  // inequality/concentration index (is value dominated by whales?):
  // G = Σᵢ (2i − n − 1)·xᵢ / (n·Σx) over per-user totals ranked
  // ascending with user_id tiebreak. The rank weight is exact integer
  // work inside a window; both Σ terms ride the DECIMAL route. One
  // extra keyed shuffle for the rank — at 100 TB the per-user totals
  // table is already ≪ raw events, so the window is cheap.
  def giniByType(s: SparkSession, dir: String): DataFrame = {
    val per = events(s, dir).groupBy("event_type", "user_id")
      .agg(dsum(col("value")).as("x"))
    val w = Window.partitionBy("event_type").orderBy(col("x").asc, col("user_id").asc)
    per.withColumn("i", row_number().over(w).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        dsum(col("x")).as("sx"),
        dsum((lit(2L) * col("i")).cast("double") * col("x")).as("s2ix"))
      .select(col("event_type"), col("n_users"),
        femit((col("s2ix") - (col("n_users") + 1L).cast("double") * col("sx"))
          / (col("n_users").cast("double") * col("sx"))).as("gini"))
      .orderBy("event_type")
  }

  // The PERSISTED sketch-rollup lifecycle q81's single-query form
  // doesn't show: per-day HLL user sketches are written as a partials
  // table (binary sketch column in parquet), and the weekly rollup
  // unions THE TABLE ONLY — raw events are never re-scanned. This is
  // how 100 TB dashboards serve distinct counts at any rollup level:
  // O(days) sketch rows per query instead of O(events), with the raw
  // scan paid exactly once at partial-build time. The estimate is
  // gate-checked against the exact weekly distinct (recomputed from
  // raw — the expensive path the rollup replaces) via the q30/q81
  // bound pattern: a drifting or wrongly-merged sketch flips
  // approx_ok and fails the hash.
  def sketchRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(
      expr("unix_micros(ts) DIV 86400000000").as("day"),
      col("user_id").cast("string").as("uid"))
      .withColumn("week", expr("day DIV 7"))
    val partials = graft.Scratch.dir("q151_daily_sketches")
    ev.groupBy("week", "day")
      .agg(hll_sketch_agg(col("uid")).as("sk"))
      .write.mode("overwrite").parquet(partials)
    val weekly = s.read.parquet(partials)
      .groupBy("week")
      .agg(count(lit(1)).as("n_days"), hll_union_agg(col("sk")).as("sk"))
    val exact = ev.groupBy("week").agg(countDistinct(col("uid")).as("exact_users"))
    weekly.join(exact, "week")
      .select(col("week"), col("n_days"), col("exact_users"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_users"))
          / col("exact_users") < 0.05).as("approx_ok"))
      .orderBy("week")
  }

  // CDC apply / MERGE-upsert shape: a base table plus a change batch of
  // inserts, updates, and deletes materialize the next table version —
  // the incremental-materialization operator every nightly pipeline
  // runs. Composition: base LEFT ANTI changes (drop every touched key)
  // ∪ surviving change rows — one shuffle on the key each side, AQE-
  // splittable, no window. The change batch is derived deterministically
  // from the corpus (updates: even doc_id % 10 = 2, text re-versioned;
  // deletes: % 10 = 0; inserts: the odd % 10 = 1 rows, which are absent
  // from the even-id base) and mirrored verbatim in the oracle.
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(s, dir, "documents")
    val base = docs.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"), col("lang"))
    val changes = base.where(col("doc_id") % 10 === 2)
      .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
        col("lang"), lit("U").as("op"))
      .unionAll(base.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"), col("lang"), lit("D").as("op")))
      .unionAll(docs.where(col("doc_id") % 2 === 1 && col("doc_id") % 10 === 1)
        .select(col("doc_id"), col("text"), col("lang"), lit("I").as("op")))
    base.join(changes.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionAll(changes.where(col("op") =!= "D").drop("op"))
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        col("lang"))
      .orderBy("doc_id")
  }

  /** Shared by q16 (the window-based batch sessionizer) and q55 (the
    * session_window streaming plan run in batch) — the two plans must
    * agree with the same oracle AND each other. */
  private val sessionizeSql: String =
    s"""WITH x AS (
       |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_us
       |  FROM events),
       |y AS (
       |  SELECT user_id, event_id, value, us,
       |    CAST(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS BIGINT) AS new_sess
       |  FROM x),
       |z AS (
       |  SELECT user_id, value, us,
       |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
       |  FROM y)
       |SELECT user_id, sess_id, count(*) AS n_events,
       |  min(us) AS sess_start_us, max(us) AS sess_end_us,
       |  ${dsumSql("value")} AS sum_value
       |FROM z GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin

  /** DuckDB twin of [[copurchaseKcore]]: the peel rounds unrolled as
    * MATERIALIZED CTEs so each is evaluated once. */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val prev = if (r == 1) "e0" else s"e${r - 1}"
      s""",
         |d$r AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM $prev UNION ALL SELECT b FROM $prev)
         |  GROUP BY 1),
         |k$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $k),
         |e$r AS MATERIALIZED (SELECT a, b FROM $prev
         |  WHERE a IN (SELECT node FROM k$r)
         |  AND b IN (SELECT node FROM k$r))""".stripMargin
    }.mkString
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |bounded AS (SELECT ok, pk FROM (SELECT ok, pk,
       |    count(*) OVER (PARTITION BY ok) AS bsize FROM items)
       |  WHERE bsize <= 64),
       |e0 AS MATERIALIZED (SELECT a, b FROM (SELECT l.pk AS a, r.pk AS b,
       |    count(*) AS cooc
       |    FROM bounded l JOIN bounded r ON l.ok = r.ok AND l.pk < r.pk
       |    GROUP BY 1, 2) WHERE cooc >= 2)$steps,
       |df AS (SELECT node, count(*) AS deg FROM (
       |    SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |  GROUP BY 1)
       |SELECT node, deg FROM df WHERE deg >= $k ORDER BY node""".stripMargin
  }

  /** Shared oracle CTE prefix for the co-purchase cohesion trio —
    * the exact q210 projection, ending in `e0(a, b)`. */
  private val copurchaseEdgeCtes: String =
    s"""items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |bounded AS (SELECT ok, pk FROM (SELECT ok, pk,
       |    count(*) OVER (PARTITION BY ok) AS bsize FROM items)
       |  WHERE bsize <= 64),
       |e0 AS MATERIALIZED (SELECT a, b FROM (SELECT l.pk AS a, r.pk AS b,
       |    count(*) AS cooc
       |    FROM bounded l JOIN bounded r ON l.ok = r.ok AND l.pk < r.pk
       |    GROUP BY 1, 2) WHERE cooc >= 2)""".stripMargin

  /** Unrolled fixed-priority MIS oracle — the identical integer
    * priority and per-round local-minimum selection [[copurchaseMis]]
    * executes. */
  private def misOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val prev = if (r == 1) "live0" else s"live${r - 1}"
      s""",
         |sel$r AS MATERIALIZED (SELECT n, p FROM $prev l
         |  WHERE NOT EXISTS (SELECT 1 FROM dir d JOIN $prev l2
         |    ON d.v = l2.n WHERE d.u = l.n
         |    AND (l2.p < l.p OR (l2.p = l.p AND l2.n < l.n)))),
         |live$r AS MATERIALIZED (SELECT n, p FROM $prev
         |  WHERE n NOT IN (SELECT n FROM sel$r)
         |  AND n NOT IN (SELECT d.v FROM dir d
         |    JOIN sel$r s ON d.u = s.n))""".stripMargin
    }.mkString
    val union = (1 to rounds).map { r =>
      s"SELECT n AS node, p AS priority, CAST($r AS BIGINT) AS sel_round FROM sel$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH $copurchaseEdgeCtes,
       |dir AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
       |  UNION ALL SELECT b, a FROM e0),
       |live0 AS MATERIALIZED (SELECT DISTINCT u AS n,
       |  (u * 2654435761) % 1048576 AS p FROM dir)$steps
       |SELECT node, priority, sel_round FROM (
       |  $union)
       |ORDER BY node""".stripMargin
  }

  /** Unrolled k-truss peel-curve oracle — same oriented wedge +
    * closing-edge triangle census and support threshold per round. */
  private def ktrussOracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val prev = if (r == 1) "e0" else s"e${r - 1}"
      s""",
         |tr$r AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM $prev e1 JOIN $prev e2 ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN $prev e3 ON e3.a = e1.b AND e3.b = e2.b),
         |sup$r AS MATERIALIZED (SELECT a, b FROM (SELECT a, b,
         |    count(*) AS s FROM (
         |    SELECT x AS a, y AS b FROM tr$r
         |    UNION ALL SELECT x, z FROM tr$r
         |    UNION ALL SELECT y, z FROM tr$r) GROUP BY 1, 2)
         |  WHERE s >= ${k - 2}),
         |e$r AS MATERIALIZED (SELECT e.a, e.b FROM $prev e
         |  JOIN sup$r s ON e.a = s.a AND e.b = s.b)""".stripMargin
    }.mkString
    val union = (0 to rounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS round, count(*) AS n_edges FROM e$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH $copurchaseEdgeCtes$steps
       |SELECT round, n_edges FROM (
       |  $union)
       |ORDER BY round""".stripMargin
  }

  /** Unrolled Durbin–Levinson oracle: q194's ACF pipeline kept
    * UNROUNDED, pivoted wide, then two CTEs per level (φ_kk, then the
    * φ_kj updates referencing it) — the identical left-associated sum
    * chains [[pacfDaily]] folds. */
  private def pacfOracle(maxLag: Int): String = {
    val rcols = (1 to maxLag).map(k =>
      s"max(CASE WHEN lag = $k THEN r END) AS r$k").mkString(",\n  ")
    val levels = new StringBuilder
    levels ++= ",\nl1 AS (SELECT *, r1 AS phi_1_1 FROM w0)"
    for (k <- 2 to maxLag) {
      val s1 = (1 until k).map(j => s"phi_${k - 1}_$j * r${k - j}")
        .mkString(" + ")
      val s2 = (1 until k).map(j => s"phi_${k - 1}_$j * r$j")
        .mkString(" + ")
      levels ++= s",\nl${k}a AS (SELECT *, (r$k - ($s1))" +
        s" / nullif(1.0 - ($s2), 0.0) AS phi_${k}_$k FROM l${k - 1})"
      val upd = (1 until k).map(j =>
        s"phi_${k - 1}_$j - phi_${k}_$k * phi_${k - 1}_${k - j}" +
          s" AS phi_${k}_$j").mkString(", ")
      levels ++= s",\nl$k AS (SELECT *, $upd FROM l${k}a)"
    }
    val union = (1 to maxLag).map(k =>
      s"SELECT CAST($k AS BIGINT) AS lag, ${femitSql(s"r$k")} AS acf," +
        s" ${femitSql(s"phi_${k}_$k")} AS pacf FROM l$maxLag")
      .mkString("\n  UNION ALL ")
    s"""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n
       |  FROM events GROUP BY 1),
       |b AS (SELECT s.day, coalesce(d.n, 0) AS x FROM
       |  (SELECT unnest(generate_series((SELECT min(day) FROM d),
       |    (SELECT max(day) FROM d))) AS day) s
       |  LEFT JOIN d USING (day)),
       |m AS (SELECT CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |  AS mean FROM b),
       |v AS (SELECT day, CAST(x AS DOUBLE) - mean AS dev
       |  FROM b CROSS JOIN m),
       |den AS (SELECT ${dsumSql("dev * dev")} AS den FROM v),
       |l AS (SELECT unnest(generate_series(1, $maxLag)) AS lag),
       |ac AS (SELECT l.lag, ${dsumSql("a.dev * b2.dev")} / den AS r
       |  FROM v a CROSS JOIN l JOIN v b2 ON b2.day = a.day + l.lag
       |  CROSS JOIN den GROUP BY l.lag, den),
       |w0 AS (SELECT $rcols FROM ac)$levels
       |SELECT lag, acf, pacf FROM (
       |  $union)
       |ORDER BY lag""".stripMargin
  }

  /** [[msprt]]'s DuckDB twin — bound to a val so q319's BH step-up
    * can reuse the identical p-value pipeline as its base CTE. */
  private val msprtOracle: String =
    s"""WITH ev AS (SELECT event_type, event_id, ts, user_id,
       |    CAST(value AS DOUBLE) AS value FROM events),
       |mom AS (SELECT event_type,
       |    (${dsumSql("value * value")} - ${dsumSql("value")} * ${dsumSql("value")} / count(*))
       |      / CAST(count(*) - 1 AS DOUBLE) AS var
       |  FROM ev GROUP BY event_type),
       |run AS (SELECT event_type, event_id, ts, user_id, value,
       |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
       |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) OVER
       |      (PARTITION BY event_type ORDER BY ts, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nt,
       |    SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) OVER
       |      (PARTITION BY event_type ORDER BY ts, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nc,
       |    SUM(CAST(CAST(CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0 END
       |      AS VARCHAR) AS DECIMAL(38,12))) OVER
       |      (PARTITION BY event_type ORDER BY ts, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st,
       |    SUM(CAST(CAST(CASE WHEN user_id % 2 <> 0 THEN value ELSE 0.0 END
       |      AS VARCHAR) AS DECIMAL(38,12))) OVER
       |      (PARTITION BY event_type ORDER BY ts, event_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sc
       |  FROM ev),
       |cp AS (SELECT r.*, m.var,
       |    max(rn) OVER (PARTITION BY r.event_type) AS last
       |  FROM run r JOIN mom m ON r.event_type = m.event_type),
       |st2 AS (SELECT event_type, rn, last, nt, nc,
       |    CAST(CAST(st AS VARCHAR) AS DOUBLE) / CAST(nt AS DOUBLE)
       |      - CAST(CAST(sc AS VARCHAR) AS DOUBLE) / CAST(nc AS DOUBLE) AS delta,
       |    var * (1.0 / CAST(nt AS DOUBLE) + 1.0 / CAST(nc AS DOUBLE)) AS vn,
       |    var AS tau
       |  FROM cp WHERE nt > 0 AND nc > 0),
       |lam AS (SELECT event_type, rn, last, nt, nc, delta,
       |    0.5 * ln(vn / (vn + tau))
       |      + delta * delta * tau / (2.0 * vn * (vn + tau)) AS loglam
       |  FROM st2),
       |mx AS (SELECT *, max(loglam) OVER
       |    (PARTITION BY event_type ORDER BY rn
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
       |  FROM lam)
       |SELECT event_type, rn AS n_seen, CAST(nt AS BIGINT) AS nt,
       |  CAST(nc AS BIGINT) AS nc, ${femitSql("delta")} AS delta,
       |  ${femitSql("loglam")} AS log_lambda,
       |  ${femitSql("least(1.0, exp(-runmax))")} AS p_always_valid
       |FROM mx WHERE rn % 200 = 0 OR rn = last
       |ORDER BY event_type, n_seen""".stripMargin

  val oracles: Map[String, String] = Map(
    // Same histogram, same dyadic 512 divisor, same (cnt DESC, key ASC)
    // top-20 cut. ceil routes through DOUBLE on both engines.
    "q330_skew_advisor" ->
      s"""WITH cnt AS (SELECT CAST(user_id AS VARCHAR) AS key,
         |  count(*) AS cnt FROM events GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnt)
         |SELECT key, cnt,
         |  ${femitSql("CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)")} AS share,
         |  CAST(greatest(1, ceil(CAST(cnt AS DOUBLE) / CAST(512.0 AS DOUBLE))) AS BIGINT) AS salt
         |FROM cnt CROSS JOIN tot
         |ORDER BY cnt DESC, key ASC LIMIT 20""".stripMargin,
    // Same fnv fold assignment, same two-stage DECIMAL moment route
    // (inner per-fold decimal sums kept AS DECIMAL, outer complement
    // combine exact, VARCHAR round-trip only at the final cast), same
    // 2x2 ridge closed form with lambda on the slope cell, same
    // residual dsum.
    "q337_cv_ridge" ->
      s"""WITH e AS (SELECT
         |  ${graft.llm.Queries.fnvSql("CAST(event_id AS VARCHAR) || ':cv'")} % 5 AS fold,
         |  CAST(epoch_us(ts) - 1704067200000000 AS DOUBLE) / 86400000000.0 AS x,
         |  value AS y FROM events),
         |pf AS (SELECT fold, count(*) AS n,
         |  SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,12))) AS sx,
         |  SUM(CAST(CAST(y AS VARCHAR) AS DECIMAL(38,12))) AS sy,
         |  SUM(CAST(CAST(x * y AS VARCHAR) AS DECIMAL(38,12))) AS sxy,
         |  SUM(CAST(CAST(x * x AS VARCHAR) AS DECIMAL(38,12))) AS sxx
         |  FROM e GROUP BY fold),
         |tr AS (SELECT a.fold AS f, CAST(SUM(b.n) AS BIGINT) AS n_train,
         |  CAST(CAST(SUM(b.sx) AS VARCHAR) AS DOUBLE) AS sx,
         |  CAST(CAST(SUM(b.sy) AS VARCHAR) AS DOUBLE) AS sy,
         |  CAST(CAST(SUM(b.sxy) AS VARCHAR) AS DOUBLE) AS sxy,
         |  CAST(CAST(SUM(b.sxx) AS VARCHAR) AS DOUBLE) AS sxx
         |  FROM pf a JOIN pf b ON a.fold <> b.fold GROUP BY a.fold),
         |f1 AS (SELECT f, n_train, sx, sy,
         |  (n_train * sxy - sx * sy)
         |    / (n_train * (sxx + CAST(1.0 AS DOUBLE)) - sx * sx) AS b1
         |  FROM tr),
         |fit AS (SELECT f, n_train, b1, (sy - b1 * sx) / n_train AS b0 FROM f1),
         |ev AS (SELECT e.fold, count(*) AS n_test,
         |  ${dsumSql("(y - (b0 + b1 * x)) * (y - (b0 + b1 * x))")} AS ssr,
         |  any_value(n_train) AS n_train,
         |  any_value(b0) AS b0, any_value(b1) AS b1
         |  FROM e JOIN fit ON e.fold = fit.f GROUP BY e.fold)
         |SELECT fold, n_train, CAST(n_test AS BIGINT) AS n_test,
         |  ${femitSql("b1")} AS slope, ${femitSql("b0")} AS intercept,
         |  ${femitSql("ssr / n_test")} AS mse
         |FROM ev ORDER BY fold""".stripMargin,
    // Same daily aggregate, same centered-series windows (lag over
    // day ASC, previous-OBSERVATION semantics), same /n biased
    // autocovariances on the dsum route, same YW closed form with the
    // nullif degenerate guard.
    "q338_ar_forecast" ->
      s"""WITH daily AS (SELECT event_type,
         |  CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
         |  CAST(count(*) AS DOUBLE) AS y FROM events GROUP BY 1, 2),
         |mu AS (SELECT event_type, ${dsumSql("y")} / count(*) AS mu,
         |  count(*) AS n_days FROM daily GROUP BY 1),
         |z AS (SELECT d.event_type, day, n_days, mu, y - mu AS z,
         |  lag(y - mu, 1) OVER (PARTITION BY d.event_type ORDER BY day ASC) AS z1,
         |  lag(y - mu, 2) OVER (PARTITION BY d.event_type ORDER BY day ASC) AS z2,
         |  row_number() OVER (PARTITION BY d.event_type ORDER BY day DESC) AS rn_desc
         |  FROM daily d JOIN mu USING (event_type)),
         |cov AS (SELECT event_type, any_value(n_days) AS n_days,
         |  any_value(mu) AS mu,
         |  ${dsumSql("z * z")} / any_value(n_days) AS c0,
         |  ${dsumSql("z * z1")} / any_value(n_days) AS c1,
         |  ${dsumSql("z * z2")} / any_value(n_days) AS c2,
         |  max(CASE WHEN rn_desc = 1 THEN z END) AS zt,
         |  max(CASE WHEN rn_desc = 2 THEN z END) AS zt1
         |  FROM z GROUP BY event_type),
         |ph AS (SELECT *,
         |  c1 * (c0 - c2) / nullif(c0 * c0 - c1 * c1, 0.0) AS phi1,
         |  (c0 * c2 - c1 * c1) / nullif(c0 * c0 - c1 * c1, 0.0) AS phi2
         |  FROM cov WHERE n_days >= 3)
         |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
         |  ${femitSql("mu")} AS mu, ${femitSql("phi1")} AS phi1,
         |  ${femitSql("phi2")} AS phi2,
         |  ${femitSql("mu + phi1 * zt + phi2 * zt1")} AS forecast
         |FROM ph ORDER BY event_type""".stripMargin,
    // Same per-side distinct-key count+hash sketches, same bottom-64
    // thresholds with the <k full-sample branch, same strict h<tau
    // sample, same single femit division; integer everywhere else.
    "q339_join_size_estimate" ->
      s"""WITH a AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS ca,
         |  ${graft.llm.Queries.fnvSql("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events GROUP BY 1),
         |b AS (SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS cb,
         |  ${graft.llm.Queries.fnvSql("CAST(o_custkey AS VARCHAR)")} AS h
         |  FROM orders GROUP BY 1),
         |ta AS (SELECT CASE WHEN count(*) < 64 THEN 4294967296
         |  ELSE max(h) END AS tau_a FROM (SELECT h FROM a ORDER BY h LIMIT 64)),
         |tb AS (SELECT CASE WHEN count(*) < 64 THEN 4294967296
         |  ELSE max(h) END AS tau_b FROM (SELECT h FROM b ORDER BY h LIMIT 64)),
         |t AS (SELECT least(tau_a, tau_b) AS tau FROM ta CROSS JOIN tb),
         |sm AS (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS sm,
         |  count(*) AS n_common_sampled, any_value(tau) AS tau
         |  FROM a JOIN b USING (key) CROSS JOIN t WHERE a.h < tau),
         |ex AS (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT)
         |  AS exact_join_size FROM a JOIN b USING (key)),
         |na AS (SELECT count(*) AS n_keys_a FROM a),
         |nb AS (SELECT count(*) AS n_keys_b FROM b)
         |SELECT n_keys_a, n_keys_b, CAST(tau AS BIGINT) AS tau,
         |  n_common_sampled,
         |  ${femitSql(
        "CAST(sm AS DOUBLE) / (CAST(tau AS DOUBLE) / CAST(4294967296.0 AS DOUBLE))")}
         |  AS est_join_size, exact_join_size
         |FROM sm CROSS JOIN ex CROSS JOIN na CROSS JOIN nb""".stripMargin,
    // Driver-environment probe ([[engineProbe]]): each column recomputes
    // one drift class through the hazardous construct on THIS engine.
    "q317_engine_probe" ->
      s"""WITH r AS (SELECT unnest(range(1, 6)) AS i)
         |SELECT count(*) AS n, CAST(sum(i) AS BIGINT) AS sum_i,
         |  ${femitSql("1.5e-6")} AS round_ladder,
         |  ${femitSql("-1e-9")} AS neg_zero,
         |  ${femitSql("CAST('nan' AS DOUBLE)")} AS nan_to_null,
         |  ${femitSql("0.1234565")} AS half_boundary,
         |  CAST(json_extract_string('{"k":7}', '$$.k') AS BIGINT) AS json_k
         |FROM r""".stripMargin,
    // The IDENTICAL recursive text — DuckDB runs the same three bounded
    // expansion rounds; every value is an exact integer.
    "q266_recursive_cte" ->
      """WITH RECURSIVE
        |i0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |ep AS (SELECT a.pk AS a, b.pk AS b FROM i0 a JOIN i0 b
        |  ON a.ok = b.ok AND a.pk < b.pk GROUP BY a.pk, b.pk HAVING count(*) >= 2),
        |e AS (SELECT a AS src, b AS dst FROM ep
        |  UNION ALL SELECT b AS src, a AS dst FROM ep),
        |walks(node, lvl) AS (
        |  SELECT (SELECT min(src) FROM e) AS node, 0 AS lvl
        |  UNION ALL
        |  SELECT e.dst AS node, w.lvl + 1 AS lvl
        |  FROM walks w JOIN e ON e.src = w.node WHERE w.lvl < 3)
        |SELECT node, min(lvl) AS dist, count(*) AS n_walks
        |FROM walks GROUP BY node ORDER BY node""".stripMargin,
    // Exact distincts and pairwise overlaps recomputed from the rows;
    // the sketch-estimate bounds gate as literal TRUE (q255's pattern —
    // a sketch outside its documented error turns the row red).
    "q267_theta_sketch" ->
      """WITH ev AS (SELECT DISTINCT event_type, user_id FROM events),
        |nd AS (SELECT event_type, count(*) AS nd FROM ev GROUP BY 1),
        |ov AS (SELECT a.event_type AS et1, b.event_type AS et2,
        |    count(*) AS exact_inter
        |  FROM ev a JOIN ev b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT n1.event_type AS et1, n2.event_type AS et2,
        |  n1.nd AS nd1, n2.nd AS nd2,
        |  coalesce(ov.exact_inter, 0) AS exact_inter,
        |  n1.nd + n2.nd - coalesce(ov.exact_inter, 0) AS exact_union,
        |  true AS inter_ok, true AS union_ok, true AS diff_ok
        |FROM nd n1 JOIN nd n2 ON n1.event_type < n2.event_type
        |LEFT JOIN ov ON ov.et1 = n1.event_type AND ov.et2 = n2.event_type
        |ORDER BY et1, et2""".stripMargin,
    // The two clipping iterations unrolled as CTEs: identical exact
    // integer moments (HUGEINT square sums — DuckDB's native exact
    // int128), identical fixed-order float expressions; the only
    // >2⁵³ integer (the variance numerator) crosses to double via the
    // VARCHAR route.
    "q268_sql_script" ->
      s"""WITH base AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS vu
        |  FROM events),
        |m1 AS (SELECT CAST(sum(vu) AS DOUBLE) / count(*) AS mu,
        |  sqrt(CAST(CAST(count(*) * sum(CAST(vu AS HUGEINT) * vu)
        |      - CAST(sum(vu) AS HUGEINT) * sum(vu) AS VARCHAR) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * (count(*) - 1))) AS sig FROM base),
        |b1 AS (SELECT mu - 2.0 * sig AS lo, mu + 2.0 * sig AS hi FROM m1),
        |f1 AS (SELECT vu FROM base CROSS JOIN b1
        |  WHERE CAST(vu AS DOUBLE) >= lo AND CAST(vu AS DOUBLE) <= hi),
        |m2 AS (SELECT CAST(sum(vu) AS DOUBLE) / count(*) AS mu,
        |  sqrt(CAST(CAST(count(*) * sum(CAST(vu AS HUGEINT) * vu)
        |      - CAST(sum(vu) AS HUGEINT) * sum(vu) AS VARCHAR) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * (count(*) - 1))) AS sig FROM f1),
        |b2 AS (SELECT mu - 2.0 * sig AS lo, mu + 2.0 * sig AS hi FROM m2),
        |f2 AS (SELECT vu FROM base CROSS JOIN b2
        |  WHERE CAST(vu AS DOUBLE) >= lo AND CAST(vu AS DOUBLE) <= hi)
        |SELECT count(*) AS n_kept,
        |  ${femitSql("CAST(sum(vu) AS DOUBLE) / count(*) / 1e6")} AS clipped_mean,
        |  ${femitSql("lo / 1e6")} AS lo_value,
        |  ${femitSql("hi / 1e6")} AS hi_value
        |FROM f2 CROSS JOIN b2 GROUP BY lo, hi""".stripMargin,
    // The three gradient steps unrolled as CTEs: identical exact-moment
    // standardization (HUGEINT square sum, VARCHAR crossing), identical
    // per-row sigmoid text, every gradient sum on the dsum route, the
    // same fixed-order weight updates.
    "q269_logistic_gd" -> {
      val p = "CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-(w0 + w1 * x)))"
      val grad = (g: String, w: String) =>
        s"""$g AS (SELECT ${dsumSql("p - y")} AS g0s, ${dsumSql("(p - y) * x")} AS g1s,
           |  min(w0) AS w0, min(w1) AS w1, min(nd) AS nd
           |  FROM (SELECT $p AS p, x, y, w0, w1, nd FROM base CROSS JOIN $w))""".stripMargin
      val step = (wNew: String, g: String) =>
        s"""$wNew AS (SELECT w0 - 0.5 * (g0s / nd) AS w0,
           |  w1 - 0.5 * (g1s / nd) AS w1 FROM $g)""".stripMargin
      s"""WITH ev AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS vu,
         |  CASE WHEN event_type = 'click' THEN CAST(1 AS DOUBLE)
         |    ELSE CAST(0 AS DOUBLE) END AS y FROM events),
         |st AS (SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
         |  CAST(sum(vu) AS DOUBLE) / count(*) AS mu,
         |  sqrt(CAST(CAST(count(*) * sum(CAST(vu AS HUGEINT) * vu)
         |      - CAST(sum(vu) AS HUGEINT) * sum(vu) AS VARCHAR) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE) * (count(*) - 1))) AS sd FROM ev),
         |base AS (SELECT (CAST(vu AS DOUBLE) - mu) / sd AS x, y, nd
         |  FROM ev CROSS JOIN st),
         |wa AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1),
         |${grad("ga", "wa")},
         |${step("wb", "ga")},
         |${grad("gb", "wb")},
         |${step("wc", "gb")},
         |${grad("gc", "wc")},
         |${step("wd", "gc")},
         |fl AS (SELECT ${dsumSql("-(y * ln(p) + (CAST(1 AS DOUBLE) - y) * ln(CAST(1 AS DOUBLE) - p))")} AS lsum,
         |  min(w0) AS w0, min(w1) AS w1, min(nd) AS nd
         |  FROM (SELECT $p AS p, x, y, w0, w1, nd FROM base CROSS JOIN wd))
         |SELECT st.n AS n, ${femitSql("fl.w0")} AS w0, ${femitSql("fl.w1")} AS w1,
         |  ${femitSql("fl.lsum / fl.nd")} AS log_loss
         |FROM fl CROSS JOIN st""".stripMargin
    },
    // Same day-collapse (rn=1 by (us, event_id) DESC ≡ the engine's
    // max-struct pick), same spine, IGNORE NULLS carry, exact checksums.
    "q284_locf" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 1000000) AS BIGINT) AS vu,
        |    epoch_us(ts) AS us, event_id
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |daily AS (SELECT user_id, day, vu FROM (
        |  SELECT user_id, day, vu, row_number() OVER (
        |    PARTITION BY user_id, day ORDER BY us DESC, event_id DESC) AS rn
        |  FROM p) WHERE rn = 1),
        |b AS (SELECT min(day) AS mnd, max(day) AS mxd FROM daily),
        |spine AS (SELECT u.user_id, gs.day
        |  FROM (SELECT DISTINCT user_id FROM daily) u
        |  CROSS JOIN (SELECT unnest(generate_series(mnd, mxd)) AS day FROM b) gs),
        |j AS (SELECT s.user_id, s.day, d.vu,
        |  last_value(d.vu IGNORE NULLS) OVER (PARTITION BY s.user_id
        |    ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled
        |  FROM spine s LEFT JOIN daily d
        |  ON d.user_id = s.user_id AND d.day = s.day)
        |SELECT user_id, count(*) AS n_days,
        |  CAST(sum(CASE WHEN vu IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_obs,
        |  CAST(sum(CASE WHEN filled IS NOT NULL AND vu IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_filled,
        |  CAST(coalesce(sum(filled), 0) AS BIGINT) AS sum_filled_vu
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Same zero-filled series, same exact prefix moments, same
    // fixed-order SSE expressions, argmax on the rounded drop with the
    // day tiebreak.
    "q285_changepoint" ->
      s"""WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  count(*) AS y FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) AS mnd, max(day) AS mxd FROM daily),
        |spine AS (SELECT et.event_type, gs.day
        |  FROM (SELECT DISTINCT event_type FROM daily) et
        |  CROSS JOIN (SELECT unnest(generate_series(mnd, mxd)) AS day FROM b) gs),
        |series AS (SELECT s.event_type, s.day, coalesce(d.y, 0) AS y
        |  FROM spine s LEFT JOIN daily d
        |  ON d.event_type = s.event_type AND d.day = s.day),
        |pre AS (SELECT event_type, day,
        |  count(*) OVER w AS k, CAST(sum(y) OVER w AS BIGINT) AS sy,
        |  CAST(sum(y * y) OVER w AS BIGINT) AS syy
        |  FROM series WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT event_type, count(*) AS n, CAST(sum(y) AS BIGINT) AS ty,
        |  CAST(sum(y * y) AS BIGINT) AS tyy FROM series GROUP BY 1),
        |costs AS (SELECT pre.event_type, day, k, sy, n, ty,
        |  ${femitSql(s"""(CAST(tyy AS DOUBLE) - CAST(ty AS DOUBLE) * CAST(ty AS DOUBLE)
        |      / CAST(n AS DOUBLE))
        |    - ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |        / CAST(k AS DOUBLE))
        |      + (CAST(tyy - syy AS DOUBLE)
        |        - CAST(ty - sy AS DOUBLE) * CAST(ty - sy AS DOUBLE)
        |          / CAST(n - k AS DOUBLE)))""")} AS sse_drop
        |  FROM pre JOIN tot ON tot.event_type = pre.event_type
        |  WHERE k < n),
        |best AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |  ORDER BY sse_drop DESC, day ASC) AS rn FROM costs)
        |SELECT event_type, day AS split_day, k AS n_left, n - k AS n_right,
        |  ${femitSql("CAST(sy AS DOUBLE) / CAST(k AS DOUBLE)")} AS mean_left,
        |  ${femitSql("CAST(ty - sy AS DOUBLE) / CAST(n - k AS DOUBLE)")}
        |    AS mean_right,
        |  sse_drop
        |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin,
    // The same star join; DuckDB TIMESTAMP literals, VARCHAR-routed
    // revenue, identical tiebroken top-10.
    "q280_tpch_q3" ->
      s"""SELECT l_orderkey,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  o_orderdate, o_orderpriority
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, o_orderdate, l_orderkey
         |LIMIT 10""".stripMargin,
    // The same returned-item star join, identical tiebroken top-20.
    "q281_tpch_q10" ->
      s"""SELECT c_custkey, c_name,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  ${femitSql("c_acctbal")} AS c_acctbal, n_name, c_mktsegment
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         |  AND l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,
    // t-closeness twin: identical clamped banding, identical dense
    // grid, prefix sums and the |·| accumulation on the DECIMAL
    // lattice (window-sum association is engine-specific for doubles).
    "q294_t_closeness" ->
      s"""WITH c AS (SELECT c_nationkey, c_mktsegment,
         |    greatest(least(CAST(floor(c_acctbal / 1000.0) AS BIGINT), 9), -1) AS bkt
         |  FROM customer),
         |gdist AS (SELECT bkt, count(*) AS gn FROM c GROUP BY bkt),
         |gt AS (SELECT count(*) AS gtot FROM c),
         |cls AS (SELECT c_nationkey, c_mktsegment, bkt, count(*) AS cn
         |  FROM c GROUP BY 1, 2, 3),
         |ctt AS (SELECT c_nationkey, c_mktsegment, count(*) AS ct
         |  FROM c GROUP BY 1, 2),
         |bk AS (SELECT unnest(range(-1, 10)) AS bkt),
         |grid AS (SELECT ctt.c_nationkey, ctt.c_mktsegment, bk.bkt, ctt.ct,
         |    CAST(COALESCE(cls.cn, 0) AS DOUBLE) / ctt.ct
         |      - CAST(COALESCE(gdist.gn, 0) AS DOUBLE) / gt.gtot AS d
         |  FROM ctt CROSS JOIN bk
         |  LEFT JOIN cls ON cls.c_nationkey = ctt.c_nationkey
         |    AND cls.c_mktsegment = ctt.c_mktsegment AND cls.bkt = bk.bkt
         |  LEFT JOIN gdist ON gdist.bkt = bk.bkt
         |  CROSS JOIN gt),
         |cum AS (SELECT c_nationkey, c_mktsegment, ct,
         |    SUM(CAST(CAST(d AS VARCHAR) AS DECIMAL(38,12))) OVER
         |      (PARTITION BY c_nationkey, c_mktsegment ORDER BY bkt
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
         |  FROM grid),
         |agg AS (SELECT c_nationkey, c_mktsegment, max(ct) AS n,
         |    ${femitSql(s"""${dsumSql("ABS(cs)")} / 10.0""")} AS emd
         |  FROM cum GROUP BY 1, 2)
         |SELECT c_nationkey, c_mktsegment, n, emd, emd > 0.15 AS violates
         |FROM agg ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    // mSPRT twin: identical arm prefix sums on the DECIMAL lattice
    // (VARCHAR-crossed back to double), identical exact-moment
    // variance, identical checkpoint thinning; round(6) absorbs
    // libm ln/exp drift.
    "q295_msprt" -> msprtOracle,
    // MDE twin: the same six exact moments (dsum CASE route), the same
    // fixed-order IEEE closed form, the same shared quantile literals.
    "q320_mde" ->
      s"""WITH e AS (SELECT event_type, user_id % 2 = 0 AS t, value
         |  FROM events WHERE value IS NOT NULL),
         |m AS (SELECT event_type,
         |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         |  CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         |  ${dsumSql("CASE WHEN t THEN value END")} AS st,
         |  ${dsumSql("CASE WHEN NOT t THEN value END")} AS sc,
         |  ${dsumSql("CASE WHEN t THEN value * value END")} AS stt,
         |  ${dsumSql("CASE WHEN NOT t THEN value * value END")} AS scc
         |  FROM e GROUP BY event_type),
         |v AS (SELECT event_type, nt, nc,
         |  (stt - st * st / CAST(nt AS DOUBLE)) / (CAST(nt AS DOUBLE) - 1.0) AS vart,
         |  (scc - sc * sc / CAST(nc AS DOUBLE)) / (CAST(nc AS DOUBLE) - 1.0) AS varc,
         |  sc / CAST(nc AS DOUBLE) AS meanc FROM m),
         |d AS (SELECT event_type, nt, nc, vart, varc, meanc,
         |  (1.959963984540054 + 0.8416212335729143)
         |    * sqrt(vart / CAST(nt AS DOUBLE) + varc / CAST(nc AS DOUBLE)) AS mdea
         |  FROM v)
         |SELECT event_type, nt, nc,
         |  ${femitSql("CASE WHEN nt > 1 THEN vart END")} AS var_t,
         |  ${femitSql("CASE WHEN nc > 1 THEN varc END")} AS var_c,
         |  ${femitSql("CASE WHEN nt > 1 AND nc > 1 THEN mdea END")} AS mde_abs,
         |  ${femitSql("CASE WHEN nt > 1 AND nc > 1 AND meanc <> 0.0 THEN mdea / meanc END")} AS mde_rel
         |FROM d ORDER BY event_type""".stripMargin,
    // Page–Hinkley twin: the same decimal-lattice prefix sums (value,
    // deviation) and exact decimal running min; the PH statistic and
    // the running mean cross to double on the VARCHAR route, the alarm
    // compares the femit'd PH — every comparison binds identical bits.
    "q326_page_hinkley" ->
      s"""WITH e AS (SELECT event_type, event_id, ts, value FROM events
         |  WHERE value IS NOT NULL),
         |b AS (SELECT event_type, event_id, ts, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
         |  SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12))) OVER
         |    (PARTITION BY event_type ORDER BY ts, event_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps
         |  FROM e),
         |s1 AS (SELECT *,
         |  CAST(CAST(ps AS VARCHAR) AS DOUBLE) / rn AS run_mean_raw,
         |  value - CAST(CAST(ps AS VARCHAR) AS DOUBLE) / rn
         |    - CAST(5.0 AS DOUBLE) AS dev FROM b),
         |s2 AS (SELECT *,
         |  SUM(CAST(CAST(dev AS VARCHAR) AS DECIMAL(38,12))) OVER
         |    (PARTITION BY event_type ORDER BY ts, event_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u FROM s1),
         |s3 AS (SELECT *,
         |  min(u) OVER (PARTITION BY event_type ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS umin FROM s2),
         |s4 AS (SELECT event_type, rn, run_mean_raw,
         |  ${femitSql("CAST(CAST(u - umin AS VARCHAR) AS DOUBLE)")} AS ph FROM s3),
         |s5 AS (SELECT *, ph > CAST(1000.0 AS DOUBLE) AS alarm FROM s4),
         |s6 AS (SELECT *,
         |  min(CASE WHEN alarm THEN rn END) OVER (PARTITION BY event_type) AS first_alarm,
         |  max(rn) OVER (PARTITION BY event_type) AS lastrn FROM s5)
         |SELECT event_type, CAST(rn AS BIGINT) AS n_seen,
         |  ${femitSql("run_mean_raw")} AS run_mean, ph, alarm,
         |  coalesce(rn = first_alarm, false) AS is_first_alarm
         |FROM s6 WHERE rn % 200 = 0 OR rn = lastrn OR rn = first_alarm
         |ORDER BY event_type, n_seen""".stripMargin,
    // BH step-up on q295's final-checkpoint p-values: the identical
    // pipeline as the base CTE, then the same m²-bounded rank/step-up
    // algebra; all boundary arithmetic forced through DOUBLE casts
    // (bare `rnk * 0.05` would route through DECIMAL and shift the
    // reject threshold by an ulp vs Spark's double multiply).
    "q319_bh_fdr" ->
      s"""WITH base AS ($msprtOracle),
         |fin AS (SELECT b.event_type, b.p_always_valid AS p FROM base b
         |  JOIN (SELECT event_type, max(n_seen) AS n_seen FROM base
         |        GROUP BY 1) f
         |  ON f.event_type = b.event_type AND f.n_seen = b.n_seen),
         |mc AS (SELECT count(*) AS m FROM fin),
         |rk AS (SELECT a.event_type, a.p, count(*) AS rnk
         |  FROM fin a JOIN fin b2 ON b2.p < a.p
         |    OR (b2.p = a.p AND b2.event_type <= a.event_type)
         |  GROUP BY 1, 2),
         |st AS (SELECT r.event_type, r.p, r.rnk,
         |    min(least(r2.p * CAST(m AS DOUBLE) / CAST(r2.rnk AS DOUBLE),
         |      CAST(1.0 AS DOUBLE))) AS q
         |  FROM rk r JOIN rk r2 ON r2.rnk >= r.rnk CROSS JOIN mc
         |  GROUP BY 1, 2, 3),
         |kk AS (SELECT max(rnk) AS k FROM rk CROSS JOIN mc
         |  WHERE p * CAST(m AS DOUBLE) <= CAST(rnk AS DOUBLE) * CAST(0.05 AS DOUBLE))
         |SELECT event_type, ${femitSql("p")} AS p, rnk,
         |  ${femitSql("q")} AS q_value,
         |  rnk <= coalesce(k, 0) AS reject
         |FROM st CROSS JOIN kk ORDER BY rnk, event_type""".stripMargin,
    // Q7: identical text; year() cast to INT (DuckDB returns BIGINT),
    // revenue on the VARCHAR route.
    "q310_tpch_q7" ->
      s"""SELECT supp_nation, cust_nation, l_year,
         |  ${dsumSql("volume")} AS revenue, count(*) AS n_lines
         |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    CAST(year(l_shipdate) AS INT) AS l_year,
         |    l_extendedprice * (1.0 - l_discount) AS volume
         |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
         |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
         |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
         |    AND c_nationkey = n2.n_nationkey
         |    AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_11')
         |      OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_12'))
         |    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
         |      AND TIMESTAMP '1997-12-31 00:00:00') shipping
         |GROUP BY supp_nation, cust_nation, l_year
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    // Q8: both ratio legs on the VARCHAR route, divided once.
    "q311_tpch_q8" ->
      s"""SELECT o_year,
         |  ${femitSql(s"""${dsumSql("CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0.0 END")}
         |    / ${dsumSql("volume")}""")} AS mkt_share,
         |  count(*) AS n_lines
         |FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |    l_extendedprice * (1.0 - l_discount) AS volume,
         |    n1.n_name AS supp_nation
         |  FROM part, supplier, lineitem, orders, customer,
         |    nation n1, nation n2, region
         |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
         |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
         |    AND c_nationkey = n2.n_nationkey
         |    AND n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
         |    AND s_nationkey = n1.n_nationkey AND p_type = 'STANDARD') all_nations
         |GROUP BY o_year ORDER BY o_year""".stripMargin,
    // Q9: identical cost proxy, profit on the VARCHAR route.
    "q312_tpch_q9" ->
      s"""SELECT nation, o_year, ${dsumSql("amount")} AS sum_profit,
         |  count(*) AS n_lines
         |FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         |    l_extendedprice * (1.0 - l_discount)
         |      - p_retailprice * 0.1 * l_quantity AS amount
         |  FROM part, supplier, lineitem, orders, nation
         |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
         |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
         |    AND p_name LIKE '%red%') profit
         |GROUP BY nation, o_year ORDER BY nation, o_year""".stripMargin,
    // Q11: per-part values and the group total both VARCHAR-routed so
    // the fraction cut admits the same parts.
    "q313_tpch_q11" ->
      s"""WITH pv AS (SELECT l_partkey,
         |    ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS value
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name IN ('NATION_3', 'NATION_4')
         |  GROUP BY l_partkey)
         |SELECT l_partkey, ${femitSql("value")} AS value
         |FROM pv
         |WHERE value > (SELECT 0.001 * ${dsumSql("value")} FROM pv)
         |ORDER BY value DESC, l_partkey""".stripMargin,
    // Q13: identical text; counts cast out of HUGEINT.
    "q314_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey,
        |    CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // Q15: the view's revenue and its max both VARCHAR-routed; the
    // equality then binds the same winner(s).
    "q315_tpch_q15" ->
      s"""WITH revenue AS (SELECT l_suppkey AS supplier_no,
         |    ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, ${femitSql("total_revenue")} AS total_revenue
         |FROM supplier JOIN revenue ON s_suppkey = supplier_no
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin,
    // Q4: identical text (EXISTS → semi join on both engines).
    "q305_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Q6: revenue on the VARCHAR route; predicates identical.
    "q306_tpch_q6" ->
      s"""SELECT count(*) AS n_lines,
         |  ${dsumSql("l_extendedprice * l_discount")} AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin,
    // Q16: identical text; DISTINCT count cast out of HUGEINT.
    "q307_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 5, 9, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%07%')
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 50""".stripMargin,
    // Q20: identical text; the HAVING threshold compares exact DECIMAL
    // sums to an integer.
    "q308_tpch_q20" ->
      """SELECT s_name, s_nationkey
        |FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'PROMO'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(38,12))) > 100)
        |ORDER BY s_name""".stripMargin,
    // Manifest twin: identical canonical rendering, same FNV fold,
    // exact BIGINT hash sums.
    "q304_dataset_manifest" ->
      s"""WITH canon AS (SELECT l_returnflag, l_orderkey,
         |    CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)
         |      || '|' || CAST(CAST(round(l_quantity * 100) AS BIGINT) AS VARCHAR) AS c
         |  FROM lineitem),
         |h AS (SELECT l_returnflag, l_orderkey,
         |    ${graft.llm.Queries.fnvSql("c")} AS h FROM canon)
         |SELECT l_returnflag, count(*) AS n_rows,
         |  CAST(sum(h) AS BIGINT) AS content_hash,
         |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
         |FROM h GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // GMM-EM twin: identical init, the 3 EM rounds unrolled as CTE
    // pairs with the same E-step expression tree and the same
    // DECIMAL-lattice M-step moments.
    "q302_gmm_em" -> {
      def ds(e: String) =
        s"CAST(CAST(SUM(CAST(CAST($e AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
      val rounds = (1 to 3).map { i =>
        val p = s"p${i - 1}"
        s"""e$i AS (SELECT xs.x, p.n,
           |    (p.w2 / sqrt(p.s2) * exp(-((xs.x - p.mu2) * (xs.x - p.mu2)) / (2.0 * p.s2)))
           |    / (p.w1 / sqrt(p.s1) * exp(-((xs.x - p.mu1) * (xs.x - p.mu1)) / (2.0 * p.s1))
           |      + p.w2 / sqrt(p.s2) * exp(-((xs.x - p.mu2) * (xs.x - p.mu2)) / (2.0 * p.s2))
           |      + 1e-300) AS r2
           |  FROM xs CROSS JOIN $p p),
           |m$i AS (SELECT max(n) AS n, ${ds("1.0 - r2")} AS bw1, ${ds("r2")} AS bw2,
           |    ${ds("(1.0 - r2) * x")} AS sx1, ${ds("r2 * x")} AS sx2,
           |    ${ds("(1.0 - r2) * x * x")} AS sq1, ${ds("r2 * x * x")} AS sq2
           |  FROM e$i),
           |p$i AS (SELECT n,
           |    sx1 / greatest(bw1, 1e-300) AS mu1,
           |    sx2 / greatest(bw2, 1e-300) AS mu2,
           |    greatest(sq1 / greatest(bw1, 1e-300)
           |      - (sx1 / greatest(bw1, 1e-300)) * (sx1 / greatest(bw1, 1e-300)),
           |      1e-12) AS s1,
           |    greatest(sq2 / greatest(bw2, 1e-300)
           |      - (sx2 / greatest(bw2, 1e-300)) * (sx2 / greatest(bw2, 1e-300)),
           |      1e-12) AS s2,
           |    bw1 / CAST(n AS DOUBLE) AS w1, bw2 / CAST(n AS DOUBLE) AS w2
           |  FROM m$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH xs AS (SELECT CAST(value AS DOUBLE) AS x FROM events),
         |b AS (SELECT count(*) AS n, min(x) AS mn, max(x) AS mx,
         |  ${ds("x")} AS sx, ${ds("x * x")} AS sxx FROM xs),
         |p0 AS (SELECT n, mn + (mx - mn) / 4.0 AS mu1,
         |    mn + (mx - mn) * 3.0 / 4.0 AS mu2,
         |    greatest(CASE WHEN n > 1
         |      THEN (sxx - sx * sx / n) / CAST(n - 1 AS DOUBLE)
         |      ELSE 0.0 END, 1e-12) AS s1,
         |    greatest(CASE WHEN n > 1
         |      THEN (sxx - sx * sx / n) / CAST(n - 1 AS DOUBLE)
         |      ELSE 0.0 END, 1e-12) AS s2,
         |    0.5 AS w1, 0.5 AS w2 FROM b),
         |$rounds
         |SELECT CAST(n AS BIGINT) AS n, ${femitSql("w1")} AS w1,
         |  ${femitSql("mu1")} AS mu1, ${femitSql("s1")} AS s1,
         |  ${femitSql("w2")} AS w2,
         |  ${femitSql("mu2")} AS mu2, ${femitSql("s2")} AS s2
         |FROM p3""".stripMargin
    },
    // Q12: identical text; conditional counts cast out of HUGEINT.
    "q296_tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Q14: numerator and denominator each on the VARCHAR route, one
    // final division in identical IEEE order.
    "q297_tpch_q14" ->
      s"""SELECT count(*) AS n_lines,
         |  ${femitSql(s"""100.0 * ${dsumSql(
        "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
         |    / ${dsumSql("l_extendedprice * (1.0 - l_discount)")}""")} AS promo_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin,
    // Q19: identical disjunction; revenue on the VARCHAR route.
    "q298_tpch_q19" ->
      s"""SELECT count(*) AS n_lines,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity BETWEEN 1 AND 11)
         |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
         |    AND l_quantity BETWEEN 10 AND 20)
         |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
         |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    // Q2: identical text — min() of stored doubles is exact, so the
    // correlated equality admits the same suppliers on both engines.
    "q286_tpch_q2" ->
      s"""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT ${femitSql("s_acctbal")} AS s_acctbal, s_name, n_name, p_partkey, p_brand
        |FROM part, ps, supplier, nation, region
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND p_type = 'PROMO' AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  AND s_acctbal = (SELECT min(s_acctbal)
        |    FROM ps ps2, supplier s2, nation n2, region r2
        |    WHERE ps2.l_partkey = p_partkey AND s2.s_suppkey = ps2.l_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    // Q17: both the output sum and the correlated threshold ride the
    // VARCHAR-routed DECIMAL path so the < boundary is bit-identical.
    "q287_tpch_q17" ->
      s"""SELECT count(*) AS n_lines,
         |  ${femitSql(s"""${dsumSql("l_extendedprice")} / 7.0""")} AS avg_yearly
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
         |  AND l_quantity < (SELECT 0.2 * ${dsumSql("l2.l_quantity")} / count(*)
         |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,
    // Q18: the HAVING threshold compares an exact DECIMAL sum on both
    // engines (no VARCHAR crossing needed for the comparison — DuckDB's
    // double→DECIMAL cast drift only matters when the decimal is cast
    // BACK to double; here quantities are small integers-in-doubles and
    // the VARCHAR route keeps the habit anyway).
    "q288_tpch_q18" ->
      s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
         |  ${femitSql("o_totalprice")} AS o_totalprice,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
         |  GROUP BY l_orderkey
         |  HAVING SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(38,12))) > 180)
         |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         |ORDER BY o_totalprice DESC, o_orderkey
         |LIMIT 100""".stripMargin,
    // Q21: identical text — counts only, date arithmetic is exact.
    "q289_tpch_q21" ->
      """WITH ll AS (SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT s_name, count(*) AS numwait
        |FROM supplier JOIN ll l1 ON s_suppkey = l1.l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE l1.late AND n_name IN ('NATION_3', 'NATION_7')
        |  AND EXISTS (SELECT 1 FROM ll l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM ll l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.late)
        |GROUP BY s_name ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,
    // Q22: scalar threshold and output sums on the VARCHAR route.
    "q290_tpch_q22" ->
      s"""SELECT c_mktsegment AS segment, count(*) AS numcust,
         |  ${dsumSql("c_acctbal")} AS totacctbal
         |FROM customer
         |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
         |  AND c_acctbal > (SELECT ${dsumSql("c_acctbal")} / count(*)
         |    FROM customer WHERE c_acctbal > 0.0
         |      AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY'))
         |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         |GROUP BY c_mktsegment ORDER BY segment""".stripMargin,
    // The identical modern-SQL text (VALUES dimension, GROUP BY ALL,
    // ORDER BY ALL) with the revenue sum on the DuckDB VARCHAR route.
    "q275_modern_sql" ->
      s"""SELECT t.tier, o.o_orderpriority, count(*) AS n_orders,
         |  ${femitSql(s"""${dsumSql("o_totalprice")}""")} AS total_price
         |FROM orders o JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
         |    ('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'),
         |    ('5-LOW', 'cold')) AS t(prio, tier)
         |  ON o.o_orderpriority = t.prio
         |GROUP BY ALL ORDER BY ALL""".stripMargin,
    // The same per-order profile with NO clustering clause — physical
    // distribution must be invisible in the values.
    "q277_distribute_by" ->
      """SELECT count(*) AS n_orders, max(n_lines) AS max_lines,
        |  CAST(sum(n_lines) AS BIGINT) AS total_lines,
        |  CAST(max(qty) AS BIGINT) AS max_order_qty
        |FROM (
        |  SELECT l_orderkey, count(*) AS n_lines,
        |    sum(CAST(round(l_quantity) AS BIGINT)) AS qty
        |  FROM lineitem GROUP BY l_orderkey)""".stripMargin,
    // Same pooled average ranks (exact prefix-sum integers — the
    // oracle's one global window equals the engine's two-phase cell
    // decomposition exactly), same dsum rank sums, same fixed-order
    // tie-corrected closing formula.
    "q274_kruskal_wallis" ->
      s"""WITH pts AS (SELECT event_type,
         |  CAST(round(value * 1000000) AS BIGINT) AS vu
         |  FROM events WHERE value IS NOT NULL),
         |cells AS (SELECT vu, event_type, count(*) AS c FROM pts GROUP BY 1, 2),
         |vals AS (SELECT vu, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY 1),
         |ranked AS (SELECT vu, t,
         |  CAST(coalesce(sum(t) OVER (ORDER BY vu ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
         |    + (CAST(t AS DOUBLE) + 1.0) / 2.0 AS avgrank FROM vals),
         |pg AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS ng,
         |  ${dsumSql("CAST(c AS DOUBLE) * avgrank")} AS sr
         |  FROM cells JOIN ranked USING (vu) GROUP BY 1),
         |ties AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3 FROM ranked),
         |ag AS (SELECT CAST(sum(ng) AS BIGINT) AS n, count(*) AS n_groups,
         |  ${dsumSql("sr * sr / CAST(ng AS DOUBLE)")} AS s2 FROM pg),
         |hh AS (SELECT n, n_groups,
         |  12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * s2
         |    - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h, tie3
         |  FROM ag CROSS JOIN ties)
         |SELECT n, n_groups, ${femitSql("h")} AS h,
         |  ${femitSql(s"""h / (1.0 - CAST(tie3 AS DOUBLE)
         |    / CAST(n * n * n - n AS DOUBLE))""")} AS h_corrected
         |FROM hh""".stripMargin,
    // The recurrence replayed as a recursive CTE over the idx-ordered
    // series — identical operation order (the trend row recomputes the
    // new-level expression verbatim), so every intermediate is
    // bit-identical IEEE without any decimal route.
    "q272_holt_winters" ->
      s"""WITH RECURSIVE
        |daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  count(*) AS y FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) AS mnd, max(day) AS mxd FROM daily),
        |spine AS (SELECT et.event_type, gs.day
        |  FROM (SELECT DISTINCT event_type FROM daily) et
        |  CROSS JOIN (SELECT unnest(generate_series(mnd, mxd)) AS day FROM b) gs),
        |series AS (SELECT s.event_type, s.day, coalesce(d.y, 0) AS y
        |  FROM spine s LEFT JOIN daily d
        |  ON d.event_type = s.event_type AND d.day = s.day),
        |s2 AS (SELECT event_type,
        |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS idx,
        |  CAST(y AS DOUBLE) AS y FROM series),
        |n AS (SELECT event_type, count(*) AS n_days FROM s2 GROUP BY 1),
        |r AS (
        |  SELECT event_type, 1 AS idx, y AS lvl, CAST(0 AS DOUBLE) AS tr
        |  FROM s2 WHERE idx = 1
        |  UNION ALL
        |  SELECT r.event_type, r.idx + 1,
        |    0.5 * s2.y + 0.5 * (r.lvl + r.tr),
        |    0.25 * ((0.5 * s2.y + 0.5 * (r.lvl + r.tr)) - r.lvl) + 0.75 * r.tr
        |  FROM r JOIN s2 ON s2.event_type = r.event_type AND s2.idx = r.idx + 1)
        |SELECT r.event_type, CAST(n.n_days AS INT) AS n_days,
        |  ${femitSql("r.lvl")} AS level, ${femitSql("r.tr")} AS trend,
        |  ${femitSql("r.lvl + r.tr")} AS forecast_next
        |FROM r JOIN n ON n.event_type = r.event_type AND r.idx = n.n_days
        |ORDER BY r.event_type""".stripMargin,
    // Same daily matrix (zero-filled spine), same exact pair counts,
    // same single fixed-order tau-b expression on exact integers.
    "q273_kendall_tau" ->
      s"""WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  count(*) AS y FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) AS mnd, max(day) AS mxd FROM daily),
        |spine AS (SELECT et.event_type, gs.day
        |  FROM (SELECT DISTINCT event_type FROM daily) et
        |  CROSS JOIN (SELECT unnest(generate_series(mnd, mxd)) AS day FROM b) gs),
        |series AS (SELECT s.event_type, s.day, coalesce(d.y, 0) AS y
        |  FROM spine s LEFT JOIN daily d
        |  ON d.event_type = s.event_type AND d.day = s.day),
        |m AS (SELECT a.event_type AS et1, b.event_type AS et2, a.day,
        |    a.y AS x, b.y AS yy
        |  FROM series a JOIN series b ON a.day = b.day
        |    AND a.event_type < b.event_type),
        |dp AS (SELECT p.et1, p.et2, p.x AS x1, p.yy AS y1, q.x AS x2, q.yy AS y2
        |  FROM m p JOIN m q ON p.et1 = q.et1 AND p.et2 = q.et2 AND p.day < q.day),
        |agg AS (SELECT et1, et2, count(*) AS n0,
        |  CAST(sum(CASE WHEN (x1 - x2) * (y1 - y2) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS concordant,
        |  CAST(sum(CASE WHEN (x1 - x2) * (y1 - y2) < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS discordant,
        |  CAST(sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
        |  CAST(sum(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
        |  FROM dp GROUP BY 1, 2)
        |SELECT et1, et2, n0, concordant, discordant,
        |  ${femitSql("CAST(concordant - discordant AS DOUBLE) / sqrt(CAST((n0 - ties_x) * (n0 - ties_y) AS DOUBLE))")} AS tau_b
        |FROM agg WHERE n0 > ties_x AND n0 > ties_y
        |ORDER BY et1, et2""".stripMargin,
    // Same daily DECIMAL-route reduction, same integer/half-integer
    // ranks (average-rank ties), same dsum moment route, same
    // fixed-order closing formula.
    "q230_spearman" ->
      s"""WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |  ${dsumSql("value")} AS y FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type,
         |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY day ASC) AS DOUBLE) AS rx,
         |  CAST(rank() OVER (PARTITION BY event_type ORDER BY y ASC) AS DOUBLE)
         |    + (CAST(count(*) OVER (PARTITION BY event_type, y) AS DOUBLE) - 1.0) / 2.0 AS ry
         |  FROM daily),
         |m AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
         |  ${dsumSql("rx")} AS sx, ${dsumSql("ry")} AS sy,
         |  ${dsumSql("rx * rx")} AS sxx, ${dsumSql("ry * ry")} AS syy,
         |  ${dsumSql("rx * ry")} AS sxy FROM r GROUP BY 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n_days,
         |  CASE WHEN n * sxx - sx * sx > 0.0 AND n * syy - sy * sy > 0.0
         |    THEN ${femitSql("(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))")}
         |  END AS rho
         |FROM m ORDER BY event_type""".stripMargin,
    // The VARIANT path read must equal plain JSON extraction of the
    // same nested document; all outputs exact integers.
    "q236_variant_json" ->
      """WITH x AS (SELECT event_type, user_id,
        |  CAST(('{"u":' || user_id || ',"inner":' || props || '}')
        |    ->> '$.inner.k' AS BIGINT) AS k,
        |  CAST(('{"u":' || user_id || ',"inner":' || props || '}')
        |    ->> '$.u' AS BIGINT) AS u
        |  FROM events)
        |SELECT event_type, count(*) AS n, count(k) AS n_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
        |  CAST(sum(CASE WHEN u = user_id THEN 1 ELSE 0 END) AS BIGINT) AS n_u_ok
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Collation-insensitive grouping ≡ grouping on lower(); the variant
    // census (n_forms, min_form) pins that the three injected spellings
    // really collapsed into one group.
    "q237_collated_group" ->
      """WITH x AS (SELECT CASE event_id % 3
        |    WHEN 0 THEN upper(event_type)
        |    WHEN 1 THEN upper(substr(event_type, 1, 1)) || lower(substr(event_type, 2))
        |    ELSE event_type END AS et FROM events)
        |SELECT lower(et) AS event_type, count(*) AS n,
        |  count(DISTINCT et) AS n_forms, min(et) AS min_form
        |FROM x GROUP BY lower(et) ORDER BY event_type""".stripMargin,
    // Same pinned order, same integer-ratio definitions, same explicit
    // full-partition frame for nth_value.
    "q242_window_extras" ->
      s"""WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey < 50),
        |n AS (SELECT o_custkey FROM o GROUP BY 1 HAVING count(*) >= 2)
        |SELECT o.o_custkey, o.o_orderkey,
        |  ${femitSql("percent_rank() OVER w")} AS pct_rank,
        |  ${femitSql("cume_dist() OVER w")} AS cume,
        |  nth_value(o.o_orderkey, 2) OVER
        |    (PARTITION BY o.o_custkey
        |     ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_best
        |FROM o JOIN n ON n.o_custkey = o.o_custkey
        |WINDOW w AS (PARTITION BY o.o_custkey
        |  ORDER BY o.o_totalprice DESC, o.o_orderkey ASC)
        |ORDER BY o.o_custkey, o.o_orderkey""".stripMargin,
    // The identical LATERAL text — DuckDB runs the same correlated
    // ORDER BY + LIMIT subquery per nation row.
    "q245_lateral_join" ->
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2) t
        |ORDER BY n.n_name, t.c_custkey""".stripMargin,
    // The pipe query's traditional-SQL twin (same filter, same dsum
    // route, same output columns).
    "q246_sql_pipe" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
         |  ${femitSql(s"""${dsumSql("l_extendedprice * (1.0 - l_discount)")}""")} AS revenue
         |FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // Same 1-row midpoint, same 2x2 cells via the dsum route, same
    // fixed-order DiD expression.
    "q247_diff_in_diff" ->
      s"""WITH ev AS (SELECT event_type, user_id % 2 AS treat,
         |  epoch_us(ts) // 86400000000 AS day, value FROM events),
         |m AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
         |cells AS (SELECT event_type, treat,
         |  CASE WHEN day >= mid THEN 1 ELSE 0 END AS post,
         |  count(*) AS n, ${dsumSql("value")} AS sv
         |  FROM ev CROSS JOIN m GROUP BY 1, 2, 3),
         |mm AS (SELECT event_type, treat, post, n,
         |  sv / CAST(n AS DOUBLE) AS m FROM cells),
         |p AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
         |  max(CASE WHEN treat = 0 AND post = 0 THEN m END) AS m00,
         |  max(CASE WHEN treat = 0 AND post = 1 THEN m END) AS m01,
         |  max(CASE WHEN treat = 1 AND post = 0 THEN m END) AS m10,
         |  max(CASE WHEN treat = 1 AND post = 1 THEN m END) AS m11
         |  FROM mm GROUP BY 1)
         |SELECT event_type, n_events,
         |  ${femitSql("m00")} AS ctl_pre, ${femitSql("m01")} AS ctl_post,
         |  ${femitSql("m10")} AS trt_pre, ${femitSql("m11")} AS trt_post,
         |  ${femitSql("(m11 - m10) - (m01 - m00)")} AS did
         |FROM p ORDER BY event_type""".stripMargin,
    // Same portable-FNV uniforms, same shared Poisson thresholds, same
    // dsum replicate means, same exact (2, 31) order statistics.
    "q248_bootstrap_ci" -> {
      val wCase = "CASE " + PoissonCdf.zipWithIndex.map { case (c, k) =>
        s"WHEN u < CAST($c AS DOUBLE) THEN $k"
      }.mkString(" ") + " ELSE 5 END"
      s"""WITH ev AS (SELECT event_type, event_id, value FROM events),
         |x AS (SELECT event_type, event_id, value, unnest(range(32)) AS b FROM ev),
         |uu AS (SELECT event_type, value, b,
         |  CAST(${graft.llm.Queries.fnvSql(
              "CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)")}
         |    % 16777216 AS DOUBLE) / CAST(16777216.0 AS DOUBLE) AS u FROM x),
         |ww AS (SELECT event_type, value, b, $wCase AS w FROM uu),
         |reps AS (SELECT event_type, b,
         |  ${dsumSql("CAST(w AS DOUBLE) * value")} AS ws, sum(w) AS wn
         |  FROM ww GROUP BY 1, 2),
         |mb AS (SELECT event_type, b, ws / CAST(wn AS DOUBLE) AS mean_b FROM reps),
         |rk AS (SELECT event_type, mean_b, row_number() OVER (
         |  PARTITION BY event_type ORDER BY mean_b ASC, b ASC) AS rn FROM mb),
         |ci AS (SELECT event_type,
         |  max(CASE WHEN rn = 2 THEN mean_b END) AS lo,
         |  max(CASE WHEN rn = 31 THEN mean_b END) AS hi
         |  FROM rk GROUP BY 1),
         |base AS (SELECT event_type, count(*) AS n, ${dsumSql("value")} AS sv
         |  FROM ev GROUP BY 1)
         |SELECT base.event_type, base.n,
         |  ${femitSql("sv / CAST(n AS DOUBLE)")} AS mean,
         |  ${femitSql("lo")} AS ci_lo, ${femitSql("hi")} AS ci_hi
         |FROM base JOIN ci ON ci.event_type = base.event_type
         |ORDER BY base.event_type""".stripMargin
    },
    // Same one-pass conditional aggregates; same portable-FNV split.
    "q262_feature_store" ->
      s"""WITH ev AS (SELECT user_id, event_type,
         |  epoch_us(ts) // 86400000000 AS day, value FROM events),
         |h AS (SELECT max(day) AS h FROM ev),
         |f AS (SELECT user_id, count(*) AS n_events,
         |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_purchases,
         |  count(DISTINCT day) AS active_days,
         |  max(h.h) - max(day) AS recency_days,
         |  max(day) - min(day) AS tenure_days,
         |  ${femitSql(dsumSql(
              "CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END"))} AS spend
         |  FROM ev CROSS JOIN h GROUP BY user_id)
         |SELECT user_id, n_events, n_purchases, active_days, recency_days,
         |  tenure_days, spend,
         |  CASE WHEN ${graft.llm.Queries.fnvSql(
              "CAST(user_id AS VARCHAR) || ':feat'")} % 10 < 8 THEN 'train'
         |       WHEN ${graft.llm.Queries.fnvSql(
              "CAST(user_id AS VARCHAR) || ':feat'")} % 10 = 8 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM f ORDER BY user_id""".stripMargin,
    // The policy filter over the original table: last 14 observed days.
    "q263_retention_sweep" ->
      s"""WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day, value FROM events),
         |h AS (SELECT max(day) - 13 AS cutoff FROM ev)
         |SELECT day, count(*) AS n, ${femitSql(s"""${dsumSql("value")}""")} AS sum_value
         |FROM ev CROSS JOIN h WHERE day >= cutoff
         |GROUP BY day ORDER BY day""".stripMargin,
    // The anti-filtered original; the target-count column must be all
    // zeros.
    "q264_erasure" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         |  value FROM events),
         |t AS (SELECT min(user_id) AS t FROM ev)
         |SELECT day, count(*) AS n,
         |  CAST(0 AS BIGINT) AS n_target_rows,
         |  ${femitSql(s"""${dsumSql("value")}""")} AS sum_value
         |FROM ev CROSS JOIN t WHERE user_id <> t.t
         |GROUP BY day ORDER BY day""".stripMargin,
    // The two-step variable pipeline inlined as a CTE; 0.75 is dyadic
    // so both engines' percentile interpolations are binary-exact
    // (q51's rule).
    "q259_sql_variables" ->
      s"""WITH th AS (SELECT quantile_cont(o_totalprice, 0.75) AS t FROM orders)
         |SELECT o_orderpriority, count(*) AS n_orders,
         |  ${femitSql(s"""${dsumSql("o_totalprice")}""")} AS total_price
         |FROM orders CROSS JOIN th WHERE o_totalprice > t
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Same observed-day series, same 7-back lag, same final-week
    // filter, exact integer errors, dsum for the MAPE terms.
    "q260_backtest" ->
      s"""WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |  count(*) AS y FROM events GROUP BY 1, 2),
         |lagged AS (SELECT event_type, day, y,
         |  lag(y, 7) OVER (PARTITION BY event_type ORDER BY day ASC) AS yhat
         |  FROM daily),
         |h AS (SELECT max(day) AS maxd FROM daily),
         |sc AS (SELECT event_type, y, yhat FROM lagged CROSS JOIN h
         |  WHERE yhat IS NOT NULL AND day > maxd - 7)
         |SELECT event_type, count(*) AS n_scored,
         |  ${femitSql("CAST(sum(abs(y - yhat)) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS mae,
         |  ${femitSql(dsumSql("CAST(abs(y - yhat) AS DOUBLE) / CAST(y AS DOUBLE)") +
               " / CAST(count(*) AS DOUBLE)")} AS mape,
         |  ${femitSql("CAST(sum(y - yhat) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS bias
         |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same zero-filled spine, same int64 window moments, same closed
    // form; degenerate windows NULL on both engines.
    "q261_rolling_corr" ->
      s"""WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |  count(*) AS y FROM events WHERE event_type IN ('view', 'click')
         |  GROUP BY 1, 2),
         |sp AS (SELECT unnest(range((SELECT min(day) FROM daily),
         |  (SELECT max(day) FROM daily) + 1)) AS day),
         |a AS (SELECT sp.day, coalesce(v.y, 0) AS x FROM sp
         |  LEFT JOIN (SELECT day, y FROM daily WHERE event_type = 'view') v
         |  ON v.day = sp.day),
         |j AS (SELECT a.day, a.x, coalesce(c.y, 0) AS z FROM a
         |  LEFT JOIN (SELECT day, y FROM daily WHERE event_type = 'click') c
         |  ON c.day = a.day),
         |w AS (SELECT day,
         |  count(*) OVER fr AS m,
         |  sum(x) OVER fr AS sx, sum(z) OVER fr AS sz,
         |  sum(x * x) OVER fr AS sxx, sum(z * z) OVER fr AS szz,
         |  sum(x * z) OVER fr AS sxz
         |  FROM j WINDOW fr AS (ORDER BY day ASC ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         |SELECT day,
         |  CASE WHEN m * sxx - sx * sx > 0 AND m * szz - sz * sz > 0
         |    THEN ${femitSql("CAST(m * sxz - sx * sz AS DOUBLE) / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(m * szz - sz * sz AS DOUBLE)))")}
         |  END AS corr14
         |FROM w WHERE m = 14 ORDER BY day""".stripMargin,
    // Hints must not change results: the plain three-way join.
    "q256_join_hints" ->
      s"""SELECT c.c_mktsegment, count(*) AS n_lines,
         |  ${femitSql(s"""${dsumSql("l_extendedprice * (1.0 - l_discount)")}""")} AS revenue
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    // Per-type rows recomputed directly; the observed row is the same
    // aggregates at the global grain.
    "q257_observe_metrics" ->
      s"""WITH t AS (SELECT event_type, count(*) AS n, ${dsumSql("value")} AS sv
         |  FROM events GROUP BY 1),
         |g AS (SELECT CAST('__OBSERVED__' AS VARCHAR) AS event_type,
         |  count(*) AS n, ${dsumSql("value")} AS sv FROM events)
         |SELECT event_type, n, ${femitSql("sv")} AS sum_value FROM t
         |UNION ALL SELECT event_type, n, ${femitSql("sv")} FROM g
         |ORDER BY event_type""".stripMargin,
    // Exact integer micro-units: median halves exact, mode tie broken
    // explicitly by (count DESC, k ASC) — Spark's deterministic=true
    // contract — count_if/bool_and/bool_or as portable CASE/aggregates.
    "q258_agg_family" ->
      s"""WITH ev AS (SELECT event_type,
        |  CAST(round(value * 1000000) AS BIGINT) AS vu,
        |  CAST(props ->> '$$.k' AS BIGINT) AS k FROM events),
        |md AS (SELECT event_type, k, count(*) AS c FROM ev GROUP BY 1, 2),
        |mo AS (SELECT event_type, k AS mode_k FROM
        |  (SELECT event_type, k, row_number() OVER (PARTITION BY event_type
        |    ORDER BY c DESC, k ASC) AS rn FROM md) WHERE rn = 1)
        |SELECT ev.event_type, count(*) AS n,
        |  ${femitSql("median(vu) / 1e6")} AS median_value,
        |  min(mo.mode_k) AS mode_k,
        |  CAST(sum(CASE WHEN vu > 50000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_over_50,
        |  bool_and(vu >= 0) AS all_nonneg,
        |  bool_or(k = 99) AS any_k99
        |FROM ev JOIN mo ON mo.event_type = ev.event_type
        |GROUP BY ev.event_type ORDER BY ev.event_type""".stripMargin,
    // Exact distincts per cube cell; the sketch estimate gates as the
    // Spark-side bound boolean (q30/q81's pattern).
    "q255_cube_sketch" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  user_id FROM events)
        |SELECT coalesce(event_type, 'ALL') AS etype, coalesce(day, -1) AS day,
        |  count(*) AS n_rows, count(DISTINCT user_id) AS exact_distinct,
        |  true AS est_ok
        |FROM ev GROUP BY CUBE(event_type, day)
        |ORDER BY etype, day""".stripMargin,
    // Same exact integer moments, same two fixed-order divisions.
    "q253_fano" ->
      s"""WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  count(*) AS x FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*) AS n_days,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM daily GROUP BY 1 HAVING count(*) >= 2)
        |SELECT event_type, n_days,
        |  ${femitSql("CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)")} AS mean_daily,
        |  ${femitSql(s"""(CAST(n_days * sxx - sx * sx AS DOUBLE)
        |      / CAST(n_days * (n_days - 1) AS DOUBLE))
        |    / (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))""")} AS fano
        |FROM m ORDER BY event_type""".stripMargin,
    // The parameterized template with its bindings inlined as literals.
    "q249_param_sql" ->
      s"""SELECT l_returnflag, count(*) AS n_lines,
         |  ${femitSql(s"""${dsumSql("l_extendedprice * (1.0 - l_discount)")}""")} AS revenue
         |FROM lineitem WHERE l_quantity >= 30
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // The SQL-UDF bodies inlined by hand; same DECIMAL route.
    "q238_sql_udf" ->
      s"""SELECT l_returnflag, count(*) AS n_lines,
         |  ${femitSql(s"""${dsumSql("l_extendedprice * (1.0 - l_discount)")}""")} AS disc_revenue,
         |  ${femitSql(s"""${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")}""")} AS charge_revenue
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Same exact ages, same exp() on identical inputs, same DECIMAL
    // route, same pinned total order for the top-20.
    "q227_decay_popularity" ->
      s"""WITH o AS (SELECT o_orderkey,
         |  epoch_us(o_orderdate) // 86400000000 AS oday FROM orders),
         |h AS (SELECT max(oday) AS hday FROM o),
         |w AS (SELECT l_partkey,
         |  exp(CAST(oday - hday AS DOUBLE) / CAST(30.0 AS DOUBLE)) AS w
         |  FROM lineitem JOIN o ON l_orderkey = o_orderkey CROSS JOIN h),
         |g AS (SELECT l_partkey, count(*) AS n_lines,
         |  ${dsumSql("w")} AS score0 FROM w GROUP BY 1)
         |SELECT l_partkey, n_lines, ${femitSql("score0")} AS score
         |FROM g ORDER BY score0 DESC, l_partkey ASC LIMIT 20""".stripMargin,
    // Bag-semantics twins: DuckDB's INTERSECT ALL / EXCEPT ALL keep the
    // same multiplicities.
    "q225_setops_all" ->
      """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |bag AS (
        |  SELECT 'f_bag_and_o' AS op, o_custkey FROM
        |    (SELECT o_custkey FROM f INTERSECT ALL SELECT o_custkey FROM o)
        |  UNION ALL
        |  SELECT 'f_bag_not_o', o_custkey FROM
        |    (SELECT o_custkey FROM f EXCEPT ALL SELECT o_custkey FROM o))
        |SELECT op, o_custkey AS custkey, count(*) AS multiplicity
        |FROM bag GROUP BY 1, 2 ORDER BY op, custkey""".stripMargin,
    // string_agg over the DISTINCT sorted set — one semantics, two
    // syntaxes.
    "q226_listagg" ->
      """SELECT o_orderstatus,
        |  string_agg(DISTINCT o_orderpriority, ','
        |    ORDER BY o_orderpriority) AS priorities,
        |  count(DISTINCT o_orderpriority) AS n_priorities,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // Identical three-valued-logic probe; the poisoned branch must be
    // (0, 0.0) on both engines.
    "q224_not_in_nulls" ->
      s"""SELECT 'clean' AS branch, count(*) AS n_orders,
         |  COALESCE(${dsumSql("o_totalprice")}, CAST(0.0 AS DOUBLE))
         |    AS sum_price
         |FROM orders
         |WHERE o_custkey NOT IN
         |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         |UNION ALL
         |SELECT 'poisoned', count(*),
         |  COALESCE(${dsumSql("o_totalprice")}, CAST(0.0 AS DOUBLE))
         |FROM orders
         |WHERE o_custkey NOT IN
         |  (SELECT CASE WHEN c_custkey % 1000 = 7 THEN NULL ELSE c_custkey END
         |   FROM customer WHERE c_mktsegment = 'BUILDING')
         |ORDER BY branch""".stripMargin,
    // The same six-table star join; DuckDB's TIMESTAMP literals and the
    // VARCHAR-round-trip DECIMAL sum mirror the Spark SQL text.
    "q221_tpch_q5" ->
      s"""SELECT n_name, ${dsumSql("l_extendedprice * (1.0 - l_discount)")}
         |    AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |  AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    // Same pre/post split, same DECIMAL-route moments, same fixed-order
    // closing arithmetic (θ, corr², adjusted means).
    "q219_cuped" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         |  value FROM events
         |  WHERE value IS NOT NULL AND event_type = 'purchase'),
         |c AS (SELECT min(day) + 15 AS cut FROM e),
         |pu AS (SELECT user_id,
         |  coalesce(${dsumSql("CASE WHEN day < cut THEN value END")},
         |    CAST(0.0 AS DOUBLE)) AS x,
         |  coalesce(${dsumSql("CASE WHEN day >= cut THEN value END")},
         |    CAST(0.0 AS DOUBLE)) AS y
         |  FROM e CROSS JOIN c GROUP BY user_id),
         |pl AS (SELECT count(*) AS n, ${dsumSql("x")} AS sx,
         |  ${dsumSql("y")} AS sy, ${dsumSql("x * x")} AS sxx,
         |  ${dsumSql("x * y")} AS sxy, ${dsumSql("y * y")} AS syy FROM pu),
         |p2 AS (SELECT sx / CAST(n AS DOUBLE) AS xbar,
         |  sy / CAST(n AS DOUBLE) AS ybar,
         |  sxx / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)) AS varx,
         |  syy / CAST(n AS DOUBLE) - (sy / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)) AS vary,
         |  sxy / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)) AS cov
         |  FROM pl),
         |p3 AS (SELECT xbar, varx, vary, cov, cov / varx AS theta FROM p2),
         |g AS (SELECT user_id % 2 AS arm, count(*) AS n_users,
         |  ${dsumSql("x")} AS gx, ${dsumSql("y")} AS gy FROM pu GROUP BY 1)
         |SELECT arm, n_users,
         |  ${femitSql("gy / CAST(n_users AS DOUBLE)")} AS mean_post,
         |  ${femitSql("gy / CAST(n_users AS DOUBLE) - theta * (gx / CAST(n_users AS DOUBLE) - xbar)")}
         |    AS mean_adjusted,
         |  ${femitSql("theta")} AS theta,
         |  ${femitSql("cov * cov / (varx * vary)")} AS var_reduction
         |FROM g CROSS JOIN p3 ORDER BY arm""".stripMargin,
    // The corrected table recomputed as a CASE over the original —
    // partition wipe (missing days) or double-write (doubled counts)
    // both diverge.
    "q220_dynamic_overwrite" ->
      s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, value
         |  FROM events),
         |m AS (SELECT max(day) AS last_day FROM e)
         |SELECT day, count(*) AS n,
         |  ${femitSql(s"""${dsumSql(
             "CASE WHEN day = last_day THEN value * CAST(2.0 AS DOUBLE) ELSE value END")}""")}
         |    AS sum_value
         |FROM e CROSS JOIN m GROUP BY day ORDER BY day""".stripMargin,
    // Same halves, same dyadic grid, same filtered one-pass quantiles;
    // a list-index cross join replaces posexplode.
    "q217_qq_eighths" ->
      s"""WITH e AS (SELECT event_type,
         |  CAST(round(value * 100) AS BIGINT) AS cents,
         |  user_id % 2 = 0 AS even
         |  FROM events WHERE value IS NOT NULL),
         |g AS (SELECT event_type,
         |  quantile_cont(CASE WHEN even THEN cents END,
         |    [0.0, 0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875, 1.0]) AS qe,
         |  quantile_cont(CASE WHEN NOT even THEN cents END,
         |    [0.0, 0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875, 1.0]) AS qo
         |  FROM e GROUP BY 1)
         |SELECT event_type, CAST(i AS BIGINT) AS eighth,
         |  qe[i + 1] / CAST(100.0 AS DOUBLE) AS q_even,
         |  qo[i + 1] / CAST(100.0 AS DOUBLE) AS q_odd,
         |  ${femitSql("qo[i + 1] / CAST(100.0 AS DOUBLE) - qe[i + 1] / CAST(100.0 AS DOUBLE)")} AS diff
         |FROM g CROSS JOIN range(9) r(i)
         |ORDER BY event_type, eighth""".stripMargin,
    // Same band pairing (spelled as a plain theta join — DuckDB's
    // optimizer handles gate-scale; the ENGINE's cell equi-join is what
    // the plan assertions protect), same total order, same credit CASE,
    // same DECIMAL-route sums, direct row via NOT EXISTS.
    "q214_position_attribution" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type, value,
         |  epoch_us(ts) AS us FROM events),
         |p AS (SELECT user_id, event_id AS pid, us AS pus,
         |  coalesce(value, 0.0) AS rev FROM e WHERE event_type = 'purchase'),
         |t AS (SELECT user_id, event_id AS tid, us AS tus,
         |  event_type AS channel FROM e WHERE event_type <> 'purchase'),
         |pr AS (SELECT pid, rev, tid, tus, channel FROM p JOIN t
         |  ON p.user_id = t.user_id AND tus < pus
         |  AND pus - tus <= 604800000000),
         |rk AS (SELECT pid, rev, channel,
         |  count(*) OVER (PARTITION BY pid) AS n,
         |  row_number() OVER (PARTITION BY pid
         |    ORDER BY tus ASC, tid ASC) AS rk FROM pr),
         |cr AS (SELECT channel, rev,
         |  CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
         |       WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
         |       WHEN rk = 1 OR rk = n THEN CAST(0.4 AS DOUBLE)
         |       ELSE CAST(0.2 AS DOUBLE) / CAST(n - 2 AS DOUBLE) END AS credit
         |  FROM rk),
         |att AS (SELECT channel, count(*) AS n_touchpoints,
         |  ${femitSql(s"""${dsumSql("credit")}""")} AS credit,
         |  ${femitSql(s"""${dsumSql("credit * rev")}""")} AS weighted_revenue
         |  FROM cr GROUP BY channel),
         |d AS (SELECT 'direct' AS channel, count(*) AS n_touchpoints,
         |  ${femitSql(s"""${dsumSql("CAST(1.0 AS DOUBLE)")}""")} AS credit,
         |  ${femitSql(s"""${dsumSql("rev")}""")} AS weighted_revenue
         |  FROM p WHERE NOT EXISTS (SELECT 1 FROM pr WHERE pr.pid = p.pid))
         |SELECT * FROM att UNION ALL SELECT * FROM d
         |ORDER BY channel""".stripMargin,
    // Same stacked key stream, same argmax-with-smallest-key tiebreak
    // (spelled as a row_number pick), same exact skew arithmetic.
    "q215_skew_audit" ->
      s"""WITH k AS (
        |  SELECT 'l_orderkey' AS col_name, l_orderkey AS key FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', l_partkey FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey', l_suppkey FROM lineitem),
        |f AS (SELECT col_name, key, count(*) AS f FROM k GROUP BY 1, 2),
        |a AS (SELECT col_name, f AS max_freq, key AS top_key,
        |  CAST(sum(f) OVER (PARTITION BY col_name) AS BIGINT) AS n_rows,
        |  count(*) OVER (PARTITION BY col_name) AS n_distinct,
        |  row_number() OVER (PARTITION BY col_name
        |    ORDER BY f DESC, key ASC) AS rn FROM f)
        |SELECT col_name, n_rows, n_distinct, max_freq, top_key,
        |  ${femitSql("""CAST(max_freq * n_distinct AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE)""")} AS skew
        |FROM a WHERE rn = 1 ORDER BY col_name""".stripMargin,
    // Same integer micro-unit daily series; the argmax-with-tiebreak is
    // a row_number pick under the explicit (dd DESC, day ASC) order —
    // the SQL spelling of the engine's max(struct(dd, -day)).
    "q212_drawdown" ->
      """WITH daily AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day,
        |  sum(CAST(round(value * 1000000) AS BIGINT)) AS rev
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (SELECT event_type, day, rev,
        |  max(rev) OVER (PARTITION BY event_type ORDER BY day ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM daily),
        |d AS (SELECT event_type, day, peak - rev AS dd, peak,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY peak - rev DESC, day ASC) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n_days,
        |  max(peak) OVER (PARTITION BY event_type) AS max_peak
        |  FROM w)
        |SELECT event_type, n_days,
        |  CAST(max_peak AS DOUBLE) / 1e6 AS peak_rev,
        |  CAST(dd AS DOUBLE) / 1e6 AS max_drawdown, day AS dd_day
        |FROM d WHERE rn = 1 ORDER BY event_type""".stripMargin,
    // Same running last-view window, same floored integer seconds, same
    // dyadic-fraction percentiles.
    "q213_time_to_convert" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |m AS (SELECT user_id, us,
        |  max(CASE WHEN event_type = 'view' THEN us END) OVER (
        |    PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS view_us,
        |  event_type FROM e),
        |p AS (SELECT user_id, us, view_us,
        |  CAST((us - view_us) // 1000000 AS BIGINT) AS lag_sec
        |  FROM m WHERE event_type = 'purchase')
        |SELECT c_mktsegment AS segment, count(*) AS n_purchases,
        |  CAST(sum(CASE WHEN view_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unmatched,
        |  quantile_cont(lag_sec, 0.5) AS p50_sec,
        |  quantile_cont(lag_sec, 0.75) AS p75_sec
        |FROM p JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same capped baskets, same exact counts, same fixed-order cosine,
    // same pinned total order for the top-K.
    "q207_item_cooccur" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |bounded AS (SELECT ok, pk FROM (SELECT ok, pk,
        |    count(*) OVER (PARTITION BY ok) AS bsize FROM items)
        |  WHERE bsize <= 64),
        |pc AS (SELECT pk, count(*) AS n FROM bounded GROUP BY 1),
        |pr AS (SELECT l.pk AS a, r.pk AS b, count(*) AS cooc
        |  FROM bounded l JOIN bounded r ON l.ok = r.ok AND l.pk < r.pk
        |  GROUP BY 1, 2),
        |f AS (SELECT a, b, cooc, na.n AS na, nb.n AS nb,
        |  ${femitSql("CAST(cooc AS DOUBLE) / sqrt(CAST(na.n * nb.n AS DOUBLE))")}
        |    AS cosine
        |  FROM pr JOIN pc na ON pr.a = na.pk JOIN pc nb ON pr.b = nb.pk
        |  WHERE cooc >= 3)
        |SELECT a, b, cooc, na, nb, cosine FROM f
        |ORDER BY cosine DESC, a ASC, b ASC LIMIT 50""".stripMargin,
    // Same epoch-week cohorts, same DECIMAL window cumsum route.
    "q208_cohort_ltv" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week,
         |  event_type, value FROM events),
         |f AS (SELECT user_id, min(week) AS cohort FROM e GROUP BY 1),
         |sz AS (SELECT cohort, count(*) AS n_users FROM f GROUP BY 1),
         |r AS (SELECT f.cohort, e.week - f.cohort AS age,
         |  ${dsumSql("value")} AS revenue
         |  FROM e JOIN f USING (user_id)
         |  WHERE event_type = 'purchase' AND value IS NOT NULL
         |  GROUP BY 1, 2),
         |c AS (SELECT cohort, age, revenue,
         |  CAST(CAST(sum(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(38,12)))
         |    OVER (PARTITION BY cohort ORDER BY age ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS VARCHAR) AS DOUBLE) AS cum FROM r)
         |SELECT c.cohort, age, n_users, ${femitSql("revenue")} AS revenue,
         |  ${femitSql("cum")} AS cum_revenue,
         |  ${femitSql("cum / CAST(n_users AS DOUBLE)")} AS ltv
         |FROM c JOIN sz ON c.cohort = sz.cohort
         |ORDER BY c.cohort, age""".stripMargin,
    // ONE plain per-flag prefix-sum window — certifies the engine's
    // two-phase cell decomposition; the median pick compares exact
    // integers on both sides.
    "q209_weighted_median" ->
      """WITH e AS (SELECT l_returnflag AS flag,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |  CAST(l_quantity AS BIGINT) AS wt FROM lineitem),
        |g AS (SELECT flag, cents, sum(wt) AS w FROM e GROUP BY 1, 2),
        |t AS (SELECT flag, sum(w) AS total FROM g GROUP BY 1),
        |c AS (SELECT flag, cents,
        |  sum(w) OVER (PARTITION BY flag ORDER BY cents ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM g)
        |SELECT c.flag, CAST(max(total) AS BIGINT) AS total_weight,
        |  CAST(min(cents) AS DOUBLE) / CAST(100.0 AS DOUBLE) AS wmedian
        |FROM c JOIN t ON c.flag = t.flag WHERE 2 * cum >= total
        |GROUP BY c.flag ORDER BY c.flag""".stripMargin,
    // Same edge build, the same peel rounds unrolled as MATERIALIZED
    // CTEs (each round references its predecessor three times — plain
    // CTEs would re-inline exponentially at depth 10) — every
    // data-dependent drop decision is exact integer algebra, so an
    // undershot round count fails the hash.
    "q210_kcore" -> kcoreOracle(k = 3, rounds = 10),
    "q406_luby_mis" -> misOracle(rounds = 8),
    "q407_ktruss" -> ktrussOracle(k = 4, rounds = 10),
    // Plain global ntile(10) window under the total order (score DESC,
    // pos ASC): rows tied on both keys are interchangeable, so the
    // per-decile aggregates certify the engine's two-phase distributed
    // decomposition regardless of how either engine breaks those ties.
    "q199_decile_lift" ->
      s"""WITH e AS (SELECT value AS score,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events WHERE value IS NOT NULL),
        |t AS (SELECT *, ntile(10) OVER (ORDER BY score DESC, pos ASC)
        |  AS decile FROM e),
        |g AS (SELECT decile, count(*) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos
        |  FROM t GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |  CAST(sum(n_pos) AS BIGINT) AS tot_pos FROM g),
        |c AS (SELECT decile, n, n_pos,
        |  CAST(sum(n_pos) OVER (ORDER BY decile ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
        |  FROM g)
        |SELECT decile, n, n_pos,
        |  ${femitSql("CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)")} AS pos_rate,
        |  ${femitSql("CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE)")}
        |    AS cum_capture,
        |  ${femitSql("CAST(n_pos * nn AS DOUBLE) / CAST(n * tot_pos AS DOUBLE)")}
        |    AS lift
        |FROM c CROSS JOIN tt ORDER BY decile""".stripMargin,
    // Same exact-integer route: half-integer median → int64 adev4/mad8,
    // the Hampel flag as the rational 20000·adev4 > 44478·mad8, and the
    // single fixed-order float only in the reported max |z|.
    "q200_mad_robust" ->
      s"""WITH e AS (SELECT event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT event_type, quantile_cont(cents, 0.5) AS med
        |  FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, cents, med,
        |  CAST(abs(CAST(cents AS DOUBLE) - med) * 4 AS BIGINT) AS adev4
        |  FROM e JOIN m USING (event_type)),
        |m2 AS (SELECT event_type,
        |  CAST(quantile_cont(adev4, 0.5) * 2 AS BIGINT) AS mad8
        |  FROM d GROUP BY 1)
        |SELECT d.event_type, count(*) AS n, max(med) AS med,
        |  CAST(max(mad8) AS DOUBLE) / 8.0 AS mad,
        |  CAST(sum(CASE WHEN 20000 * adev4 > 44478 * mad8 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  CASE WHEN max(mad8) > 0
        |    THEN ${femitSql("""(2.0 * CAST(max(adev4) AS DOUBLE))
        |      / (1.4826 * CAST(max(mad8) AS DOUBLE))""")}
        |    ELSE 0.0 END AS max_z
        |FROM d JOIN m2 USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    // Same daily reduction, same CAST(dy AS DOUBLE)/dx slopes on exact
    // integers, same manual ⌈m/2⌉/⌊m/2⌋+1 order statistic under the
    // pinned total order (slope, dy, dx).
    "q201_theil_sen" ->
      s"""WITH daily AS (SELECT event_type,
         |  epoch_us(ts) // 86400000000 AS day, count(*) AS x
         |  FROM events GROUP BY 1, 2),
         |p AS (SELECT l.event_type, r.x - l.x AS dy, r.day - l.day AS dx,
         |  CAST(r.x - l.x AS DOUBLE) / CAST(r.day - l.day AS DOUBLE) AS slope
         |  FROM daily l JOIN daily r ON l.event_type = r.event_type
         |    AND r.day > l.day),
         |c AS (SELECT event_type, count(*) AS m FROM p GROUP BY 1),
         |r AS (SELECT p.*, m, row_number() OVER (PARTITION BY p.event_type
         |    ORDER BY slope ASC, dy ASC, dx ASC) AS rn
         |  FROM p JOIN c ON p.event_type = c.event_type)
         |SELECT event_type, max(m) AS n_pairs,
         |  ${femitSql("(min(slope) + max(slope)) / 2.0")} AS ts_slope
         |FROM r WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same DECIMAL-route revenues and Σshare² so accumulation order
    // cannot split the engines.
    "q202_hhi" ->
      s"""WITH rev AS (SELECT l_suppkey,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS rev
         |  FROM lineitem GROUP BY 1),
         |j AS (SELECT n_name AS nation, rev FROM rev
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey),
         |t AS (SELECT nation, ${dsumSql("rev")} AS tot, count(*) AS n_suppliers
         |  FROM j GROUP BY 1)
         |SELECT j.nation, max(n_suppliers) AS n_suppliers,
         |  ${femitSql(s"""${dsumSql("(rev / tot) * (rev / tot)")}""")} AS hhi,
         |  ${femitSql("max(rev / tot)")} AS top_share
         |FROM j JOIN t ON j.nation = t.nation
         |GROUP BY j.nation ORDER BY j.nation""".stripMargin,
    // Same distinct (day,user) collapse, same shifted self-join, same
    // single divisions of exact integers.
    "q203_dau_overlap" ->
      s"""WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |  user_id FROM events),
        |daily AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
        |b AS (SELECT a.day, count(*) AS n_both FROM du a
        |  JOIN du n ON n.user_id = a.user_id AND n.day = a.day + 1
        |  GROUP BY a.day)
        |SELECT d.day, d.dau, nx.dau AS dau_next,
        |  coalesce(n_both, 0) AS n_both,
        |  ${femitSql(s"""CAST(coalesce(n_both, 0) AS DOUBLE)
        |    / CAST(d.dau + nx.dau - coalesce(n_both, 0) AS DOUBLE)""")}
        |    AS jaccard,
        |  ${femitSql("CAST(coalesce(n_both, 0) AS DOUBLE) / CAST(d.dau AS DOUBLE)")}
        |    AS retention
        |FROM daily d JOIN daily nx ON nx.day = d.day + 1
        |LEFT JOIN b ON b.day = d.day
        |ORDER BY d.day""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
         |  ${dsumSql("l_quantity")} / count(*) AS avg_qty,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 30 AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |LIMIT 5000""".stripMargin,
    "q3_join_agg" ->
      s"""SELECT r_name, n_name, ${dsumSql("o_totalprice")} AS revenue, count(*) AS n_orders
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q4_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q5_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "q6_rollup" ->
      s"""SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
         |  COALESCE(l_linestatus, '(all)') AS l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty, count(*) AS n
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q7_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q8_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q9_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(38,12))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q10_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q11_setops" ->
      """SELECT 'f_and_o' AS op, o_custkey AS custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |UNION ALL
        |SELECT 'f_not_p' AS op, o_custkey AS custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
        |UNION ALL
        |SELECT 'f_or_p' AS op, o_custkey AS custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  UNION SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
        |ORDER BY op, custkey""".stripMargin,
    "q12_scalar_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  upper(substring(o_orderpriority, 1, 4)) AS prio4,
        |  concat_ws('-', o_orderstatus, o_orderpriority) AS tag,
        |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
        |  abs(o_totalprice - 1000.0) AS absdiff,
        |  sqrt(o_totalprice) AS sqrt_price
        |FROM orders ORDER BY o_orderkey LIMIT 5000""".stripMargin,
    "q13_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q14_tumbling_window" ->
      s"""SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS hour_start,
         |  count(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM events GROUP BY hour_start ORDER BY hour_start""".stripMargin,
    "q15_sliding_window" ->
      s"""WITH e AS (SELECT CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 AS b, value FROM events),
         |u AS (SELECT unnest([b, b - 1800]) AS win_start, value FROM e)
         |SELECT win_start, count(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM u GROUP BY win_start ORDER BY win_start""".stripMargin,
    "q16_sessionize" -> sessionizeSql,
    "q55_session_window" -> sessionizeSql,
    "q17_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "q31_cube" ->
      s"""SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
         |  COALESCE(l_linestatus, '(all)') AS l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty, count(*) AS n
         |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q34_sql_grouping_sets" ->
      s"""SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
         |  COALESCE(l_linestatus, '(all)') AS l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty, count(*) AS n
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // Deterministic as-of twin: left join + row_number rather than
    // DuckDB's ASOF JOIN so the right-ts tiebreak (greatest event_id)
    // is explicit in both engines.
    "q42_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |    epoch_us(ts) AS us FROM events),
        |l AS (SELECT event_id, user_id, us, value FROM e WHERE event_type = 'click'),
        |r AS (SELECT event_id, user_id, us, value FROM e WHERE event_type = 'view'),
        |j AS (SELECT l.event_id, l.user_id, l.us, l.value,
        |    r.event_id AS view_id, r.us AS view_us, r.value AS view_value,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.us DESC, r.event_id DESC) AS rn
        |  FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.us <= l.us)
        |SELECT event_id, user_id, us, view_id, view_us, view_value,
        |  us - view_us AS gap_us
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q43_band_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
        |SELECT a.user_id, a.event_id AS a_event_id, b.event_id AS b_event_id,
        |  b.us - a.us AS gap_us
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.us - a.us BETWEEN 0 AND 600000000
        |  AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
        |ORDER BY a_event_id, b_event_id""".stripMargin,
    "q136_interval_join" ->
      """WITH iv AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |  min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT a.day, a.user_id AS a_user_id, b.user_id AS b_user_id,
        |  least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
        |FROM iv a JOIN iv b ON a.day = b.day AND a.user_id < b.user_id
        |  AND a.s <= b.e AND b.s <= a.e
        |ORDER BY a.day, a_user_id, b_user_id""".stripMargin,
    // The pivot's relational definition: conditional aggregates.
    "q48_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q49_window_suite" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(dense_rank() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS BIGINT) AS quartile,
        |  lag(o_orderkey, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_order,
        |  lead(o_orderkey, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_order,
        |  first_value(o_orderkey) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order,
        |  max(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_so_far
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q51_quantiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS q50,
        |  quantile_cont(l_quantity, 0.75) AS q75,
        |  true AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // The salted join's oracle is the PLAIN join: salting must be
    // invisible in the results.
    "q52_salted_join" ->
      s"""SELECT c_nationkey, ${dsumSql("o_totalprice")} AS revenue,
         |  count(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q66_full_outer" ->
      """WITH f AS (SELECT o_custkey AS k, count(*) AS n_f FROM orders
        |  WHERE o_orderstatus = 'F' GROUP BY k),
        |p AS (SELECT o_custkey AS k, count(*) AS n_p FROM orders
        |  WHERE o_orderstatus = 'P' GROUP BY k)
        |SELECT coalesce(f.k, p.k) AS custkey,
        |  coalesce(n_f, 0) AS n_f, coalesce(n_p, 0) AS n_p
        |FROM f FULL JOIN p ON f.k = p.k ORDER BY custkey""".stripMargin,
    // Both generations recomputed from the original table: gen-1 rows
    // (even ids) have no n_chars, gen-2 rows (odd ids) do.
    "q67_schema_evolution" ->
      """SELECT lang, count(*) AS n_docs,
        |  count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_with_chars,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN length(text) ELSE 0 END) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // The outer row contributes to n_rows (count(*)) but not n_hits
    // (count over the null hit).
    "q72_outer_explode" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, 'table')) AS BIGINT) AS n_hits,
        |  CAST(greatest(len(regexp_extract_all(text, 'table')), 1) AS BIGINT) AS n_rows
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q73_union_by_name" ->
      """SELECT lang, count(*) AS n_docs,
        |  count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_with_chars,
        |  min(doc_id) AS min_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q71_argmax" ->
      """WITH d AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) AS BIGINT) * 4294967296 + doc_id AS ord
        |  FROM documents)
        |SELECT lang,
        |  arg_max(doc_id, ord) AS longest_doc,
        |  arg_min(doc_id, ord) AS shortest_doc,
        |  max(n_chars) AS max_chars, min(n_chars) AS min_chars
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    // Compaction must be invisible: the oracle reads the original table.
    "q63_compaction" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  count(DISTINCT doc_id) AS n_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // Pruning must be invisible: the oracle filters the original table.
    "q59_partition_pruning" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE lang = 'de'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // The bucketed join's oracle is likewise the PLAIN join: the
    // physical layout must not change a single row.
    "q53_bucketed_join" ->
      s"""SELECT o_custkey AS custkey, c_nationkey,
         |  ${dsumSql("o_totalprice")} AS revenue, count(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY custkey, c_nationkey ORDER BY custkey""".stripMargin,
    // NULL-on-error semantics stated as portable SQL: div-by-zero and
    // the Long.MaxValue+1 overflow (hit on the deterministic 1% branch)
    // become CASE NULL; bad casts are DuckDB's own TRY_CAST.
    "q77_try_arithmetic" ->
      s"""SELECT o_orderstatus AS status, count(*) AS n,
         |  count(CASE WHEN o_orderkey % 3 <> 0 THEN 1 END) AS n_div_ok,
         |  ${dsumSql("CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice / (o_orderkey % 3) END")} AS sum_div,
         |  count(CASE WHEN o_orderkey % 100 <> 0 THEN 1 END) AS n_add_ok,
         |  count(TRY_CAST(CASE WHEN o_orderkey % 200 = 0 THEN CAST(o_orderkey AS VARCHAR) WHEN o_orderkey % 100 = 0 THEN o_orderpriority ELSE NULL END AS BIGINT)) AS n_cast_ok,
         |  CAST(coalesce(sum(TRY_CAST(CASE WHEN o_orderkey % 200 = 0 THEN CAST(o_orderkey AS VARCHAR) WHEN o_orderkey % 100 = 0 THEN o_orderpriority ELSE NULL END AS BIGINT)), 0) AS BIGINT) AS sum_cast_ok,
         |  CAST(sum(TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT)) AS BIGINT) AS sum_prio
         |FROM orders GROUP BY status ORDER BY status""".stripMargin,
    // Keywise sums stated directly: chars + 2*chars, toks + (toks+1).
    "q96_map_zip" ->
      """WITH b AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents),
        |u AS (SELECT doc_id, 'chars_sum' AS k, n_chars + n_chars * 2 AS v FROM b
        |  UNION ALL SELECT doc_id, 'toks_sum', n_toks + n_toks + 1 FROM b)
        |SELECT doc_id, k, v FROM u ORDER BY doc_id, k""".stripMargin,
    "q92_quality_report" ->
      """SELECT
        |  (SELECT count(*) FROM orders) AS n_rows,
        |  (SELECT CAST(count(CASE WHEN o_orderkey <= 0 THEN 1 END) AS BIGINT) FROM orders) AS n_nonpos_keys,
        |  (SELECT CAST(count(CASE WHEN o_totalprice <= 0.0 THEN 1 END) AS BIGINT) FROM orders) AS n_nonpos_price,
        |  (SELECT CAST(count(CASE WHEN year(o_orderdate) BETWEEN 1992 AND 1998 THEN NULL ELSE 1 END) AS BIGINT) FROM orders) AS n_bad_dates,
        |  (SELECT count(*) FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)) AS n_dup_keys,
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_orphan_orders,
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_childless_custs""".stripMargin,
    // The PLAIN join — the bloom is semantics-free (no false
    // negatives; false positives die in the exact join).
    "q110_bloom_prune_join" ->
      s"""SELECT l_linestatus AS linestatus, count(*) AS n_items,
         |  ${dsumSql("l_extendedprice")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // The same injected drift (20% 'O' burst + the novel 'X' batch),
    // the same snapshot cut, raw IEEE count ratios; the approx-median
    // band check is engine-side, so the oracle pins its boolean.
    "q107_quality_drift" ->
      """WITH cur AS (
        |  SELECT o_orderstatus AS status FROM orders
        |  UNION ALL SELECT 'O' FROM orders
        |    WHERE o_orderstatus = 'O' AND o_orderkey % 5 = 0
        |  UNION ALL SELECT 'X' FROM orders WHERE o_orderkey % 1000 = 0),
        |p AS (SELECT o_orderstatus AS status, count(*) AS np FROM orders
        |  WHERE o_orderdate < DATE '1998-01-01' GROUP BY 1),
        |c AS (SELECT status, count(*) AS nc FROM cur GROUP BY 1)
        |SELECT c.status, coalesce(p.np, 0) AS n_prior, c.nc AS n_curr,
        |  p.np IS NULL AS is_new_group,
        |  CASE WHEN coalesce(p.np, 0) > 0 THEN CAST(c.nc AS DOUBLE) / p.np
        |       ELSE -1.0 END AS growth_ratio,
        |  (p.np IS NULL OR NOT (CAST(c.nc AS DOUBLE) / p.np BETWEEN 1.9 AND 2.5))
        |    AS drift_flag,
        |  true AS approx_median_ok
        |FROM c FULL JOIN p USING (status) ORDER BY status""".stripMargin,
    // The sorted-layout round trip must be lossless: plain filter over
    // the original table.
    "q119_range_layout" ->
      s"""SELECT event_type, count(*) AS n, ${dsumSql("\"value\"")} AS sum_value,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The full recompute the maintained state must equal exactly —
    // decimal accumulation is associative, so base ⊎ delta has no
    // tolerance to hide behind.
    "q131_incremental_agg" ->
      s"""SELECT user_id, count(*) AS n,
         |  ${femitSql(s"""${dsumSql("value")}""")} AS sum_value,
         |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // The rank-filter window twin of the bounded-heap aggregate — the
    // same (price DESC, key ASC) total order.
    "q130_topk_per_key" ->
      """SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk, o_orderkey, o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders) x
        |WHERE rnk <= 5 ORDER BY o_orderpriority, rnk""".stripMargin,
    // The identical stage chain; lag average via the same exact integer
    // µs sum and the same division order.
    "q127_funnel" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |t1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(e.us) AS t2, min(t1.t1) AS t1
        |  FROM e JOIN t1 ON e.user_id = t1.user_id AND e.us > t1.t1
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(e.us) AS t3
        |  FROM e JOIN t2 ON e.user_id = t2.user_id AND e.us > t2.t2
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT count(DISTINCT user_id) FROM e) AS n_users,
        |  (SELECT count(*) FROM t1) AS n_viewed,
        |  (SELECT count(*) FROM t2) AS n_clicked,
        |  (SELECT count(*) FROM t3) AS n_purchased,
        |  (SELECT ${femitSql("CAST(sum(t2 - t1) AS DOUBLE) / count(*) / 1000000.0")}
        |   FROM t2) AS avg_view_click_sec""".stripMargin,
    // The same integer week arithmetic (µs DIV day DIV 7).
    "q128_cohort_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 // 7 AS week FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id)
        |SELECT f.cohort_week, e.week - f.cohort_week AS week_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // The same dense grid (range(d0, d1+1)) and the same rows-frame
    // IGNORE NULLS forward fill of the pre-rounded daily sum.
    "q129_gap_fill" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day, value FROM events),
         |daily AS (SELECT user_id, day, count(*) AS n,
         |  ${femitSql(s"""${dsumSql("value")}""")} AS day_sum FROM e GROUP BY 1, 2),
         |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM e GROUP BY 1),
         |grid AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM span)
         |SELECT g.user_id, g.day, coalesce(d.n, 0) AS n,
         |  last_value(d.day_sum IGNORE NULLS) OVER (PARTITION BY g.user_id
         |    ORDER BY g.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS filled_sum
         |FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
         |ORDER BY 1, 2""".stripMargin,
    // Each trailing window's distinct recomputed from raw — the
    // expensive path the bitmap rollup replaces.
    "q162_rolling_distinct" ->
      """WITH e AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
        |s AS (SELECT DISTINCT day FROM e)
        |SELECT s.day, count(DISTINCT e.user_id) AS users_7d
        |FROM s JOIN e ON e.day BETWEEN s.day - 6 AND s.day
        |GROUP BY s.day ORDER BY s.day""".stripMargin,
    // Exact distincts recomputed directly; bucket count = distinct
    // 32k-wide id segments (bitmap_bucket_number is 1-based:
    // floor((id-1)/32768) + 1 — floor, not truncation: id 0 lands in
    // bucket 0, and DuckDB's // truncates toward zero on negatives).
    "q161_bitmap_distinct" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_distinct_bitmap,
        |  count(DISTINCT CAST(floor((user_id - 1) / 32768.0) AS BIGINT) + 1) AS n_buckets,
        |  count(DISTINCT user_id) AS n_distinct_exact,
        |  true AS agree
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The dsum route per group — the typed Aggregator must land on
    // the identical bits.
    "q160_typed_agg" ->
      s"""SELECT user_id, count(*) AS n, ${femitSql(s"""${dsumSql("value")}""")} AS sum_value,
         |  min(value) AS min_value, max(value) AS max_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // The same per-column IGNORE NULLS last over the same total order;
    // the newest row carries the record (value rounds like everywhere).
    "q159_golden_record" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value,
        |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM events),
        |w AS (SELECT user_id, event_id, us, event_type, value,
        |  last_value(k IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_k,
        |  last_value(event_type IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type,
        |  count(*) OVER (PARTITION BY user_id) AS n_events,
        |  row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, n_events, us AS last_us, last_type,
        |  ${femitSql("value")} AS last_value, last_k
        |FROM w WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // q16's gap machinery + the session-start window + the same
    // integer cap-cell split.
    "q158_capped_sessions" ->
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_us
        |  FROM events),
        |y AS (
        |  SELECT user_id, event_id, us,
        |    CAST(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS BIGINT) AS new_sess
        |  FROM x),
        |z AS (
        |  SELECT user_id, us,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM y),
        |w AS (
        |  SELECT user_id, us, sess_id,
        |    (us - min(us) OVER (PARTITION BY user_id, sess_id)) // 900000000 AS sub_id
        |  FROM z)
        |SELECT user_id, sess_id, sub_id, count(*) AS n_events,
        |  min(us) AS sub_start_us, max(us) AS sub_end_us,
        |  max(us) - min(us) <= 900000000 AS capped
        |FROM w GROUP BY user_id, sess_id, sub_id
        |ORDER BY user_id, sess_id, sub_id""".stripMargin,
    // Identical (ts, event_id) version ordering; lead() is pure.
    "q146_scd2" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS valid_from, value FROM events)
        |SELECT user_id, event_id, value, valid_from,
        |  lead(valid_from, 1) OVER w AS valid_to,
        |  lead(valid_from, 1) OVER w IS NULL AS is_current
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    // The interval predicate over the same versions at the same instant.
    "q147_time_travel" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS valid_from, value FROM events),
         |v AS (SELECT user_id, event_id, value, valid_from,
         |  lead(valid_from, 1) OVER (PARTITION BY user_id
         |    ORDER BY valid_from, event_id) AS valid_to FROM e)
         |SELECT user_id, event_id, value, valid_from FROM v
         |WHERE valid_from <= $Scd2AsOfUs
         |  AND (valid_to IS NULL OR valid_to > $Scd2AsOfUs)
         |ORDER BY user_id""".stripMargin,
    // The same five DECIMAL-route moments and the same closed form.
    "q148_correlation" ->
      s"""WITH e AS (SELECT event_type, value AS x,
         |  CAST((epoch_us(ts) // 3600000000) % 24 AS DOUBLE) AS y FROM events),
         |m AS (SELECT event_type, count(*) AS n, ${dsumSql("x")} AS sx,
         |  ${dsumSql("y")} AS sy, ${dsumSql("x * y")} AS sxy,
         |  ${dsumSql("x * x")} AS sxx, ${dsumSql("y * y")} AS syy
         |  FROM e GROUP BY event_type)
         |SELECT event_type, n,
         |  ${femitSql("(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))")} AS corr_xy
         |FROM m ORDER BY event_type""".stripMargin,
    // Same day-rescaled x (µs² would overflow the DECIMAL), same
    // normal-equation closed form in one fixed order.
    "q149_ols_regression" ->
      s"""WITH e AS (SELECT event_type,
         |  CAST(epoch_us(ts) - 1704067200000000 AS DOUBLE) / 86400000000.0 AS x,
         |  value AS y FROM events),
         |m AS (SELECT event_type, count(*) AS n, ${dsumSql("x")} AS sx,
         |  ${dsumSql("y")} AS sy, ${dsumSql("x * y")} AS sxy, ${dsumSql("x * x")} AS sxx
         |  FROM e GROUP BY event_type)
         |SELECT event_type, n,
         |  ${femitSql("(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS slope,
         |  ${femitSql("(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n")} AS intercept
         |FROM m ORDER BY event_type""".stripMargin,
    // Same moments, same Welch z, same 1.96 critical literal.
    "q150_ab_test" ->
      s"""WITH e AS (SELECT event_type, value FROM events
         |  WHERE event_type IN ('purchase', 'click')),
         |m AS (SELECT event_type, count(*) AS n,
         |  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sx,
         |  CAST(CAST(SUM(CAST(CAST(value * value AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxx
         |  FROM e GROUP BY event_type),
         |s AS (SELECT event_type, n, sx / n AS mean,
         |  (sxx - sx * sx / n) / (n - 1) AS variance FROM m),
         |a AS (SELECT n AS n_a, mean AS mean_a, variance AS var_a FROM s WHERE event_type = 'purchase'),
         |b AS (SELECT n AS n_b, mean AS mean_b, variance AS var_b FROM s WHERE event_type = 'click')
         |SELECT n_a, n_b, ${femitSql("mean_a")} AS mean_a, ${femitSql("mean_b")} AS mean_b,
         |  ${femitSql("(mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b)")} AS z,
         |  abs((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b))
         |    > 1.959963984540054 AS significant
         |FROM a CROSS JOIN b""".stripMargin,
    // Identical daily agg, identical lag chain: coefficients are
    // interpolated from the same ewmaCoef constants (all dyadic ⇒
    // decimal literals parse exactly), the term sum is the same
    // left-associated chain, the normalizer the same 1−2⁻ᵐ.
    "q134_ewma" -> {
      val terms = (0 until EwmaHorizon).map { j =>
        val x = if (j == 0) "day_sum" else s"coalesce(l$j, 0.0)"
        s"$x * ${ewmaCoef(j)}"
      }.mkString(" + ")
      val lags = (1 until EwmaHorizon)
        .map(j => s"lag(day_sum, $j) OVER w AS l$j").mkString(", ")
      s"""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day, value FROM events),
         |daily AS (SELECT user_id, day, ${femitSql(s"""${dsumSql("value")}""")} AS day_sum
         |  FROM e GROUP BY 1, 2),
         |l AS (SELECT user_id, day, day_sum, row_number() OVER w AS rn, $lags
         |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day))
         |SELECT user_id, day, day_sum,
         |  ($terms) / (1.0 - power(0.5, CAST(least(rn, $EwmaHorizon) AS DOUBLE))) AS ewma
         |FROM l ORDER BY 1, 2""".stripMargin
    },
    // The plain 2-D box filter over the original table — the Z-ordered
    // copy must reproduce it exactly.
    "q126_zorder_layout" ->
      s"""SELECT l_returnflag, count(*) AS n,
         |  ${dsumSql("l_extendedprice")} AS sum_price,
         |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
         |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
         |FROM lineitem
         |WHERE l_orderkey BETWEEN 3000 AND 3999
         |  AND l_partkey BETWEEN 500 AND 699
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Identical fixed grid (floor(value/25) clamped to [0,19]) and the
    // exact DECIMAL route for the bucket mass.
    "q115_value_histogram" ->
      s"""SELECT event_type,
         |  CAST(least(greatest(floor("value" / 25.0), 0), 19) AS BIGINT) AS bucket,
         |  count(*) AS n, ${dsumSql("\"value\"")} AS sum_value
         |FROM events GROUP BY event_type, bucket
         |ORDER BY event_type, bucket""".stripMargin,
    // Same '[0-9]+' / '[0-9]' patterns (java.util.regex ≡ RE2 here);
    // the 'g' flag matches Spark's always-global regexp_replace.
    "q116_props_scrub" ->
      """WITH m AS (SELECT event_type,
        |  regexp_replace(props, '[0-9]+', '#', 'g') AS masked,
        |  length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS n_digits
        |FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN n_digits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted,
        |  CAST(sum(n_digits) AS BIGINT) AS sum_digits_masked,
        |  count(DISTINCT masked) AS n_templates
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin,
    // DuckDB numeric RANGE frame over the identical epoch-second order
    // key; peers included on both engines; the frame sum rides the same
    // DECIMAL VARCHAR round-trip as every dsum.
    "q91_range_frame" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS od, o_totalprice FROM orders)
        |SELECT o_orderkey, o_custkey, od,
        |  count(*) OVER w AS n_5d,
        |  CAST(CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(38,12))) OVER w AS VARCHAR) AS DOUBLE) AS rev_5d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY od
        |  RANGE BETWEEN 432000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q89_correlated_subquery" ->
      """SELECT c_custkey, c_nationkey,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000.0) AS n_big
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin,
    // The unpivot must reproduce the LONG form computed directly from
    // the raw events — pivot∘unpivot as an identity, up to the zero
    // cells the pivot materialized and the unpivot filter drops.
    "q83_unpivot" ->
      """SELECT user_id, event_type, count(*) AS n
        |FROM events
        |WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
        |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin,
    "q84_array_funcs" ->
      """WITH b AS (SELECT o_orderkey,
        |  range(1, o_orderkey % 5 + 2) AS sq,
        |  [o_totalprice, o_totalprice * 2, 0.0] AS pr FROM orders)
        |SELECT o_orderkey,
        |  CAST(len(sq) AS BIGINT) AS sq_len,
        |  len(list_filter(pr, x -> x > 1000.0)) > 0 AS any_big,
        |  len(list_filter(pr, x -> NOT (x >= 0.0))) = 0 AS all_nonneg,
        |  CAST(len(list_filter(sq, x -> x % 2 = 0)) AS BIGINT) AS n_even,
        |  CAST(list_sum(sq) AS BIGINT) AS sq_sum,
        |  CAST(len(flatten([sq, sq])) AS BIGINT) AS flat_len,
        |  CAST(3 AS BIGINT) AS rep_len
        |FROM b ORDER BY o_orderkey LIMIT 5000""".stripMargin,
    // DuckDB dayofweek is 0=Sunday..6 vs Spark's 1..7 — shifted in the
    // oracle; add_months / + INTERVAL MONTH clamp end-of-month
    // identically.
    "q85_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_end,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow
        |FROM orders ORDER BY o_orderkey LIMIT 5000""".stripMargin,
    // Exact distincts recomputed; the sketch estimates are asserted as
    // in-bound booleans on the Spark side, so DuckDB states `true`.
    "q81_hll_merge" ->
      """WITH tok AS (SELECT lang, t AS tok FROM
        |  (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents) u
        |  WHERE t <> '')
        |SELECT lang, count(DISTINCT tok) AS exact_toks, true AS approx_ok
        |FROM tok GROUP BY lang
        |UNION ALL
        |SELECT '__all__' AS lang, count(DISTINCT tok) AS exact_toks, true AS approx_ok
        |FROM tok
        |ORDER BY lang""".stripMargin,
    // One anti-join count per FK edge, identical names and counts.
    "q156_ref_integrity" ->
      """WITH e(fk_edge, child_rows, parent_rows, orphans) AS (
        |  SELECT 'lineitem->orders', (SELECT count(*) FROM lineitem), (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |  UNION ALL SELECT 'lineitem->part', (SELECT count(*) FROM lineitem), (SELECT count(*) FROM part),
        |    (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        |  UNION ALL SELECT 'lineitem->supplier', (SELECT count(*) FROM lineitem), (SELECT count(*) FROM supplier),
        |    (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
        |  UNION ALL SELECT 'orders->customer', (SELECT count(*) FROM orders), (SELECT count(*) FROM customer),
        |    (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |  UNION ALL SELECT 'customer->nation', (SELECT count(*) FROM customer), (SELECT count(*) FROM nation),
        |    (SELECT count(*) FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
        |  UNION ALL SELECT 'supplier->nation', (SELECT count(*) FROM supplier), (SELECT count(*) FROM nation),
        |    (SELECT count(*) FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
        |  UNION ALL SELECT 'nation->region', (SELECT count(*) FROM nation), (SELECT count(*) FROM region),
        |    (SELECT count(*) FROM nation WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region)))
        |SELECT fk_edge, child_rows, parent_rows, orphans FROM e ORDER BY fk_edge""".stripMargin,
    // The same integer grid walk; ok_* re-derived against DuckDB's own
    // exact quantile with the one-bucket tolerance.
    "q157_hist_quantiles" ->
      """WITH h AS (SELECT event_type,
        |  CAST(least(greatest(floor(value / 25.0), 0.0), 19.0) AS BIGINT) AS bucket, value
        |  FROM events),
        |hist AS (SELECT event_type, bucket, count(*) AS c FROM h GROUP BY 1, 2),
        |cum AS (SELECT event_type, bucket, c,
        |  sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
        |  sum(c) OVER (PARTITION BY event_type) AS n FROM hist),
        |est AS (SELECT event_type,
        |  CAST(min(CASE WHEN cum >= n * 0.5 THEN (bucket + 1) * 25 END) AS DOUBLE) AS est_p50,
        |  CAST(min(CASE WHEN cum >= n * 0.9 THEN (bucket + 1) * 25 END) AS DOUBLE) AS est_p90
        |  FROM cum GROUP BY event_type),
        |ex AS (SELECT event_type, quantile_cont(value, 0.5) AS ex50,
        |  quantile_cont(value, 0.9) AS ex90 FROM events GROUP BY event_type)
        |SELECT est.event_type, est_p50, est_p90,
        |  abs(est_p50 - ex50) <= 25.0 AS ok_p50,
        |  abs(est_p90 - ex90) <= 25.0 AS ok_p90
        |FROM est JOIN ex USING (event_type) ORDER BY est.event_type""".stripMargin,
    // Same generation derivation, same FNV payload digest.
    "q152_table_diff" -> {
      val dig = graft.llm.Queries.fnvSql("(text || '|' || lang)")
      s"""WITH g0 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0),
         |g1 AS (SELECT doc_id,
         |  CASE WHEN doc_id % 10 = 2 THEN text || ' v2' ELSE text END AS text, lang
         |  FROM g0 WHERE doc_id % 10 <> 0
         |  UNION ALL SELECT doc_id, text, lang FROM documents
         |    WHERE doc_id % 2 = 1 AND doc_id % 10 = 1),
         |d0 AS (SELECT doc_id, $dig AS h0 FROM g0),
         |d1 AS (SELECT doc_id, $dig AS h1 FROM g1),
         |j AS (SELECT coalesce(d0.doc_id, d1.doc_id) AS doc_id,
         |  CASE WHEN h0 IS NULL THEN 'added' WHEN h1 IS NULL THEN 'removed'
         |       WHEN h0 <> h1 THEN 'changed' ELSE 'unchanged' END AS status
         |  FROM d0 FULL JOIN d1 ON d0.doc_id = d1.doc_id)
         |SELECT status, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM j GROUP BY status ORDER BY status""".stripMargin
    },
    // Same argmax (count DESC, type ASC) and the same scored stream.
    "q163_markov_eval" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
        |p AS (SELECT event_type AS from_type,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
        |  FROM e),
        |pp AS (SELECT from_type, next_type FROM p WHERE next_type IS NOT NULL),
        |c AS (SELECT from_type, next_type, count(*) AS n FROM pp GROUP BY 1, 2),
        |m AS (SELECT from_type, next_type AS predicted FROM
        |  (SELECT *, row_number() OVER (PARTITION BY from_type
        |     ORDER BY n DESC, next_type ASC) AS r FROM c) WHERE r = 1)
        |SELECT pp.from_type, max(m.predicted) AS predicted, count(*) AS n,
        |  CAST(sum(CASE WHEN pp.next_type = m.predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(sum(CASE WHEN pp.next_type = m.predicted THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS accuracy
        |FROM pp JOIN m USING (from_type)
        |GROUP BY pp.from_type ORDER BY pp.from_type""".stripMargin,
    // The same (ts, event_id)-ordered lag pairs and exact-count division.
    "q153_markov" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
        |p AS (SELECT event_type AS from_type,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_type
        |  FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, CAST(c.n AS DOUBLE) / t.row_n AS p
        |FROM c JOIN t USING (from_type) ORDER BY c.from_type, c.to_type""".stripMargin,
    // Exact counts; H = ln(n) - sum(c ln c)/n with the DECIMAL-route
    // sum and the same fixed order.
    "q154_entropy" ->
      s"""WITH c AS (SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
         |a AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_types,
         |  ${dsumSql("CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))")} AS sclc
         |  FROM c GROUP BY user_id)
         |SELECT user_id, n, n_types,
         |  ${femitSql("ln(CAST(n AS DOUBLE)) - sclc / CAST(n AS DOUBLE)")} AS entropy
         |FROM a ORDER BY user_id""".stripMargin,
    // Same ascending (x, user) rank and the same two DECIMAL sums.
    "q155_gini" ->
      s"""WITH per AS (SELECT event_type, user_id, ${dsumSql("value")} AS x
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type, user_id, x,
         |  row_number() OVER (PARTITION BY event_type ORDER BY x, user_id) AS i FROM per),
         |a AS (SELECT event_type, count(*) AS n_users, ${dsumSql("x")} AS sx,
         |  ${dsumSql("CAST(2 * i AS DOUBLE) * x")} AS s2ix FROM r GROUP BY event_type)
         |SELECT event_type, n_users,
         |  ${femitSql(s"""(s2ix - CAST(n_users + 1 AS DOUBLE) * sx)
         |    / (CAST(n_users AS DOUBLE) * sx)""")} AS gini
         |FROM a ORDER BY event_type""".stripMargin,
    // Exact weekly distinct + the true bound booleans (q81's pattern):
    // the rollup's estimate must land within 5% of this.
    "q151_sketch_rollup" ->
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(user_id AS VARCHAR) AS uid FROM events),
        |w AS (SELECT day // 7 AS week, day, uid FROM e)
        |SELECT week, count(DISTINCT day) AS n_days,
        |  count(DISTINCT uid) AS exact_users, true AS approx_ok
        |FROM w GROUP BY week ORDER BY week""".stripMargin,
    "q82_merge_upsert" ->
      """WITH base AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0),
        |changes AS (
        |  SELECT doc_id, text || ' v2' AS text, lang, 'U' AS op FROM base WHERE doc_id % 10 = 2
        |  UNION ALL SELECT doc_id, text, lang, 'D' AS op FROM base WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, text, lang, 'I' AS op FROM documents
        |    WHERE doc_id % 2 = 1 AND doc_id % 10 = 1),
        |merged AS (
        |  SELECT doc_id, text, lang FROM base
        |  WHERE doc_id NOT IN (SELECT doc_id FROM changes)
        |  UNION ALL SELECT doc_id, text, lang FROM changes WHERE op <> 'D')
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, lang
        |FROM merged ORDER BY doc_id""".stripMargin,
    "q78_map_funcs" ->
      """WITH b AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |  CAST(length(lang) AS BIGINT) AS lang_len FROM documents),
        |u AS (SELECT doc_id, 'n_chars' AS k, n_chars AS v FROM b
        |  UNION ALL SELECT doc_id, 'n_toks', n_toks FROM b
        |  UNION ALL SELECT doc_id, 'lang_len', lang_len FROM b)
        |SELECT doc_id, k, v * 2 AS v FROM u WHERE v > 5 ORDER BY doc_id, k""".stripMargin,
    // Single GLOBAL-window formulation of the same Mann-Whitney rank
    // statistic — the distributed two-phase prefix sum must match it.
    "q166_auc" ->
      s"""WITH g AS (SELECT value AS score, count(*) AS cnt,
         |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS poscnt
         |  FROM events WHERE value IS NOT NULL GROUP BY value),
         |r AS (SELECT score, cnt, poscnt,
         |  coalesce(sum(cnt) OVER (ORDER BY score ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM g),
         |a AS (SELECT CAST(sum(poscnt) AS BIGINT) AS n_pos,
         |  CAST(sum(cnt - poscnt) AS BIGINT) AS n_neg,
         |  ${dsumSql("CAST(poscnt AS DOUBLE) * (CAST(cum_before AS DOUBLE) + CAST(cnt + 1 AS DOUBLE) / 2.0)")} AS rpos
         |  FROM r)
         |SELECT n_pos, n_neg,
         |  ${femitSql("(rpos - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE) / 2.0)" +
                       " / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))")} AS auc
         |FROM a""".stripMargin,
    // Same support/confidence/lift definitions on the same bounded
    // baskets; divisions in the same fixed order.
    "q167_assoc_rules" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |bounded AS (SELECT ok, pk FROM (
        |  SELECT ok, pk, count(*) OVER (PARTITION BY ok) AS bsize FROM items)
        |  WHERE bsize <= 64),
        |nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM bounded),
        |ic AS (SELECT pk, count(*) AS item_cnt FROM bounded GROUP BY pk),
        |pc AS (SELECT l.pk AS a, r.pk AS b, count(*) AS pair_cnt
        |  FROM bounded l JOIN bounded r ON l.ok = r.ok AND l.pk <> r.pk
        |  GROUP BY l.pk, r.pk HAVING count(*) >= 3)
        |SELECT a, b, pair_cnt,
        |  ${femitSql("CAST(pair_cnt AS DOUBLE) / CAST(ca.item_cnt AS DOUBLE)")} AS confidence,
        |  ${femitSql(s"""CAST(pair_cnt AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
        |    / (CAST(ca.item_cnt AS DOUBLE) * CAST(cb.item_cnt AS DOUBLE))""")} AS lift
        |FROM pc JOIN ic ca ON pc.a = ca.pk JOIN ic cb ON pc.b = cb.pk CROSS JOIN nb
        |ORDER BY lift DESC, confidence DESC, a ASC, b ASC LIMIT 50""".stripMargin,
    // The orthogonal skyline formulation: dominance as a NOT EXISTS
    // anti-join (≤ price, ≥ size, strictly better somewhere). The
    // cell-partitioned window algorithm must produce this exact set.
    // Same total order, same running-max-end island rule, exact µs.
    "q169_interval_coalesce" ->
      """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS start_us,
        |  epoch_us(ts) + 1800000000 AS end_us FROM events
        |  WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, start_us, end_us,
        |  CASE WHEN max(end_us) OVER (PARTITION BY user_id
        |    ORDER BY start_us ASC, end_us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |    OR start_us > max(end_us) OVER (PARTITION BY user_id
        |    ORDER BY start_us ASC, end_us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |  THEN 1 ELSE 0 END AS new_island,
        |  event_id FROM iv),
        |g AS (SELECT user_id, start_us, end_us,
        |  CAST(sum(new_island) OVER (PARTITION BY user_id
        |    ORDER BY start_us ASC, end_us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island FROM f)
        |SELECT user_id, island, min(start_us) AS island_start_us,
        |  max(end_us) AS island_end_us, count(*) AS n_events
        |FROM g GROUP BY user_id, island ORDER BY user_id, island""".stripMargin,
    // Same integer micro-units, same closed-form S_t = C_t − min(0, min C).
    "q170_cusum" ->
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  sum(CAST(round(value * 1000000) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, count(*) AS n_days,
        |  sum(x) // count(*) AS k FROM daily GROUP BY 1),
        |hh AS (SELECT d.event_type, (sum(abs(d.x - p.k)) // count(*)) * 4 AS h
        |  FROM daily d JOIN p USING (event_type) GROUP BY d.event_type),
        |c AS (SELECT d.event_type, d.day, p.n_days, p.k, hh.h,
        |  sum(d.x - p.k) OVER (PARTITION BY d.event_type ORDER BY d.day ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM daily d JOIN p USING (event_type) JOIN hh USING (event_type)),
        |s AS (SELECT event_type, day, n_days, k, h,
        |  cum - least(0, min(cum) OVER (PARTITION BY event_type ORDER BY day ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_t FROM c)
        |SELECT event_type, max(n_days) AS n_days, CAST(max(k) AS BIGINT) AS k,
        |  CAST(max(h) AS BIGINT) AS h,
        |  CAST(max(s_t) AS BIGINT) AS max_s,
        |  CAST(sum(CASE WHEN s_t > h THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
        |  coalesce(min(CASE WHEN s_t > h THEN day END), -1) AS first_alarm_day
        |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same gap sessions, same per-session-type minima, same strict
    // ordering rule.
    "q179_seq_pairs" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
        |f AS (SELECT user_id, event_id, event_type, us,
        |  CASE WHEN lag(us, 1) OVER w IS NULL
        |    OR us - lag(us, 1) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
        |g AS (SELECT user_id, event_type, us,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM f),
        |sess AS (SELECT user_id, sess_id, event_type, min(us) AS first_us
        |  FROM g GROUP BY user_id, sess_id, event_type),
        |ns AS (SELECT count(*) AS n_sessions FROM
        |  (SELECT DISTINCT user_id, sess_id FROM sess)),
        |p AS (SELECT l.event_type AS ta, r.event_type AS tb,
        |  count(*) AS n_support
        |  FROM sess l JOIN sess r
        |    ON l.user_id = r.user_id AND l.sess_id = r.sess_id
        |    AND l.event_type <> r.event_type AND l.first_us < r.first_us
        |  GROUP BY l.event_type, r.event_type)
        |SELECT ta, tb, n_support,
        |  ${femitSql("CAST(n_support AS DOUBLE) / CAST(ns.n_sessions AS DOUBLE)")}
        |    AS support
        |FROM p CROSS JOIN ns ORDER BY ta, tb""".stripMargin,
    // Same fixed grid, same exact count/DECIMAL-sum ratios.
    "q180_calibration" ->
      s"""WITH e AS (SELECT value,
         |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
         |  least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin FROM events)
         |SELECT bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
         |  ${femitSql(dsumSql("value") + " / count(*)")} AS mean_score,
         |  ${femitSql("CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
         |    AS frac_pos
         |FROM e GROUP BY bin ORDER BY bin""".stripMargin,
    // The identical minimax isotonic fit: segment averages from the
    // same grid self-join on exact integer sums, min-then-max over
    // identical IEEE divisions, femit at the edge.
    "q318_isotonic" ->
      s"""WITH e AS (SELECT
         |  least(CAST(floor(value / 50.0) AS BIGINT), 9) AS b,
         |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
         |  FROM events),
         |bins AS (SELECT b, count(*) AS n, CAST(sum(pos) AS BIGINT) AS npos
         |  FROM e GROUP BY b),
         |seg AS (SELECT j.b AS j, k.b AS k,
         |    CAST(sum(m.npos) AS DOUBLE) / CAST(sum(m.n) AS DOUBLE) AS avg_jk
         |  FROM bins j JOIN bins k ON j.b <= k.b
         |  JOIN bins m ON m.b >= j.b AND m.b <= k.b
         |  GROUP BY 1, 2),
         |mj AS (SELECT i.b AS i, seg.j, min(avg_jk) AS mn
         |  FROM bins i JOIN seg ON seg.j <= i.b AND seg.k >= i.b
         |  GROUP BY 1, 2),
         |iso AS (SELECT i, max(mn) AS iso FROM mj GROUP BY i)
         |SELECT bins.b AS bin, bins.n AS n, bins.npos AS n_pos,
         |  ${femitSql("CAST(bins.npos AS DOUBLE) / CAST(bins.n AS DOUBLE)")}
         |    AS rate_raw,
         |  ${femitSql("iso.iso")} AS rate_iso
         |FROM bins JOIN iso ON iso.i = bins.b
         |ORDER BY bin""".stripMargin,
    // Same Laplace smoothing, same per-bin IEEE term, same DECIMAL
    // cross-bin sum.
    "q181_psi" ->
      s"""WITH b AS (SELECT
         |  CASE WHEN epoch_us(ts) // 86400000000 < 19738 THEN 1 ELSE 2 END AS snap,
         |  least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin FROM events),
         |c AS (SELECT snap, bin, count(*) AS cnt FROM b GROUP BY snap, bin),
         |tot AS (SELECT sum(CASE WHEN snap = 1 THEN cnt END) AS t1,
         |  sum(CASE WHEN snap = 2 THEN cnt END) AS t2 FROM c),
         |g AS (SELECT bin,
         |  CAST(coalesce(sum(CASE WHEN snap = 1 THEN cnt END), 0) AS BIGINT) AS n1,
         |  CAST(coalesce(sum(CASE WHEN snap = 2 THEN cnt END), 0) AS BIGINT) AS n2
         |  FROM c GROUP BY bin),
         |t AS (SELECT bin, n1, n2,
         |  CAST(n1 + 1 AS DOUBLE) / CAST(t1 + 10 AS DOUBLE) AS p1,
         |  CAST(n2 + 1 AS DOUBLE) / CAST(t2 + 10 AS DOUBLE) AS p2
         |  FROM g CROSS JOIN tot),
         |u AS (SELECT bin, n1, n2, (p2 - p1) * ln(p2 / p1) AS term FROM t)
         |SELECT bin, n1, n2, ${femitSql("term")} AS term FROM u
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT) AS bin, CAST(sum(n1) AS BIGINT) AS n1,
         |  CAST(sum(n2) AS BIGINT) AS n2,
         |  ${femitSql(dsumSql("term"))} AS term FROM u
         |ORDER BY bin""".stripMargin,
    // Same hold-until-next semantics, same global horizon, same
    // DECIMAL-route weighted sum.
    "q182_twap" ->
      s"""WITH e AS (SELECT event_id, event_type, value, epoch_us(ts) AS us
         |  FROM events),
         |w AS (SELECT event_type, value, us,
         |  coalesce(lead(us, 1) OVER (PARTITION BY event_type
         |      ORDER BY us ASC, event_id ASC),
         |    max(us) OVER ()) AS next_us FROM e)
         |SELECT event_type, count(*) AS n,
         |  CAST(sum(next_us - us) AS BIGINT) AS total_us,
         |  ${femitSql(dsumSql("value * CAST(next_us - us AS DOUBLE)") +
                      " / CAST(sum(next_us - us) AS DOUBLE)")} AS twap
         |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same running last-non-purchase window, same 7-day cutoff, same
    // DECIMAL-route revenue.
    "q183_attribution" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type, value,
         |  epoch_us(ts) AS us FROM events),
         |w AS (SELECT user_id, event_type, value, us,
         |  last_value(CASE WHEN event_type <> 'purchase'
         |      THEN struct_pack(tus := us, tet := event_type) END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
         |  FROM e),
         |p AS (SELECT CASE WHEN touch IS NULL OR us - touch.tus > 604800000000
         |    THEN 'direct' ELSE touch.tet END AS channel, value
         |  FROM w WHERE event_type = 'purchase')
         |SELECT channel, count(*) AS n_purchases,
         |  ${femitSql(s"""${dsumSql("value")}""")} AS revenue
         |FROM p GROUP BY channel ORDER BY channel""".stripMargin,
    // Same quasi-identifier grid, same k=5 threshold, integer counts
    // throughout.
    "q184_k_anonymity" ->
      """WITH q AS (SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS bal_kb,
        |  count(*) AS cls_n
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT c_nationkey, c_mktsegment, count(*) AS n_classes,
        |  CAST(sum(CASE WHEN cls_n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(sum(CASE WHEN cls_n < 5 THEN cls_n ELSE 0 END) AS BIGINT) AS n_exposed,
        |  min(cls_n) AS min_class
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same calibration split, same order-statistic qhat, same coverage
    // comparisons on IEEE-identical residuals.
    "q185_conformal" ->
      s"""WITH e AS (SELECT user_id, event_type, value FROM events),
         |c AS (SELECT event_type, value FROM e WHERE user_id % 2 = 0),
         |mu AS (SELECT event_type, ${dsumSql("value")} / count(*) AS mu,
         |  count(*) AS n_calib FROM c GROUP BY event_type),
         |r AS (SELECT c.event_type, abs(c.value - mu.mu) AS r
         |  FROM c JOIN mu USING (event_type)),
         |rk AS (SELECT event_type, r,
         |  row_number() OVER (PARTITION BY event_type ORDER BY r ASC) AS rn
         |  FROM r),
         |q AS (SELECT rk.event_type, rk.r AS qhat
         |  FROM rk JOIN mu USING (event_type)
         |  WHERE rn = CAST(ceil(CAST(n_calib + 1 AS DOUBLE) * 0.9) AS BIGINT))
         |SELECT t.event_type, max(mu.n_calib) AS n_calib, count(*) AS n_test,
         |  ${femitSql("max(q.qhat)")} AS qhat,
         |  ${femitSql(s"""CAST(sum(CASE WHEN abs(t.value - mu.mu) <= q.qhat
         |      THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)""")}
         |    AS coverage
         |FROM (SELECT event_type, value FROM e WHERE user_id % 2 = 1) t
         |JOIN mu USING (event_type) JOIN q USING (event_type)
         |GROUP BY t.event_type ORDER BY t.event_type""".stripMargin,
    // Same QI grid, same l>=3 threshold; exact count(distinct).
    "q186_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |  count(DISTINCT CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0)
        |    AS BIGINT)) AS l,
        |  count(DISTINCT CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0)
        |    AS BIGINT)) >= 3 AS diverse
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same exact cents-string digit extraction, same 12-digit Benford
    // literals, same per-digit IEEE terms, DECIMAL route for the TOTAL.
    "q187_benford" ->
      s"""WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
         |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM orders),
         |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
         |ex AS (SELECT * FROM (VALUES (1, 0.301029995664),
         |  (2, 0.176091259056), (3, 0.124938736608), (4, 0.096910013008),
         |  (5, 0.079181246048), (6, 0.066946789631), (7, 0.057991946978),
         |  (8, 0.051152522447), (9, 0.045757490561)) AS t(digit, p_exp)),
         |g AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM c),
         |p AS (SELECT CAST(ex.digit AS BIGINT) AS digit,
         |  coalesce(c.n, 0) AS n, CAST(ex.p_exp AS DOUBLE) AS p_exp,
         |  CAST(coalesce(c.n, 0) AS DOUBLE)
         |    - CAST(grand AS DOUBLE) * CAST(ex.p_exp AS DOUBLE) AS dev, grand
         |  FROM ex LEFT JOIN c ON ex.digit = c.digit CROSS JOIN g)
         |SELECT digit, n,
         |  ${femitSql("CAST(n AS DOUBLE) / CAST(grand AS DOUBLE)")} AS p_obs,
         |  ${femitSql("p_exp")} AS p_exp,
         |  ${femitSql("dev * dev / (CAST(grand AS DOUBLE) * p_exp)")} AS chi2
         |FROM p
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT), max(grand), NULL, NULL,
         |  ${femitSql(dsumSql("dev * dev / (CAST(grand AS DOUBLE) * p_exp)"))}
         |FROM p
         |ORDER BY digit""".stripMargin,
    // Same contingency grid, same window-derived expectations, same
    // IEEE term shape, DECIMAL route across cells.
    "q188_chisq" ->
      s"""WITH o AS (SELECT event_type,
         |  (epoch_us(ts) // 86400000000) % 7 AS dow, count(*) AS o
         |  FROM events GROUP BY 1, 2),
         |w AS (SELECT event_type, dow, o,
         |  sum(o) OVER (PARTITION BY event_type) AS row_t,
         |  sum(o) OVER (PARTITION BY dow) AS col_t,
         |  sum(o) OVER () AS grand FROM o),
         |t AS (SELECT event_type, dow, o,
         |  (CAST(o AS DOUBLE) - CAST(row_t AS DOUBLE) * CAST(col_t AS DOUBLE)
         |      / CAST(grand AS DOUBLE))
         |    * (CAST(o AS DOUBLE) - CAST(row_t AS DOUBLE) * CAST(col_t AS DOUBLE)
         |      / CAST(grand AS DOUBLE))
         |    / (CAST(row_t AS DOUBLE) * CAST(col_t AS DOUBLE)
         |      / CAST(grand AS DOUBLE)) AS term FROM w)
         |SELECT event_type, CAST(sum(o) AS BIGINT) AS n,
         |  ${femitSql(dsumSql("term"))} AS chi2,
         |  CAST(NULL AS BIGINT) AS dof
         |FROM t GROUP BY event_type
         |UNION ALL
         |SELECT 'TOTAL', CAST(sum(o) AS BIGINT), ${femitSql(dsumSql("term"))},
         |  (count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1)
         |FROM t
         |ORDER BY event_type""".stripMargin,
    // Same distinct-value collapse, same integer ECDF numerators, same
    // sup over IEEE quotients.
    "q189_ks_test" ->
      s"""WITH e AS (SELECT event_type, value, user_id % 2 AS grp
        |  FROM events WHERE value IS NOT NULL),
        |p AS (SELECT event_type, value,
        |  sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS a,
        |  sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS b
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT event_type,
        |  sum(a) OVER (PARTITION BY event_type ORDER BY value ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |  sum(b) OVER (PARTITION BY event_type ORDER BY value ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |  sum(a) OVER (PARTITION BY event_type) AS na,
        |  sum(b) OVER (PARTITION BY event_type) AS nb
        |  FROM p)
        |SELECT event_type, CAST(max(na) AS BIGINT) AS n1,
        |  CAST(max(nb) AS BIGINT) AS n2,
        |  count(*) AS n_points,
        |  ${femitSql("""max(abs(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))""")} AS ks
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same distinct-value collapse, same integer average ranks, same
    // fixed-order tie-corrected z arithmetic; R1 via the DECIMAL route.
    "q190_mann_whitney" ->
      s"""WITH e AS (SELECT event_type, value, user_id % 2 AS grp
         |  FROM events WHERE value IS NOT NULL),
         |p AS (SELECT event_type, value,
         |  sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS a,
         |  sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS b
         |  FROM e GROUP BY 1, 2),
         |r AS (SELECT event_type, a, b, a + b AS t,
         |  coalesce(sum(a + b) OVER (PARTITION BY event_type
         |    ORDER BY value ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
         |  FROM p),
         |g AS (SELECT event_type, CAST(sum(a) AS BIGINT) AS n1,
         |  CAST(sum(b) AS BIGINT) AS n2,
         |  ${dsumSql("CAST(a AS DOUBLE) * (CAST(before AS DOUBLE) + (CAST(t AS DOUBLE) + 1.0) / 2.0)")} AS r1,
         |  CAST(sum(t * t * t - t) AS BIGINT) AS ties FROM r GROUP BY 1)
         |SELECT event_type, n1, n2, ${femitSql("r1")} AS r1,
         |  ${femitSql("r1 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0")}
         |    AS u1,
         |  ${femitSql("""((r1 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)
         |      - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
         |    / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
         |      * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
         |        - CAST(ties AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE)
         |          * (CAST(n1 + n2 AS DOUBLE) - 1.0))))""")} AS z
         |FROM g ORDER BY event_type""".stripMargin,
    // Same day-grain lifetimes + 2-day censor rule, same life-table
    // windows; ln terms summed through the DECIMAL window route.
    "q191_kaplan_meier" ->
      s"""WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
        |  max(epoch_us(ts)) AS l FROM events GROUP BY 1),
        |v AS (SELECT (l - f) // 86400000000 AS lifetime_day,
        |  (max(l) OVER () - l) < 172800000000 AS censored FROM u),
        |t AS (SELECT lifetime_day,
        |  CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |  CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM v GROUP BY 1),
        |w AS (SELECT lifetime_day, d, c,
        |  CAST(sum(d + c) OVER () - coalesce(sum(d + c) OVER (
        |    ORDER BY lifetime_day ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |  FROM t),
        |x AS (SELECT lifetime_day, d, c, n_risk,
        |  CASE WHEN d > 0 AND n_risk > d
        |    THEN ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |    ELSE 0.0 END AS lnterm,
        |  max(CASE WHEN n_risk = d THEN 1 ELSE 0 END) OVER (
        |    ORDER BY lifetime_day ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        |  FROM w)
        |SELECT lifetime_day, n_risk, d, c,
        |  CASE WHEN dead = 1 THEN 0.0 ELSE
        |    ${femitSql("""exp(CAST(CAST(sum(CAST(CAST(lnterm AS VARCHAR)
        |      AS DECIMAL(38,12))) OVER (ORDER BY lifetime_day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS VARCHAR) AS DOUBLE))""")} END AS surv
        |FROM x ORDER BY lifetime_day""".stripMargin,
    // Same per-customer reduce, same deterministic ntile tiebreaks,
    // same DECIMAL-route monetary key and cell means.
    "q192_rfm" ->
      s"""WITH per AS (SELECT o_custkey,
         |  max(CAST(epoch(o_orderdate) AS BIGINT) // 86400) AS last_day,
         |  count(*) AS freq, ${dsumSql("o_totalprice")} AS mon
         |  FROM orders GROUP BY 1),
         |r AS (SELECT o_custkey, freq, mon,
         |  max(last_day) OVER () - last_day AS rec_days FROM per),
         |q AS (SELECT mon,
         |  ntile(5) OVER (ORDER BY rec_days ASC, o_custkey ASC) AS r_q,
         |  ntile(5) OVER (ORDER BY freq DESC, o_custkey ASC) AS f_q,
         |  ntile(5) OVER (ORDER BY mon DESC, o_custkey ASC) AS m_q FROM r)
         |SELECT r_q, f_q, m_q, count(*) AS n_customers,
         |  ${femitSql(s"""${dsumSql("mon")} / CAST(count(*) AS DOUBLE)""")}
         |    AS avg_monetary
         |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // Same integer cell/active-day counts, same fixed-order ratio
    // arithmetic.
    "q193_seasonal_index" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |e2 AS (SELECT event_type, day, day % 7 AS dow FROM e),
        |dd AS (SELECT dow, count(*) AS days_dow FROM
        |  (SELECT DISTINCT day, day % 7 AS dow FROM e) GROUP BY 1),
        |dt AS (SELECT sum(days_dow) AS days_total FROM dd),
        |c AS (SELECT event_type, dow, count(*) AS n FROM e2 GROUP BY 1, 2),
        |ct AS (SELECT event_type, dow, n,
        |  sum(n) OVER (PARTITION BY event_type) AS n_type FROM c)
        |SELECT event_type, dow, n,
        |  ${femitSql("CAST(n AS DOUBLE) / CAST(days_dow AS DOUBLE)")} AS daily_avg,
        |  ${femitSql(s"""(CAST(n AS DOUBLE) / CAST(days_dow AS DOUBLE))
        |    / (CAST(n_type AS DOUBLE) / CAST(days_total AS DOUBLE))""")} AS idx
        |FROM ct JOIN dd USING (dow) CROSS JOIN dt
        |ORDER BY event_type, dow""".stripMargin,
    // Same gap-filled spine, same shared mean, same lag equi-join;
    // numerator and denominator through the DECIMAL route.
    "q194_acf" ->
      s"""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n
         |  FROM events GROUP BY 1),
         |b AS (SELECT s.day, coalesce(d.n, 0) AS x FROM
         |  (SELECT unnest(generate_series((SELECT min(day) FROM d),
         |    (SELECT max(day) FROM d))) AS day) s
         |  LEFT JOIN d USING (day)),
         |m AS (SELECT CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |  AS mean FROM b),
         |v AS (SELECT day, CAST(x AS DOUBLE) - mean AS dev
         |  FROM b CROSS JOIN m),
         |den AS (SELECT ${dsumSql("dev * dev")} AS den FROM v),
         |l AS (SELECT unnest(generate_series(1, 7)) AS lag),
         |num AS (SELECT l.lag, count(*) AS n_pairs,
         |  ${dsumSql("a.dev * b2.dev")} AS num
         |  FROM v a CROSS JOIN l JOIN v b2 ON b2.day = a.day + l.lag
         |  GROUP BY l.lag)
         |SELECT lag, n_pairs, ${femitSql("num / den")} AS acf
         |FROM num CROSS JOIN den ORDER BY lag""".stripMargin,
    "q408_pacf" -> pacfOracle(maxLag = 6),
    // Same zero-filled spine, q149 closed-form OLS moments, dyadic
    // α = ½ SES as one exact power-of-two weighted dsum.
    "q409_theta_forecast" ->
      s"""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |  count(*) AS n FROM events GROUP BY 1),
         |sp AS (SELECT s.day, s.day - (SELECT min(day) FROM d) AS t,
         |  coalesce(d.n, 0) AS x FROM
         |  (SELECT unnest(generate_series((SELECT min(day) FROM d),
         |    (SELECT max(day) FROM d))) AS day) s
         |  LEFT JOIN d USING (day)),
         |mom0 AS (SELECT count(*) AS nT,
         |  ${dsumSql("CAST(t AS DOUBLE)")} AS st,
         |  ${dsumSql("CAST(t AS DOUBLE) * CAST(t AS DOUBLE)")} AS stt,
         |  ${dsumSql("CAST(x AS DOUBLE)")} AS sy,
         |  ${dsumSql("CAST(t AS DOUBLE) * CAST(x AS DOUBLE)")} AS sty
         |  FROM sp),
         |mom1 AS (SELECT *, (CAST(nT AS DOUBLE) * sty - st * sy)
         |  / nullif(CAST(nT AS DOUBLE) * stt - st * st, 0.0) AS b
         |  FROM mom0),
         |mom AS (SELECT *, (sy - b * st) / CAST(nT AS DOUBLE) AS a
         |  FROM mom1),
         |lz AS (SELECT ${dsumSql("w * z")} AS lz FROM (
         |  SELECT 2.0 * CAST(x AS DOUBLE)
         |      - (a + b * CAST(t AS DOUBLE)) AS z,
         |    CASE WHEN t = 0
         |      THEN pow(0.5, CAST(nT AS DOUBLE) - 1.0)
         |      ELSE pow(0.5, CAST(nT AS DOUBLE) - CAST(t AS DOUBLE)) END AS w
         |  FROM sp CROSS JOIN mom)),
         |hs AS (SELECT unnest(generate_series(1, 7)) AS h)
         |SELECT h,
         |  ${femitSql("a + b * (CAST(nT AS DOUBLE) - 1.0 + CAST(h AS DOUBLE))")}
         |    AS trend_line,
         |  ${femitSql("lz")} AS ses_level,
         |  ${femitSql("(a + b * (CAST(nT AS DOUBLE) - 1.0" +
        " + CAST(h AS DOUBLE)) + lz) * 0.5")} AS forecast
         |FROM hs CROSS JOIN mom CROSS JOIN lz ORDER BY h""".stripMargin,
    // Large-purchase daily demand (value > 180), occurrence-order
    // window over O(nonzero-days) cells, dyadic SES over sizes and
    // gaps, Croston rate + SBA correction.
    "q410_croston" ->
      s"""WITH nz AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |  count(*) AS z FROM events
         |  WHERE event_type = 'purchase' AND value IS NOT NULL
         |  AND value > 180.0 GROUP BY 1),
         |occ AS (SELECT day, z,
         |  CAST(row_number() OVER (ORDER BY day ASC) AS BIGINT) AS i,
         |  day - lag(day) OVER (ORDER BY day ASC) AS g FROM nz),
         |mm AS (SELECT max(i) AS m, min(day) AS d0, max(day) AS dm
         |  FROM occ),
         |zs AS (SELECT ${dsumSql("w * CAST(z AS DOUBLE)")} AS zl FROM (
         |  SELECT z, CASE WHEN i = 1
         |    THEN pow(0.5, CAST(m AS DOUBLE) - 1.0)
         |    ELSE pow(0.5, CAST(m AS DOUBLE) - CAST(i AS DOUBLE) + 1.0)
         |    END AS w FROM occ CROSS JOIN mm)),
         |qs AS (SELECT ${dsumSql("w * CAST(g AS DOUBLE)")} AS ql FROM (
         |  SELECT g, CASE WHEN i - 1 = 1
         |    THEN pow(0.5, CAST(m AS DOUBLE) - 2.0)
         |    ELSE pow(0.5, CAST(m AS DOUBLE) - CAST(i - 1 AS DOUBLE)) END AS w
         |  FROM occ CROSS JOIN mm WHERE i >= 2))
         |SELECT m AS n_demands, dm - d0 AS span_days,
         |  ${femitSql("zl")} AS z_level, ${femitSql("ql")} AS q_level,
         |  ${femitSql("zl / nullif(ql, 0.0)")} AS croston_rate,
         |  ${femitSql("zl / nullif(ql, 0.0) * 0.75")} AS sba_rate
         |FROM mm CROSS JOIN zs CROSS JOIN qs""".stripMargin,
    // Same per-group DECIMAL moments, same k-row cross-group reduce,
    // same fixed-order F arithmetic.
    "q197_anova" ->
      s"""WITH g AS (SELECT event_type, count(*) AS n,
         |  ${dsumSql("value")} AS s1, ${dsumSql("value * value")} AS s2
         |  FROM events WHERE value IS NOT NULL GROUP BY 1),
         |g2 AS (SELECT *, s1 / CAST(n AS DOUBLE) AS mean_g FROM g),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn, count(*) AS k,
         |  ${dsumSql("s1")} AS ts1
         |  FROM g2),
         |j AS (SELECT g2.*, ts1 / CAST(nn AS DOUBLE) AS gm, nn, k
         |  FROM g2 CROSS JOIN t),
         |a AS (SELECT max(k) AS k, max(nn) AS n,
         |  ${dsumSql("CAST(n AS DOUBLE) * (mean_g - gm) * (mean_g - gm)")}
         |    AS ssb,
         |  ${dsumSql("s2 - CAST(n AS DOUBLE) * mean_g * mean_g")} AS ssw
         |  FROM j)
         |SELECT k, n, ${femitSql("ssb")} AS ssb, ${femitSql("ssw")} AS ssw,
         |  ${femitSql("""(ssb / (CAST(k AS DOUBLE) - 1.0))
         |    / (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))""")} AS f
         |FROM a""".stripMargin,
    // Same DECIMAL-route ranking key, same exact DECIMAL window cumsum
    // (VARCHAR round-trips on this side), same 80/95 cuts.
    "q198_pareto_abc" ->
      s"""WITH rev AS (SELECT l_partkey,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS rev
         |  FROM lineitem GROUP BY 1),
         |w AS (SELECT l_partkey, rev,
         |  CAST(CAST(sum(CAST(CAST(rev AS VARCHAR) AS DECIMAL(38,12)))
         |    OVER () AS VARCHAR) AS DOUBLE) AS total,
         |  CAST(CAST(sum(CAST(CAST(rev AS VARCHAR) AS DECIMAL(38,12)))
         |    OVER (ORDER BY rev DESC, l_partkey ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS VARCHAR) AS DOUBLE) AS cum
         |  FROM rev),
         |c AS (SELECT CASE WHEN cum / total <= 0.80 THEN 'A'
         |    WHEN cum / total <= 0.95 THEN 'B' ELSE 'C' END AS cls,
         |  rev, total FROM w)
         |SELECT cls, count(*) AS n_parts, ${femitSql(s"""${dsumSql("rev")}""")}
         |    AS revenue,
         |  ${femitSql(s"""${dsumSql("rev")} / max(total)""")} AS rev_share
         |FROM c GROUP BY cls ORDER BY cls""".stripMargin,
    // Same quarter-weight quantile interpolation (q51's), same eighth-
    // exact fence arithmetic, same clamp through the DECIMAL route.
    "q178_outlier_fence" ->
      s"""WITH e AS (SELECT event_type,
         |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         |q AS (SELECT event_type, quantile_cont(cents, 0.25) AS q25,
         |  quantile_cont(cents, 0.75) AS q75 FROM e GROUP BY event_type),
         |f AS (SELECT event_type,
         |  q25 - (q75 - q25) * 1.5 AS lo, q75 + (q75 - q25) * 1.5 AS hi FROM q)
         |SELECT e.event_type, count(*) AS n,
         |  CAST(sum(CASE WHEN CAST(cents AS DOUBLE) < lo THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_low,
         |  CAST(sum(CASE WHEN CAST(cents AS DOUBLE) > hi THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_high,
         |  max(lo) AS fence_lo, max(hi) AS fence_hi,
         |  ${femitSql(dsumSql("least(greatest(CAST(cents AS DOUBLE), lo), hi)") +
                      " / count(*)")} AS winsor_mean
         |FROM e JOIN f ON e.event_type = f.event_type
         |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    // Same gap rule, same session-bounded leads, same total order.
    "q172_path_trigrams" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
        |f AS (SELECT user_id, event_id, event_type, us,
        |  CASE WHEN lag(us, 1) OVER w IS NULL
        |    OR us - lag(us, 1) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
        |g AS (SELECT user_id, event_id, event_type, us,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM f),
        |t AS (SELECT event_type AS t1,
        |  lead(event_type, 1) OVER sw AS t2, lead(event_type, 2) OVER sw AS t3
        |  FROM g WINDOW sw AS (PARTITION BY user_id, sess_id
        |    ORDER BY us ASC, event_id ASC))
        |SELECT t1, t2, t3, count(*) AS cnt FROM t
        |WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY t1, t2, t3
        |ORDER BY cnt DESC, t1 ASC, t2 ASC, t3 ASC LIMIT 20""".stripMargin,
    // Same integer flag algebra; the only float is the same fixed-order
    // rounded |z|.
    "q171_zscore_anomaly" ->
      s"""WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  count(*) AS x FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, x,
        |  sum(x) OVER tr AS s1, sum(x * x) OVER tr AS s2, count(*) OVER tr AS m
        |  FROM daily WINDOW tr AS (PARTITION BY event_type ORDER BY day ASC
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |sc AS (SELECT event_type, 7 * x - s1 AS num, 7 * s2 - s1 * s1 AS den2
        |  FROM w WHERE m = 7)
        |SELECT event_type, count(*) AS n_scored,
        |  CAST(sum(CASE WHEN num * num > 9 * den2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anomalies,
        |  max(CASE WHEN den2 > 0
        |    THEN ${femitSql("abs(num) / sqrt(CAST(den2 AS DOUBLE))")}
        |    ELSE 0.0 END) AS max_z
        |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q168_skyline" ->
      """WITH pts AS (SELECT p_partkey,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
        |  CAST(p_size AS BIGINT) AS sz FROM part)
        |SELECT p_partkey, cents, sz FROM pts p
        |WHERE NOT EXISTS (SELECT 1 FROM pts q
        |  WHERE q.cents <= p.cents AND q.sz >= p.sz
        |    AND (q.cents < p.cents OR q.sz > p.sz))
        |ORDER BY cents ASC, p_partkey ASC""".stripMargin,
    // Same fnv-derandomized Poisson(1) inverse-CDF ladder (identical
    // cumulative literals), same Σw·v/Σw ratio per replicate on the
    // DECIMAL route, same order statistics 2 and B-1 with the
    // replicate id tiebreak.
    "q346_poisson_bootstrap" -> {
      val u = s"CAST(${graft.llm.Queries.fnvSql(
        "(CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR) || ':boot')")} AS DOUBLE) / 4294967296.0"
      s"""WITH ev AS (SELECT event_type, event_id, value FROM events
         |  WHERE value IS NOT NULL),
         |rep AS (SELECT event_type, event_id, value,
         |  unnest(range(40)) AS b FROM ev),
         |wt AS (SELECT event_type, b, value,
         |  CASE WHEN u < 0.36787944117144233 THEN 0
         |    WHEN u < 0.7357588823428847 THEN 1
         |    WHEN u < 0.9196986029286058 THEN 2
         |    WHEN u < 0.9810118431238462 THEN 3
         |    WHEN u < 0.9963401531726563 THEN 4
         |    WHEN u < 0.9994058151824183 THEN 5
         |    ELSE 6 END AS w
         |  FROM (SELECT event_type, event_id, value, b, $u AS u FROM rep) x),
         |mb AS (SELECT event_type, b,
         |  ${dsumSql("CAST(w AS DOUBLE) * value")} /
         |    nullif(CAST(sum(w) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS mb
         |  FROM wt GROUP BY event_type, b),
         |rk AS (SELECT event_type, mb, row_number() OVER (
         |  PARTITION BY event_type ORDER BY mb ASC NULLS LAST, b ASC) AS r FROM mb),
         |ci AS (SELECT event_type,
         |  min(CASE WHEN r = 2 THEN mb END) AS lo,
         |  min(CASE WHEN r = 39 THEN mb END) AS hi
         |  FROM rk GROUP BY event_type),
         |pt AS (SELECT event_type, count(*) AS n_events,
         |  ${dsumSql("value")} / count(*) AS mean0 FROM ev GROUP BY event_type)
         |SELECT pt.event_type, n_events, CAST(40 AS BIGINT) AS n_replicates,
         |  ${femitSql("mean0")} AS point_mean,
         |  ${femitSql("lo")} AS ci_lo, ${femitSql("hi")} AS ci_hi
         |FROM pt JOIN ci USING (event_type) ORDER BY event_type""".stripMargin
    },
    // Same per-candidate (lhs, rhs)-distinct aggregate, same exact
    // counts; NULL lhs/rhs group as values under GROUP BY on both.
    "q347_fd_audit" -> {
      def a(tab: String, fd: String, lhs: String, rhs: String) =
        s"""SELECT '$fd' AS fd, count(*) AS n_lhs,
           |  CAST(sum(nr) AS BIGINT) AS n_pairs,
           |  CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating_lhs,
           |  CAST(CASE WHEN sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0
           |    THEN 1 ELSE 0 END AS BIGINT) AS holds
           |FROM (SELECT l, count(*) AS nr FROM
           |  (SELECT DISTINCT $lhs AS l, $rhs AS r FROM $tab) d
           |  GROUP BY l) g""".stripMargin
      s"""SELECT * FROM (
         |${a("documents", "doc_id->lang", "doc_id", "lang")}
         |UNION ALL
         |${a("documents", "lang->source", "lang", "source")}
         |UNION ALL
         |${a("documents", "source->lang", "source", "lang")}
         |UNION ALL
         |${a("events", "event_id->event_type", "event_id", "event_type")}
         |UNION ALL
         |${a("events", "user_id->event_type", "user_id", "event_type")}
         |) u ORDER BY fd""".stripMargin
    },
    // Same empirical per-user propensities from exact counts, same
    // n_u/n_ua weight division, same dsum estimator sums; IPS divides
    // by the full log size, SNIPS self-normalizes.
    "q350_snips" ->
      s"""WITH ev AS (SELECT user_id, event_type, value FROM events
         |  WHERE value IS NOT NULL),
         |ua AS (SELECT user_id, event_type, count(*) AS n_ua
         |  FROM ev GROUP BY 1, 2),
         |u AS (SELECT user_id, CAST(sum(n_ua) AS BIGINT) AS n_u
         |  FROM ua GROUP BY user_id),
         |nl AS (SELECT count(*) AS n_log FROM ev),
         |w AS (SELECT ev.event_type, ev.value,
         |  CAST(n_u AS DOUBLE) / CAST(n_ua AS DOUBLE) AS w
         |  FROM ev JOIN ua USING (user_id, event_type)
         |  JOIN u USING (user_id))
         |SELECT event_type AS target, count(*) AS n_match,
         |  ${femitSql(s"${dsumSql("w * value")} / CAST(min(n_log) AS DOUBLE)")} AS ips,
         |  ${femitSql(s"${dsumSql("w * value")} / ${dsumSql("w")}")} AS snips,
         |  ${femitSql(s"${dsumSql("value")} / CAST(count(*) AS DOUBLE)")} AS direct_mean
         |FROM w CROSS JOIN nl GROUP BY event_type ORDER BY target""".stripMargin,
    // Same exact dsum group moments, same 5-row dsum within-mass fold,
    // same Tukey-Kramer SE text with DOUBLE literals, same shared
    // 3.858 critical value.
    "q368_tukey_hsd" -> {
      val se = "sqrt((mse / CAST(2.0 AS DOUBLE)) * (CAST(1.0 AS DOUBLE) / CAST(na AS DOUBLE) + CAST(1.0 AS DOUBLE) / CAST(nb AS DOUBLE)))"
      s"""WITH ev AS (SELECT event_type, value FROM events
         |  WHERE value IS NOT NULL),
         |g AS (SELECT event_type, count(*) AS n, ${dsumSql("value")} AS sv,
         |  ${dsumSql("value * value")} AS svv FROM ev GROUP BY event_type),
         |ms AS (SELECT ${dsumSql("svv - sv * sv / CAST(n AS DOUBLE)")} /
         |  CAST(CAST(sum(n) AS BIGINT) - count(*) AS DOUBLE) AS mse FROM g),
         |a AS (SELECT event_type AS type_a, n AS na,
         |  sv / CAST(n AS DOUBLE) AS ma FROM g),
         |b AS (SELECT event_type AS type_b, n AS nb,
         |  sv / CAST(n AS DOUBLE) AS mb FROM g)
         |SELECT type_a, type_b,
         |  ${femitSql("abs(ma - mb)")} AS mean_diff,
         |  ${femitSql(se)} AS se,
         |  ${femitSql(s"abs(ma - mb) / $se")} AS q_stat,
         |  CAST(CASE WHEN abs(ma - mb) / $se > 3.858 THEN 1 ELSE 0 END
         |    AS BIGINT) AS significant
         |FROM a CROSS JOIN b CROSS JOIN ms WHERE type_a < type_b
         |ORDER BY type_a, type_b""".stripMargin
    },
    // Same exact day/week integer arithmetic off the min day, same
    // q181 bins + Laplace smoothing, same per-bin term and dsum fold.
    "q369_temporal_psi" ->
      s"""WITH base AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |  greatest(least(CAST(floor(value / 50.0) AS BIGINT), 9), 0) AS bin
         |  FROM events WHERE value IS NOT NULL),
         |d0 AS (SELECT min(day) AS d0 FROM base),
         |wk AS (SELECT (day - d0) // 7 AS week, bin
         |  FROM base CROSS JOIN d0),
         |binned AS (SELECT week, bin, count(*) AS cnt FROM wk
         |  GROUP BY week, bin),
         |ref AS (SELECT bin, cnt AS n0 FROM binned WHERE week = 0),
         |t0 AS (SELECT CAST(sum(n0) AS BIGINT) AS t0 FROM ref),
         |weeks AS (SELECT week, CAST(sum(cnt) AS BIGINT) AS tw
         |  FROM binned WHERE week > 0 GROUP BY week),
         |bins AS (SELECT unnest(range(10)) AS bin),
         |grid AS (SELECT week, tw,
         |  CAST(coalesce(n0, 0) + 1 AS DOUBLE) /
         |    CAST(t0 + 10 AS DOUBLE) AS p0,
         |  CAST(coalesce(cnt, 0) + 1 AS DOUBLE) /
         |    CAST(tw + 10 AS DOUBLE) AS pw
         |  FROM weeks CROSS JOIN bins
         |  LEFT JOIN binned USING (week, bin)
         |  LEFT JOIN ref USING (bin) CROSS JOIN t0)
         |SELECT week, min(tw) AS n_events,
         |  ${femitSql(dsumSql("(pw - p0) * ln(pw / p0)"))} AS psi
         |FROM grid GROUP BY week ORDER BY week""".stripMargin,
    // Same (type, user) keyed lag on exact microseconds with the
    // event_id tiebreak, same dsum moments and fixed-order B chain.
    "q370_burstiness" -> {
      val sd = "sqrt((sgg - sg * sg / CAST(n_gaps AS DOUBLE)) / CAST(n_gaps AS DOUBLE))"
      s"""WITH g0 AS (SELECT event_type, user_id, event_id, epoch_us(ts) AS us,
         |  lag(epoch_us(ts)) OVER (PARTITION BY event_type, user_id
         |    ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev FROM events),
         |gaps AS (SELECT event_type,
         |  CAST(us - prev AS DOUBLE) / 1000000.0 AS gap
         |  FROM g0 WHERE prev IS NOT NULL),
         |m AS (SELECT event_type, count(*) AS n_gaps,
         |  ${dsumSql("gap")} / CAST(count(*) AS DOUBLE) AS mu,
         |  ${dsumSql("gap * gap")} AS sgg, ${dsumSql("gap")} AS sg
         |  FROM gaps GROUP BY event_type)
         |SELECT event_type, n_gaps, ${femitSql("mu")} AS mean_gap_s,
         |  ${femitSql(sd)} AS sd_gap_s,
         |  ${femitSql(s"($sd - mu) / nullif($sd + mu, CAST(0.0 AS DOUBLE))")} AS burstiness
         |FROM m ORDER BY event_type""".stripMargin
    },
    // Same total (value, event_id) order, same integer cut ranks, same
    // order-statistic boundaries, dsum means; CASE-without-ELSE rows
    // fall out of SUM as NULLs on both engines.
    "q371_trimmed_mean" ->
      s"""WITH ev AS (SELECT event_type, event_id, value FROM events
         |  WHERE value IS NOT NULL),
         |rk AS (SELECT event_type, event_id, value, row_number() OVER (
         |  PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS r
         |  FROM ev),
         |nn AS (SELECT event_type, count(*) AS n, count(*) // 10 AS lo,
         |  count(*) - count(*) // 10 AS hi FROM rk GROUP BY event_type),
         |j AS (SELECT rk.*, n, lo, hi FROM rk JOIN nn USING (event_type)),
         |bd AS (SELECT event_type,
         |  min(CASE WHEN r = lo + 1 THEN value END) AS vlo,
         |  min(CASE WHEN r = hi THEN value END) AS vhi
         |  FROM j GROUP BY event_type)
         |SELECT event_type, min(n) AS n,
         |  ${femitSql(s"${dsumSql("value")} / CAST(count(*) AS DOUBLE)")} AS plain_mean,
         |  ${femitSql(s"${dsumSql("CASE WHEN r > lo AND r <= hi THEN value END")} / CAST(CAST(sum(CASE WHEN r > lo AND r <= hi THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)")} AS trimmed_mean,
         |  ${femitSql(s"${dsumSql("greatest(least(value, vhi), vlo)")} / CAST(count(*) AS DOUBLE)")} AS winsorized_mean
         |FROM j JOIN bd USING (event_type)
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Same bucket arithmetic on the source suffix, same exact
    // contingency, same alternating fit factors from dsum masses with
    // the shared uniform-target division text, same gap audit.
    "q372_raking" -> {
      def fitL(w: String, out: String, prev: String) =
        s"""$out AS (SELECT sb, lang, c, $w *
           |  ((CAST(nn AS DOUBLE) / CAST(5.0 AS DOUBLE)) / lm) AS w$out
           |  FROM (SELECT p.*, lm FROM $prev p JOIN
           |    (SELECT lang, ${dsumSql(w)} AS lm FROM $prev GROUP BY lang) m
           |    USING (lang)) q CROSS JOIN nt)""".stripMargin
      def fitS(w: String, out: String, prev: String) =
        s"""$out AS (SELECT sb, lang, c, $w *
           |  ((CAST(nn AS DOUBLE) / CAST(4.0 AS DOUBLE)) / sm) AS w$out
           |  FROM (SELECT p.*, sm FROM $prev p JOIN
           |    (SELECT sb, ${dsumSql(w)} AS sm FROM $prev GROUP BY sb) m
           |    USING (sb)) q CROSS JOIN nt)""".stripMargin
      s"""WITH cells AS (SELECT CAST(substr(source, 4) AS BIGINT) % 4 AS sb,
         |  lang, count(*) AS c, CAST(count(*) AS DOUBLE) AS w0
         |  FROM documents GROUP BY 1, 2),
         |nt AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cells),
         |${fitL("w0", "f1", "cells")},
         |${fitS("wf1", "f2", "f1")},
         |${fitL("wf2", "f3", "f2")},
         |${fitS("wf3", "f4", "f3")},
         |gap AS (SELECT max(abs(lmass / CAST(nn AS DOUBLE) -
         |    CAST(0.2 AS DOUBLE))) AS max_lang_gap FROM
         |  (SELECT lang, ${dsumSql("wf4")} AS lmass FROM f4 GROUP BY lang) g
         |  CROSS JOIN nt)
         |SELECT sb, lang, c, ${femitSql("wf4")} AS weight,
         |  ${femitSql("wf4 / CAST(c AS DOUBLE)")} AS per_doc_factor,
         |  ${femitSql("max_lang_gap")} AS max_lang_gap
         |FROM f4 CROSS JOIN gap ORDER BY sb, lang""".stripMargin
    },
    // Same per-source total-order ranks, same pure-integer target-rank
    // arithmetic (// is DuckDB's integer div twin of Spark's div),
    // same pooled value-grain interval join.
    "q375_quantile_norm" ->
      s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
         |rk AS (SELECT source, doc_id, n_chars,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY n_chars ASC, doc_id ASC) AS rs,
         |  count(*) OVER (PARTITION BY source) AS ns FROM d),
         |nt AS (SELECT count(*) AS nn FROM d),
         |pl AS (SELECT n_chars AS qv, count(*) AS c,
         |  CAST(sum(count(*)) OVER (ORDER BY n_chars ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum FROM d GROUP BY n_chars),
         |p2 AS (SELECT qv, cum - c AS prev, cum FROM pl),
         |rt AS (SELECT source, n_chars,
         |  ((2 * rs - 1) * nn + 2 * ns - 1) // (2 * ns) AS r
         |  FROM rk CROSS JOIN nt),
         |j AS (SELECT source, n_chars, qv FROM rt
         |  JOIN p2 ON rt.r > p2.prev AND rt.r <= p2.cum)
         |SELECT source, count(*) AS n_docs,
         |  ${femitSql(
        "CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
         |    AS mean_raw,
         |  ${femitSql(
        "CAST(CAST(sum(qv) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
         |    AS mean_qnorm,
         |  min(qv) AS min_qnorm, max(qv) AS max_qnorm
         |FROM j GROUP BY source ORDER BY source""".stripMargin,
    // Threshold-step AP over the q166 population: distinct-score
    // grain, cumulative TP/K from the top, AP fold as one dsum;
    // precision@recall>=1/2 via the integer compare 2*TP >= n_pos.
    "q411_average_precision" ->
      s"""WITH e AS (SELECT value AS score,
         |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
         |  FROM events WHERE value IS NOT NULL),
         |ps AS (SELECT score, count(*) AS cnt,
         |  CAST(sum(pos) AS BIGINT) AS poscnt FROM e GROUP BY 1),
         |cum AS (SELECT *,
         |  CAST(sum(cnt) OVER (ORDER BY score DESC) AS BIGINT) AS k,
         |  CAST(sum(poscnt) OVER (ORDER BY score DESC) AS BIGINT) AS tp
         |  FROM ps),
         |tot AS (SELECT CAST(sum(poscnt) AS BIGINT) AS n_pos,
         |  CAST(sum(cnt - poscnt) AS BIGINT) AS n_neg FROM ps),
         |ag AS (SELECT
         |  ${dsumSql("CAST(poscnt AS DOUBLE)" +
        " * (CAST(tp AS DOUBLE) / CAST(k AS DOUBLE))")} AS apn,
         |  max(CASE WHEN tp * 2 >= n_pos
         |    THEN CAST(tp AS DOUBLE) / CAST(k AS DOUBLE) END) AS par50
         |  FROM cum CROSS JOIN tot)
         |SELECT n_pos, n_neg,
         |  ${femitSql("apn / CAST(n_pos AS DOUBLE)")} AS average_precision,
         |  ${femitSql("par50")} AS prec_at_recall50
         |FROM ag CROSS JOIN tot""".stripMargin,
    // Same first-event treatment flag, same fixed-logistic propensity
    // with the [0.05, 0.95] clip, same Hajek ratios and balance gaps;
    // exp/ln are the libm parity class, sums ride dsum.
    "q377_ipw_ate" ->
      s"""WITH e AS (SELECT user_id, event_id, ts, event_type, value
         |  FROM events WHERE value IS NOT NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |  ORDER BY ts ASC, event_id ASC) AS rn FROM e),
         |per AS (SELECT user_id,
         |  max(CASE WHEN rn = 1 AND event_type = 'click'
         |    THEN 1 ELSE 0 END) AS t,
         |  count(*) AS n_events,
         |  ${dsumSql("value")} AS sv,
         |  ${dsumSql("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END")} AS y
         |  FROM r GROUP BY user_id),
         |sc AS (SELECT t, y, ln(CAST(n_events AS DOUBLE)) AS x1,
         |  sv / CAST(n_events AS DOUBLE) / 100.0 AS x2 FROM per),
         |s2 AS (SELECT t, y, x1,
         |  least(greatest(1.0 / (1.0 + exp(-(-0.2 + 0.3 * x1 + 0.1 * x2))),
         |    0.05), 0.95) AS ee FROM sc),
         |s3 AS (SELECT t, y, x1, CASE WHEN t = 1 THEN 1.0 / ee
         |  ELSE 1.0 / (1.0 - ee) END AS wt FROM s2),
         |a AS (SELECT count(*) AS n_users,
         |  CAST(sum(t) AS BIGINT) AS n_treated,
         |  ${dsumSql("CASE WHEN t = 1 THEN y END")} AS sy1,
         |  ${dsumSql("CASE WHEN t = 0 THEN y END")} AS sy0,
         |  ${dsumSql("CASE WHEN t = 1 THEN wt * y END")} AS wy1,
         |  ${dsumSql("CASE WHEN t = 0 THEN wt * y END")} AS wy0,
         |  ${dsumSql("CASE WHEN t = 1 THEN wt END")} AS w1,
         |  ${dsumSql("CASE WHEN t = 0 THEN wt END")} AS w0,
         |  ${dsumSql("CASE WHEN t = 1 THEN x1 END")} AS sx1t,
         |  ${dsumSql("CASE WHEN t = 0 THEN x1 END")} AS sx1c,
         |  ${dsumSql("CASE WHEN t = 1 THEN wt * x1 END")} AS wx1t,
         |  ${dsumSql("CASE WHEN t = 0 THEN wt * x1 END")} AS wx1c
         |  FROM s3)
         |SELECT n_users, n_treated,
         |  ${femitSql(
        "sy1 / CAST(n_treated AS DOUBLE) - sy0 / CAST(n_users - n_treated AS DOUBLE)")}
         |    AS ate_naive,
         |  ${femitSql("wy1 / w1 - wy0 / w0")} AS ate_ipw,
         |  ${femitSql(
        "sx1t / CAST(n_treated AS DOUBLE) - sx1c / CAST(n_users - n_treated AS DOUBLE)")}
         |    AS x1_gap_raw,
         |  ${femitSql("wx1t / w1 - wx1c / w0")} AS x1_gap_weighted
         |FROM a""".stripMargin,
    // Same q346 Poisson weight ladder keyed (event_id:b:boot), same
    // weighted tied-rank identity per replicate (prefix window
    // PARTITIONED BY b), same 2/39 order statistics with NULLS LAST,
    // and q166's exact point-estimate chain riding along.
    "q386_auc_bootstrap" -> {
      val u = s"CAST(${graft.llm.Queries.fnvSql(
        "(CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR) || ':boot')")} AS DOUBLE) / 4294967296.0"
      s"""WITH rep AS (SELECT value AS score, event_id,
         |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
         |  unnest(range(40)) AS b FROM events WHERE value IS NOT NULL),
         |wt AS (SELECT score, b, pos,
         |  CASE WHEN u < 0.36787944117144233 THEN 0
         |    WHEN u < 0.7357588823428847 THEN 1
         |    WHEN u < 0.9196986029286058 THEN 2
         |    WHEN u < 0.9810118431238462 THEN 3
         |    WHEN u < 0.9963401531726563 THEN 4
         |    WHEN u < 0.9994058151824183 THEN 5
         |    ELSE 6 END AS w
         |  FROM (SELECT score, event_id, pos, b, $u AS u FROM rep) x),
         |cl AS (SELECT b, score, CAST(sum(w) AS BIGINT) AS cnt,
         |  CAST(sum(w * pos) AS BIGINT) AS poscnt FROM wt
         |  GROUP BY b, score HAVING sum(w) > 0),
         |rr AS (SELECT b, score, cnt, poscnt,
         |  coalesce(CAST(sum(cnt) OVER (PARTITION BY b ORDER BY score ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |    0) AS wb FROM cl),
         |ab0 AS (SELECT b, CAST(sum(poscnt) AS BIGINT) AS np,
         |  CAST(sum(cnt - poscnt) AS BIGINT) AS nn,
         |  ${dsumSql("CAST(poscnt AS DOUBLE) * " +
        "(CAST(wb AS DOUBLE) + CAST(cnt + 1 AS DOUBLE) / 2.0)")} AS rpos
         |  FROM rr GROUP BY b),
         |ab AS (SELECT b,
         |  (rpos - CAST(np AS DOUBLE) * CAST(np + 1 AS DOUBLE) / 2.0)
         |    / nullif(CAST(np AS DOUBLE) * CAST(nn AS DOUBLE), 0.0) AS auc_b
         |  FROM ab0),
         |rk AS (SELECT b, auc_b, row_number() OVER (
         |  ORDER BY auc_b ASC NULLS LAST, b ASC) AS r FROM ab),
         |ci AS (SELECT min(CASE WHEN r = 2 THEN auc_b END) AS lo,
         |  min(CASE WHEN r = 39 THEN auc_b END) AS hi FROM rk),
         |g AS (SELECT value AS score, count(*) AS cnt,
         |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS poscnt
         |  FROM events WHERE value IS NOT NULL GROUP BY value),
         |r2 AS (SELECT score, cnt, poscnt,
         |  coalesce(sum(cnt) OVER (ORDER BY score ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS cum_before FROM g),
         |a2 AS (SELECT CAST(sum(poscnt) AS BIGINT) AS n_pos,
         |  CAST(sum(cnt - poscnt) AS BIGINT) AS n_neg,
         |  ${dsumSql("CAST(poscnt AS DOUBLE) * (CAST(cum_before AS DOUBLE)" +
        " + CAST(cnt + 1 AS DOUBLE) / 2.0)")} AS rpos FROM r2),
         |pt AS (SELECT n_pos, n_neg,
         |  ${femitSql("(rpos - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE) / 2.0)" +
        " / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))")} AS auc FROM a2)
         |SELECT n_pos, n_neg, CAST(40 AS BIGINT) AS n_replicates,
         |  auc AS auc_point, ${femitSql("lo")} AS ci_lo,
         |  ${femitSql("hi")} AS ci_hi,
         |  ${femitSql("lo")} > 0.5 AS separable_at_95
         |FROM pt CROSS JOIN ci""".stripMargin
    },
    // Same gap-filled spine, same centered decimal 7-day MA with the
    // incomplete-edge drop, same dow means/recentering, same
    // three-variance strength chains.
    "q387_stl_strength" -> {
      val wsum = "CAST(CAST(sum(CAST(CAST(y AS VARCHAR) AS DECIMAL(38,12)))" +
        " OVER w7 AS VARCHAR) AS DOUBLE)"
      def varSql(c: String) =
        s"(${dsumSql(s"($c) * ($c)")} - ${dsumSql(c)} * ${dsumSql(c)}" +
          " / CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE)"
      s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |  count(*) AS n FROM events GROUP BY 1),
         |bd AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
         |sp AS (SELECT day, CAST(coalesce(n, 0) AS DOUBLE) AS y FROM
         |  (SELECT unnest(range(mn, mx + 1)) AS day FROM bd) s
         |  LEFT JOIN daily USING (day)),
         |ma AS (SELECT day, y,
         |  CASE WHEN count(*) OVER w7 = 7 THEN $wsum / 7.0 END AS t
         |  FROM sp WINDOW w7 AS (ORDER BY day ASC
         |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |dt AS (SELECT day, y, t, y - t AS d, day % 7 AS dow
         |  FROM ma WHERE t IS NOT NULL),
         |dm AS (SELECT dow, ${dsumSql("d")} / CAST(count(*) AS DOUBLE) AS s0
         |  FROM dt GROUP BY dow),
         |sb AS (SELECT ${dsumSql("s0")} / CAST(count(*) AS DOUBLE) AS sbar
         |  FROM dm),
         |cp AS (SELECT y, d, s0 - sbar AS sv, d - (s0 - sbar) AS r
         |  FROM dt JOIN dm USING (dow) CROSS JOIN sb),
         |ag AS (SELECT count(*) AS n_days,
         |  ${varSql("r")} AS vr,
         |  ${varSql("y - sv")} AS vts,
         |  ${varSql("sv + r")} AS vsr FROM cp)
         |SELECT n_days,
         |  ${femitSql("greatest(0.0, 1.0 - vr / vts)")} AS f_trend,
         |  ${femitSql("greatest(0.0, 1.0 - vr / vsr)")} AS f_seasonal,
         |  ${femitSql("vr")} AS var_remainder
         |FROM ag""".stripMargin
    },
    // Same keyed last-order window, same bounded-basket minSup-2 co
    // table, same integer candidate scores with partkey tiebreaks,
    // same left-anti seen filter and hit/recall algebra.
    "q390_recsys_eval" ->
      s"""WITH oi0 AS (SELECT o_orderkey AS ok, o_custkey AS cust,
         |  row_number() OVER (PARTITION BY o_custkey
         |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
         |  count(*) OVER (PARTITION BY o_custkey) AS n_orders FROM orders),
         |oi AS (SELECT ok, cust, rn FROM oi0 WHERE n_orders >= 2),
         |li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |j AS (SELECT oi.cust, oi.ok, oi.rn, li.pk FROM oi JOIN li USING (ok)),
         |test AS (SELECT DISTINCT cust, pk FROM j WHERE rn = 1),
         |train AS (SELECT cust, ok, pk FROM j WHERE rn <> 1),
         |bk AS (SELECT ok, pk FROM (SELECT ok, pk,
         |  count(*) OVER (PARTITION BY ok) AS bsize FROM train) z
         |  WHERE bsize <= 64),
         |co0 AS (SELECT a.pk AS a, b.pk AS b, count(*) AS cnt
         |  FROM bk a JOIN bk b ON a.ok = b.ok AND a.pk <> b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |co AS (SELECT a, b, cnt FROM (SELECT a, b, cnt,
         |  row_number() OVER (PARTITION BY a
         |    ORDER BY cnt DESC, b ASC) AS nr FROM co0) w
         |  WHERE nr <= 50),
         |ui AS (SELECT DISTINCT cust, pk FROM train),
         |rc0 AS (SELECT ui.cust, co.b AS rec, CAST(sum(cnt) AS BIGINT)
         |  AS score FROM ui JOIN co ON ui.pk = co.a GROUP BY 1, 2),
         |rc1 AS (SELECT rc0.cust, rc0.rec, rc0.score FROM rc0
         |  LEFT JOIN ui ON ui.cust = rc0.cust AND ui.pk = rc0.rec
         |  WHERE ui.pk IS NULL),
         |rc AS (SELECT cust, rec FROM (SELECT cust, rec,
         |  row_number() OVER (PARTITION BY cust
         |    ORDER BY score DESC, rec ASC) AS rk FROM rc1) y
         |  WHERE rk <= 10),
         |hit AS (SELECT rc.cust, count(*) AS n_hits FROM rc
         |  JOIN test ON test.cust = rc.cust AND test.pk = rc.rec
         |  GROUP BY rc.cust),
         |pu AS (SELECT cust, count(*) AS n_test FROM test GROUP BY cust),
         |pv AS (SELECT pu.cust, pu.n_test, coalesce(h.n_hits, 0) AS n_hits
         |  FROM pu LEFT JOIN hit h USING (cust)),
         |a AS (SELECT count(*) AS n_users_eval,
         |  CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_users_hit,
         |  ${dsumSql("CAST(n_hits AS DOUBLE) / CAST(n_test AS DOUBLE)")}
         |    AS sum_recall FROM pv)
         |SELECT n_users_eval, n_users_hit, CAST(10 AS BIGINT) AS k,
         |  ${femitSql("CAST(n_users_hit AS DOUBLE) / CAST(n_users_eval AS DOUBLE)")}
         |    AS hit_rate,
         |  ${femitSql("sum_recall / CAST(n_users_eval AS DOUBLE)")}
         |    AS mean_recall
         |FROM a""".stripMargin,
    // q387's exact component chain carried to day grain, the same
    // variance combine, one z division, the same |z| >= 2 cut.
    "q391_stl_anomalies" -> {
      val wsum = "CAST(CAST(sum(CAST(CAST(y AS VARCHAR) AS DECIMAL(38,12)))" +
        " OVER w7 AS VARCHAR) AS DOUBLE)"
      s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |  count(*) AS n FROM events GROUP BY 1),
         |bd AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
         |sp AS (SELECT day, CAST(coalesce(n, 0) AS DOUBLE) AS y FROM
         |  (SELECT unnest(range(mn, mx + 1)) AS day FROM bd) s
         |  LEFT JOIN daily USING (day)),
         |ma AS (SELECT day, y,
         |  CASE WHEN count(*) OVER w7 = 7 THEN $wsum / 7.0 END AS t
         |  FROM sp WINDOW w7 AS (ORDER BY day ASC
         |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |dt AS (SELECT day, y, t, y - t AS d, day % 7 AS dow
         |  FROM ma WHERE t IS NOT NULL),
         |dm AS (SELECT dow, ${dsumSql("d")} / CAST(count(*) AS DOUBLE) AS s0
         |  FROM dt GROUP BY dow),
         |sb AS (SELECT ${dsumSql("s0")} / CAST(count(*) AS DOUBLE) AS sbar
         |  FROM dm),
         |cp AS (SELECT day, y, t, s0 - sbar AS sv, d - (s0 - sbar) AS r
         |  FROM dt JOIN dm USING (dow) CROSS JOIN sb),
         |vv AS (SELECT (${dsumSql("r * r")} - ${dsumSql("r")} * ${dsumSql("r")}
         |  / CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE) AS vr
         |  FROM cp),
         |sc AS (SELECT day, y, t, sv, r, r / sqrt(vr) AS z,
         |  ${femitSql("abs(r / sqrt(vr))")} AS az FROM cp CROSS JOIN vv),
         |rk AS (SELECT *, row_number() OVER (
         |  ORDER BY az DESC, day ASC) AS rk FROM sc)
         |SELECT CAST(rk AS BIGINT) AS rk, day, CAST(y AS BIGINT) AS n_events,
         |  ${femitSql("t")} AS trend, ${femitSql("sv")} AS seasonal,
         |  ${femitSql("r")} AS remainder, ${femitSql("z")} AS z,
         |  az >= 2.0 AS anomalous
         |FROM rk WHERE rk <= 5 ORDER BY rk""".stripMargin
    },
    // Same first-purchase coalition masks over the declared 4-channel
    // universe, same exact-coalition characteristic function with
    // v=0 for unobserved sets, same factorial weights as the literal
    // IEEE divisions m!(k-1-m)!/k!.
    "q381_shapley_attribution" ->
      s"""WITH ev AS (SELECT user_id, event_id, ts, event_type FROM events),
         |sq AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |  ORDER BY ts ASC, event_id ASC) AS rn FROM ev),
         |fp AS (SELECT user_id, min(rn) AS prn FROM sq
         |  WHERE event_type = 'purchase' GROUP BY user_id),
         |cb(ch, bit) AS (VALUES ('click', 0), ('error', 1),
         |  ('signup', 2), ('view', 3)),
         |tch AS (SELECT DISTINCT user_id, event_type AS ch
         |  FROM sq LEFT JOIN fp USING (user_id)
         |  WHERE event_type IN ('click', 'error', 'signup', 'view')
         |    AND (prn IS NULL OR rn < prn)),
         |mk AS (SELECT user_id, CAST(sum(1 << bit) AS BIGINT) AS mask
         |  FROM tch JOIN cb USING (ch) GROUP BY user_id),
         |us AS (SELECT coalesce(mask, 0) AS mask,
         |  CASE WHEN prn IS NOT NULL THEN 1 ELSE 0 END AS conv
         |  FROM (SELECT DISTINCT user_id FROM ev) u
         |  LEFT JOIN mk USING (user_id) LEFT JOIN fp USING (user_id)),
         |vt AS (SELECT mask, count(*) AS n,
         |  CAST(sum(conv) AS BIGINT) AS nc FROM us GROUP BY mask),
         |vs AS (SELECT smask, CASE WHEN n IS NULL THEN 0.0
         |  ELSE CAST(nc AS DOUBLE) / CAST(n AS DOUBLE) END AS v
         |  FROM (SELECT unnest(range(16)) AS smask) sm
         |  LEFT JOIN vt ON smask = mask),
         |wg(m, wgt) AS (VALUES (0, 1.0 * 6.0 / 24.0), (1, 1.0 * 2.0 / 24.0),
         |  (2, 2.0 * 1.0 / 24.0), (3, 6.0 * 1.0 / 24.0)),
         |tm AS (SELECT ch, wgt * (v2.v - v1.v) AS term
         |  FROM cb JOIN vs v1 ON (v1.smask >> bit) % 2 = 0
         |  JOIN vs v2 ON v2.smask = v1.smask + (1 << bit)
         |  JOIN wg ON m = bit_count(v1.smask)),
         |ph AS (SELECT ch, ${dsumSql("term")} AS phi FROM tm GROUP BY ch),
         |tc AS (SELECT ch, count(*) AS n_users_touched FROM tch GROUP BY ch)
         |SELECT ph.ch, coalesce(n_users_touched, 0) AS n_users_touched,
         |  ${femitSql("phi")} AS shapley
         |FROM ph LEFT JOIN tc USING (ch) ORDER BY ch""".stripMargin,
    // Same empirical game (coalition masks + vt), the SAME 200
    // fnv-derandomized permutation draws (fnv1a32('perm:p:ch') order
    // with the channel tiebreak), prefix-mask window, two mask
    // lookups, dsum mean and the 5/196 order-statistic CI.
    "q393_shapley_sampled" ->
      s"""WITH ev AS (SELECT user_id, event_id, ts, event_type FROM events),
         |sq AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |  ORDER BY ts ASC, event_id ASC) AS rn FROM ev),
         |fp AS (SELECT user_id, min(rn) AS prn FROM sq
         |  WHERE event_type = 'purchase' GROUP BY user_id),
         |cb(ch, bit) AS (VALUES ('click', 0), ('error', 1),
         |  ('signup', 2), ('view', 3)),
         |tch AS (SELECT DISTINCT user_id, event_type AS ch
         |  FROM sq LEFT JOIN fp USING (user_id)
         |  WHERE event_type IN ('click', 'error', 'signup', 'view')
         |    AND (prn IS NULL OR rn < prn)),
         |mk AS (SELECT user_id, CAST(sum(1 << bit) AS BIGINT) AS mask
         |  FROM tch JOIN cb USING (ch) GROUP BY user_id),
         |us AS (SELECT coalesce(mask, 0) AS mask,
         |  CASE WHEN prn IS NOT NULL THEN 1 ELSE 0 END AS conv
         |  FROM (SELECT DISTINCT user_id FROM ev) u
         |  LEFT JOIN mk USING (user_id) LEFT JOIN fp USING (user_id)),
         |vt AS (SELECT mask, count(*) AS n,
         |  CAST(sum(conv) AS BIGINT) AS nc FROM us GROUP BY mask),
         |pm AS (SELECT p, ch, bit, ${graft.llm.Queries.fnvSql(
        "('perm:' || CAST(p AS VARCHAR) || ':' || ch)")} AS key
         |  FROM (SELECT unnest(range(200)) AS p) ps CROSS JOIN cb),
         |po AS (SELECT p, ch, bit, row_number() OVER (
         |  PARTITION BY p ORDER BY key ASC, ch ASC) AS pos FROM pm),
         |pf AS (SELECT p, ch, bit,
         |  coalesce(CAST(sum(CAST(1 AS BIGINT) << bit) OVER (
         |    PARTITION BY p ORDER BY pos ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |    0) AS smask FROM po),
         |mg AS (SELECT p, ch,
         |  coalesce(CAST(v2.nc AS DOUBLE) / CAST(v2.n AS DOUBLE), 0.0)
         |  - coalesce(CAST(v1.nc AS DOUBLE) / CAST(v1.n AS DOUBLE), 0.0) AS m
         |  FROM pf LEFT JOIN vt v1 ON v1.mask = pf.smask
         |  LEFT JOIN vt v2 ON v2.mask = pf.smask + (CAST(1 AS BIGINT) << bit)),
         |rk AS (SELECT ch, p, m, row_number() OVER (
         |  PARTITION BY ch ORDER BY m ASC, p ASC) AS r FROM mg),
         |ag AS (SELECT ch, ${dsumSql("m")} AS sm,
         |  min(CASE WHEN r = 5 THEN m END) AS lo,
         |  min(CASE WHEN r = 196 THEN m END) AS hi FROM rk GROUP BY ch)
         |SELECT ch, CAST(200 AS BIGINT) AS n_perms,
         |  ${femitSql("sm / 200.0")} AS shapley,
         |  ${femitSql("lo")} AS ci_lo, ${femitSql("hi")} AS ci_hi
         |FROM ag ORDER BY ch""".stripMargin,
    // Same q191 lifetime/censoring rules with q377's first-event-click
    // grouping, same day-grain suffix at-risk counts, same
    // hypergeometric E/V chains through dsum.
    "q394_logrank" ->
      s"""WITH r AS (SELECT user_id, event_id, event_type, ts,
         |  row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts ASC, event_id ASC) AS rn FROM events),
         |pu AS (SELECT user_id,
         |  max(CASE WHEN rn = 1 AND event_type = 'click'
         |    THEN 1 ELSE 0 END) AS g,
         |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
         |  FROM r GROUP BY user_id),
         |hz AS (SELECT max(last_us) AS h FROM pu),
         |lf AS (SELECT g, (last_us - first_us) // 86400000000 AS day,
         |  (h - last_us) < 172800000000 AS censored
         |  FROM pu CROSS JOIN hz),
         |cl AS (SELECT day,
         |  CAST(sum(CASE WHEN NOT censored AND g = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS d1,
         |  CAST(sum(CASE WHEN NOT censored AND g = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS d0,
         |  CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
         |  CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0
         |  FROM lf GROUP BY day),
         |tt AS (SELECT CAST(sum(t1) AS BIGINT) AS tot1,
         |  CAST(sum(t0) AS BIGINT) AS tot0 FROM cl),
         |rk AS (SELECT day, d1, d0,
         |  tot1 - coalesce(CAST(sum(t1) OVER (ORDER BY day ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    AS BIGINT), 0) AS n1,
         |  tot0 - coalesce(CAST(sum(t0) OVER (ORDER BY day ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    AS BIGINT), 0) AS n0
         |  FROM cl CROSS JOIN tt),
         |ev2 AS (SELECT d1, d0, n1, n0, d1 + d0 AS dj, n1 + n0 AS nj
         |  FROM rk WHERE d1 + d0 > 0),
         |ag AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
         |  CAST(sum(d0) AS BIGINT) AS o0,
         |  ${dsumSql("CAST(dj AS DOUBLE) * CAST(n1 AS DOUBLE)" +
        " / CAST(nj AS DOUBLE)")} AS e1,
         |  ${dsumSql("""CASE WHEN nj > 1 THEN CAST(dj AS DOUBLE)
           |    * (CAST(n1 AS DOUBLE) / CAST(nj AS DOUBLE))
           |    * (CAST(n0 AS DOUBLE) / CAST(nj AS DOUBLE))
           |    * CAST(nj - dj AS DOUBLE) / CAST(nj - 1 AS DOUBLE)
           |    ELSE 0.0 END""".stripMargin)} AS v
         |  FROM ev2)
         |SELECT tot1 AS n_g1, tot0 AS n_g0, o1, o0,
         |  ${femitSql("e1")} AS e1, ${femitSql("v")} AS var_lr,
         |  ${femitSql("(CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1)" +
        " / nullif(v, 0.0)")} AS chi2
         |FROM ag CROSS JOIN tt""".stripMargin,
    // Same user-grain features and q382 logistic chain, each variant's
    // AUC through the single-window Mann-Whitney the two-phase engine
    // form must reproduce, ablation means via dsum.
    "q395_feature_ablation" ->
      s"""WITH e AS (SELECT user_id, event_type, value FROM events
         |  WHERE value IS NOT NULL),
         |per AS (SELECT user_id,
         |  CASE WHEN sum(CASE WHEN event_type = 'purchase'
         |    THEN 1 ELSE 0 END) * 4 >= count(*) THEN 1 ELSE 0 END AS pos,
         |  count(*) AS n_events, ${dsumSql("value")} AS sv
         |  FROM e GROUP BY user_id),
         |fx AS (SELECT pos, ln(CAST(n_events AS DOUBLE)) AS x1,
         |  sv / CAST(n_events AS DOUBLE) / 100.0 AS x2 FROM per),
         |mn AS (SELECT ${dsumSql("x1")} / CAST(count(*) AS DOUBLE) AS m1,
         |  ${dsumSql("x2")} / CAST(count(*) AS DOUBLE) AS m2 FROM fx),
         |sc AS (SELECT 'none' AS feature,
         |    1.0 / (1.0 + exp(-(0.1 + 0.2 * x1 - 0.3 * x2))) AS score, pos
         |  FROM fx
         |  UNION ALL SELECT 'x1',
         |    1.0 / (1.0 + exp(-(0.1 + 0.2 * m1 - 0.3 * x2))), pos
         |  FROM fx CROSS JOIN mn
         |  UNION ALL SELECT 'x2',
         |    1.0 / (1.0 + exp(-(0.1 + 0.2 * x1 - 0.3 * m2))), pos
         |  FROM fx CROSS JOIN mn),
         |g AS (SELECT feature, score, count(*) AS cnt,
         |  CAST(sum(pos) AS BIGINT) AS poscnt FROM sc GROUP BY feature, score),
         |r2 AS (SELECT feature, score, cnt, poscnt,
         |  coalesce(sum(cnt) OVER (PARTITION BY feature ORDER BY score ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM g),
         |a2 AS (SELECT feature, CAST(sum(poscnt) AS BIGINT) AS n_pos,
         |  CAST(sum(cnt - poscnt) AS BIGINT) AS n_neg,
         |  ${dsumSql("CAST(poscnt AS DOUBLE) * (CAST(cb AS DOUBLE)" +
        " + CAST(cnt + 1 AS DOUBLE) / 2.0)")} AS rpos
         |  FROM r2 GROUP BY feature),
         |au AS (SELECT feature, n_pos, n_neg,
         |  (rpos - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE) / 2.0)
         |    / nullif(CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE), 0.0)
         |    AS auc0
         |  FROM a2),
         |fu AS (SELECT auc0 AS auc_full FROM au WHERE feature = 'none')
         |SELECT feature, n_pos, n_neg, ${femitSql("auc0")} AS auc,
         |  ${femitSql("auc_full - auc0")} AS auc_drop
         |FROM au CROSS JOIN fu ORDER BY feature""".stripMargin,
    // q377's per-user reduce and propensity verbatim, stratified arm
    // means with the global-arm-mean fallback, the same AIPW chain.
    "q396_aipw_dr" ->
      s"""WITH e AS (SELECT user_id, event_id, ts, event_type, value
         |  FROM events WHERE value IS NOT NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |  ORDER BY ts ASC, event_id ASC) AS rn FROM e),
         |per AS (SELECT user_id,
         |  max(CASE WHEN rn = 1 AND event_type = 'click'
         |    THEN 1 ELSE 0 END) AS t,
         |  count(*) AS n_events,
         |  ${dsumSql("value")} AS sv,
         |  ${dsumSql("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END")} AS y
         |  FROM r GROUP BY user_id),
         |fx AS (SELECT t, y, ln(CAST(n_events AS DOUBLE)) AS x1,
         |  sv / CAST(n_events AS DOUBLE) / 100.0 AS x2,
         |  least(n_events, 8) AS stratum FROM per),
         |cm AS (SELECT stratum,
         |  CASE WHEN sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) > 0
         |    THEN ${dsumSql("CASE WHEN t = 1 THEN y END")}
         |      / CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    END AS m1,
         |  CASE WHEN sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) > 0
         |    THEN ${dsumSql("CASE WHEN t = 0 THEN y END")}
         |      / CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    END AS m0
         |  FROM fx GROUP BY stratum),
         |gl AS (SELECT ${dsumSql("CASE WHEN t = 1 THEN y END")}
         |    / CAST(sum(t) AS DOUBLE) AS g1,
         |  ${dsumSql("CASE WHEN t = 0 THEN y END")}
         |    / CAST(sum(1 - t) AS DOUBLE) AS g0 FROM fx),
         |sc AS (SELECT t, y, coalesce(m1, g1) AS mm1,
         |  coalesce(m0, g0) AS mm0,
         |  least(greatest(1.0 / (1.0 + exp(-(-0.2 + 0.3 * x1 + 0.1 * x2))),
         |    0.05), 0.95) AS ee
         |  FROM fx JOIN cm USING (stratum) CROSS JOIN gl),
         |dr AS (SELECT t, mm1, mm0,
         |  mm1 - mm0 + CAST(t AS DOUBLE) * (y - mm1) / ee
         |    - (1.0 - CAST(t AS DOUBLE)) * (y - mm0) / (1.0 - ee) AS dr
         |  FROM sc),
         |ag AS (SELECT count(*) AS n_users,
         |  CAST(sum(t) AS BIGINT) AS n_treated,
         |  ${dsumSql("mm1 - mm0")} AS sreg, ${dsumSql("dr")} AS sdr FROM dr)
         |SELECT n_users, n_treated,
         |  ${femitSql("sreg / CAST(n_users AS DOUBLE)")} AS ate_reg,
         |  ${femitSql("sdr / CAST(n_users AS DOUBLE)")} AS ate_dr
         |FROM ag""".stripMargin,
    // q377's exact panel (filter → keyed window → user-grain agg →
    // fixed clipped logistic), then blocked 1-NN-with-replacement
    // matching: controls replicated into the 3 caliper-wide cells,
    // argmin on the 1e-6-grid |Δe| with control-id tiebreak.
    "q403_psm_att" ->
      s"""WITH $causalPanelCtes,
         |tr AS (SELECT user_id AS tu, e AS te, y AS ty, x1 AS tx1,
         |  CAST(floor(e / 0.05) AS BIGINT) AS cell FROM pe WHERE t = 1),
         |co AS (SELECT user_id AS cu, e AS ce, y AS cy, x1 AS cx1,
         |  CAST(floor(e / 0.05) AS BIGINT) + d.d AS cell
         |  FROM pe CROSS JOIN (VALUES (-1), (0), (1)) d(d) WHERE t = 0),
         |cand AS (SELECT tu, cu, ty, cy, tx1, cx1, abs(te - ce) AS de
         |  FROM tr JOIN co USING (cell) WHERE abs(te - ce) <= 0.05),
         |best AS (SELECT *, row_number() OVER (PARTITION BY tu
         |  ORDER BY CAST(floor(de * 1000000.0 + 0.5) AS BIGINT) ASC,
         |    cu ASC) AS rnk FROM cand),
         |m AS (SELECT count(*) AS n_matched,
         |  ${dsumSql("ty - cy")} AS sdy, ${dsumSql("de")} AS sde,
         |  ${dsumSql("tx1 - cx1")} AS sdx1 FROM best WHERE rnk = 1),
         |tot AS (SELECT CAST(sum(t) AS BIGINT) AS n_treated,
         |  CAST(sum(1 - t) AS BIGINT) AS n_controls FROM pe)
         |SELECT n_treated, n_controls, n_matched,
         |  ${femitSql("CAST(n_matched AS DOUBLE) / CAST(n_treated AS DOUBLE)")}
         |    AS match_rate,
         |  ${femitSql("sdy / CAST(n_matched AS DOUBLE)")} AS att,
         |  ${femitSql("sde / CAST(n_matched AS DOUBLE)")} AS mean_abs_de,
         |  ${femitSql("sdx1 / CAST(n_matched AS DOUBLE)")} AS x1_gap_matched
         |FROM m CROSS JOIN tot""".stripMargin,
    // Same panel; instrument = integer-µs early-cohort comparison
    // 2·first_us ≤ min+max; Wald = ITT / first stage.
    "q404_wald_iv" ->
      s"""WITH $causalPanelCtes,
         |sp AS (SELECT min(first_us) + max(first_us) AS mnmx FROM pe),
         |zz AS (SELECT t, y, CASE WHEN first_us * 2 <= mnmx
         |  THEN 1 ELSE 0 END AS z FROM pe CROSS JOIN sp),
         |ag AS (SELECT count(*) AS n_users,
         |  CAST(sum(z) AS BIGINT) AS n_z1,
         |  CAST(sum(CASE WHEN z = 1 THEN t END) AS BIGINT) AS t1,
         |  CAST(sum(CASE WHEN z = 0 THEN t END) AS BIGINT) AS t0,
         |  ${dsumSql("CASE WHEN z = 1 THEN y END")} AS sy1,
         |  ${dsumSql("CASE WHEN z = 0 THEN y END")} AS sy0,
         |  CAST(sum(t) AS BIGINT) AS nt,
         |  ${dsumSql("CASE WHEN t = 1 THEN y END")} AS syt,
         |  ${dsumSql("CASE WHEN t = 0 THEN y END")} AS syc FROM zz),
         |fx AS (SELECT *,
         |  CAST(t1 AS DOUBLE) / CAST(n_z1 AS DOUBLE)
         |    - CAST(t0 AS DOUBLE) / CAST(n_users - n_z1 AS DOUBLE) AS fs,
         |  sy1 / CAST(n_z1 AS DOUBLE)
         |    - sy0 / CAST(n_users - n_z1 AS DOUBLE) AS itt FROM ag)
         |SELECT n_users, n_z1,
         |  ${femitSql("fs")} AS first_stage,
         |  ${femitSql("itt")} AS itt,
         |  ${femitSql("itt / nullif(fs, 0.0)")} AS late_wald,
         |  ${femitSql("syt / CAST(nt AS DOUBLE)" +
        " - syc / CAST(n_users - nt AS DOUBLE)")} AS ate_naive
         |FROM fx""".stripMargin,
    // Same panel; u = x2 − 0.5 (cutoff and bandwidth are exact binary
    // doubles), closed-form per-side OLS, effect = intercept jump.
    "q405_rdd_sharp" ->
      s"""WITH $causalPanelCtes,
         |ux AS (SELECT y, x2 - 0.5 AS u FROM pe),
         |ag AS (SELECT
         |  CAST(sum(CASE WHEN u >= -0.125 AND u < 0.0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_l,
         |  ${dsumSql("CASE WHEN u >= -0.125 AND u < 0.0 THEN u END")} AS su_l,
         |  ${dsumSql("CASE WHEN u >= -0.125 AND u < 0.0 THEN u * u END")} AS suu_l,
         |  ${dsumSql("CASE WHEN u >= -0.125 AND u < 0.0 THEN y END")} AS sy_l,
         |  ${dsumSql("CASE WHEN u >= -0.125 AND u < 0.0 THEN u * y END")} AS suy_l,
         |  CAST(sum(CASE WHEN u >= 0.0 AND u <= 0.125 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_r,
         |  ${dsumSql("CASE WHEN u >= 0.0 AND u <= 0.125 THEN u END")} AS su_r,
         |  ${dsumSql("CASE WHEN u >= 0.0 AND u <= 0.125 THEN u * u END")} AS suu_r,
         |  ${dsumSql("CASE WHEN u >= 0.0 AND u <= 0.125 THEN y END")} AS sy_r,
         |  ${dsumSql("CASE WHEN u >= 0.0 AND u <= 0.125 THEN u * y END")} AS suy_r
         |  FROM ux),
         |bs AS (SELECT *,
         |  (CAST(n_l AS DOUBLE) * suy_l - su_l * sy_l)
         |    / nullif(CAST(n_l AS DOUBLE) * suu_l - su_l * su_l, 0.0) AS b_l,
         |  (CAST(n_r AS DOUBLE) * suy_r - su_r * sy_r)
         |    / nullif(CAST(n_r AS DOUBLE) * suu_r - su_r * su_r, 0.0) AS b_r
         |  FROM ag),
         |fin AS (SELECT *,
         |  (sy_l - b_l * su_l) / CAST(n_l AS DOUBLE) AS a_l,
         |  (sy_r - b_r * su_r) / CAST(n_r AS DOUBLE) AS a_r FROM bs)
         |SELECT n_l AS n_left, n_r AS n_right,
         |  ${femitSql("a_l")} AS intercept_left,
         |  ${femitSql("a_r")} AS intercept_right,
         |  ${femitSql("b_l")} AS slope_left,
         |  ${femitSql("b_r")} AS slope_right,
         |  ${femitSql("a_r - a_l")} AS rdd_effect
         |FROM fin""".stripMargin,
    // Same spine/dev/den chain as q194/q408, cumulative Q via the
    // decimal-per-term window route, n(n+2) exact integer.
    "q422_ljung_box" ->
      s"""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |  count(*) AS n FROM events GROUP BY 1),
         |b AS (SELECT s.day, coalesce(d.n, 0) AS x FROM
         |  (SELECT unnest(generate_series((SELECT min(day) FROM d),
         |    (SELECT max(day) FROM d))) AS day) s
         |  LEFT JOIN d USING (day)),
         |m AS (SELECT CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |  AS mean, count(*) AS n FROM b),
         |v AS (SELECT day, CAST(x AS DOUBLE) - mean AS dev, n
         |  FROM b CROSS JOIN m),
         |den AS (SELECT ${dsumSql("dev * dev")} AS den,
         |  max(n) AS n FROM v),
         |l AS (SELECT unnest(generate_series(1, 7)) AS lag),
         |ac AS (SELECT l.lag, den.n,
         |  ${dsumSql("a.dev * b2.dev")} / den.den AS r
         |  FROM v a CROSS JOIN l JOIN v b2 ON b2.day = a.day + l.lag
         |  CROSS JOIN den GROUP BY l.lag, den.n, den.den),
         |t AS (SELECT lag, n, r,
         |  r * r / CAST(n - lag AS DOUBLE) AS term FROM ac),
         |c AS (SELECT lag, r, n,
         |  CAST(CAST(SUM(CAST(CAST(term AS VARCHAR) AS DECIMAL(38,12)))
         |    OVER (ORDER BY lag ASC ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS cum FROM t)
         |SELECT lag, ${femitSql("r")} AS acf,
         |  ${femitSql("CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * cum")}
         |    AS q_stat
         |FROM c ORDER BY lag""".stripMargin,
    // Same above-mean coding, same day-grain lag boundary count, same
    // exact run-moment chains.
    "q423_runs_test" ->
      s"""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |  count(*) AS n FROM events GROUP BY 1),
         |b AS (SELECT s.day, coalesce(d.n, 0) AS x FROM
         |  (SELECT unnest(generate_series((SELECT min(day) FROM d),
         |    (SELECT max(day) FROM d))) AS day) s
         |  LEFT JOIN d USING (day)),
         |m AS (SELECT CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |  AS mean FROM b),
         |sg AS (SELECT day, CASE WHEN CAST(x AS DOUBLE) > mean
         |  THEN 1 ELSE 0 END AS sgn FROM b CROSS JOIN m),
         |rn AS (SELECT sgn, CASE WHEN lag(sgn) OVER (ORDER BY day ASC)
         |  IS NULL OR lag(sgn) OVER (ORDER BY day ASC) <> sgn
         |  THEN 1 ELSE 0 END AS brk FROM sg),
         |ag AS (SELECT CAST(sum(brk) AS BIGINT) AS r,
         |  CAST(sum(sgn) AS BIGINT) AS n1,
         |  CAST(sum(1 - sgn) AS BIGINT) AS n0 FROM rn),
         |f0 AS (SELECT *, n1 + n0 AS n FROM ag),
         |fx AS (SELECT *,
         |  2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
         |    / CAST(n AS DOUBLE) + 1.0 AS er,
         |  2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
         |    * (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
         |      - CAST(n AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
         |      * (CAST(n AS DOUBLE) - 1.0)) AS vr FROM f0)
         |SELECT n, n1, n0, r AS n_runs,
         |  ${femitSql("er")} AS expected_runs,
         |  ${femitSql("vr")} AS var_runs,
         |  ${femitSql("(CAST(r AS DOUBLE) - er) / sqrt(nullif(vr, 0.0))")}
         |    AS z
         |FROM fx""".stripMargin,
    // q394's risk cells kept at day grain; cumulative hazard via the
    // decimal-per-term window route; Breslow survivor exp(-H).
    "q425_nelson_aalen" -> {
      val survCtes =
        s"""r AS (SELECT user_id, event_id, event_type, ts,
           |  row_number() OVER (PARTITION BY user_id
           |    ORDER BY ts ASC, event_id ASC) AS rn FROM events),
           |pu AS (SELECT user_id,
           |  max(CASE WHEN rn = 1 AND event_type = 'click'
           |    THEN 1 ELSE 0 END) AS g,
           |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
           |  FROM r GROUP BY user_id),
           |hz AS (SELECT max(last_us) AS h FROM pu),
           |lf AS (SELECT g, (last_us - first_us) // 86400000000 AS day,
           |  (h - last_us) < 172800000000 AS censored
           |  FROM pu CROSS JOIN hz),
           |cl AS (SELECT day,
           |  CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)
           |    AS BIGINT) AS dj,
           |  CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
           |  CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0
           |  FROM lf GROUP BY day),
           |tt AS (SELECT CAST(sum(t1) AS BIGINT) AS tot1,
           |  CAST(sum(t0) AS BIGINT) AS tot0 FROM cl),
           |rk AS (SELECT day, dj,
           |  (tot1 + tot0) - coalesce(CAST(sum(t1 + t0) OVER (
           |    ORDER BY day ASC ROWS BETWEEN UNBOUNDED PRECEDING
           |    AND 1 PRECEDING) AS BIGINT), 0) AS nj
           |  FROM cl CROSS JOIN tt),
           |ev3 AS (SELECT day, dj, nj FROM rk WHERE dj > 0)""".stripMargin
      s"""WITH $survCtes,
         |na AS (SELECT day, dj, nj,
         |  CAST(dj AS DOUBLE) / CAST(nj AS DOUBLE) AS dh FROM ev3),
         |cm AS (SELECT day, dj, nj, dh,
         |  CAST(CAST(SUM(CAST(CAST(dh AS VARCHAR) AS DECIMAL(38,12)))
         |    OVER (ORDER BY day ASC ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS h FROM na)
         |SELECT day, dj AS n_deaths, nj AS n_at_risk,
         |  ${femitSql("dh")} AS hazard_increment,
         |  ${femitSql("h")} AS cum_hazard,
         |  ${femitSql("exp(-h)")} AS breslow_survival
         |FROM cm ORDER BY day""".stripMargin
    },
    // Same score-grain reduction and 8 fixed Newton steps on the
    // 2-parameter logistic (the coxPh fixed-trajectory discipline),
    // same 2x2 closed-form solve and +-20 clamp.
    "q420_platt_scaling" -> {
      val steps = (1 to 8).map { k =>
        val prev = if (k == 1) "b0" else s"b${k - 1}"
        s""",
           |y$k AS (SELECT ps.*, bb.a, bb.b,
           |  1.0 / (1.0 + exp(-(bb.a * sc + bb.b))) AS p
           |  FROM ps CROSS JOIN $prev bb),
           |g$k AS (SELECT a, b,
           |  ${dsumSql("(CAST(cnt AS DOUBLE) * p - CAST(poscnt AS DOUBLE)) * sc")} AS ga,
           |  ${dsumSql("CAST(cnt AS DOUBLE) * p - CAST(poscnt AS DOUBLE)")} AS gb,
           |  ${dsumSql("CAST(cnt AS DOUBLE) * p * (1.0 - p) * sc * sc")} AS haa,
           |  ${dsumSql("CAST(cnt AS DOUBLE) * p * (1.0 - p) * sc")} AS hab,
           |  ${dsumSql("CAST(cnt AS DOUBLE) * p * (1.0 - p)")} AS hbb
           |  FROM y$k GROUP BY a, b),
           |b$k AS (SELECT
           |  greatest(least(a - (hbb * ga - hab * gb)
           |    / nullif(haa * hbb - hab * hab, 0.0), 20.0), -20.0) AS a,
           |  greatest(least(b - (haa * gb - hab * ga)
           |    / nullif(haa * hbb - hab * hab, 0.0), 20.0), -20.0) AS b
           |  FROM g$k)""".stripMargin
      }.mkString
      s"""WITH ps AS (SELECT value / 100.0 AS sc, count(*) AS cnt,
         |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS poscnt
         |  FROM events WHERE value IS NOT NULL GROUP BY 1),
         |b0 AS (SELECT 0.0 AS a, 0.0 AS b)$steps,
         |fin AS (SELECT ps.*, bb.a, bb.b,
         |  least(greatest(1.0 / (1.0 + exp(-(bb.a * sc + bb.b))),
         |    1e-15), 1.0 - 1e-15) AS p
         |  FROM ps CROSS JOIN b8 bb),
         |ag AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  CAST(sum(poscnt) AS BIGINT) AS n_pos,
         |  ${dsumSql("CAST(poscnt AS DOUBLE) * ln(p)" +
        " + CAST(cnt - poscnt AS DOUBLE) * ln(1.0 - p)")} AS ll
         |  FROM fin GROUP BY a, b)
         |SELECT n_rows, n_pos, ${femitSql("a")} AS coef_a,
         |  ${femitSql("b")} AS coef_b,
         |  ${femitSql("-ll / CAST(n_rows AS DOUBLE)")} AS avg_nll
         |FROM ag""".stripMargin
    },
    // Same micro-unit daily revenue, same (rev, day) order statistics
    // with the dyadic quarter interpolation, same tail mean.
    "q426_cvar" ->
      s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |  sum(CAST(round(value * 1000000) AS BIGINT)) AS rev
         |  FROM events WHERE value IS NOT NULL GROUP BY 1),
         |rk AS (SELECT day, rev, CAST(row_number() OVER (
         |  ORDER BY rev ASC, day ASC) AS BIGINT) AS rn FROM daily),
         |nn AS (SELECT max(rn) AS n FROM rk),
         |cut AS (SELECT max(n) AS n,
         |  max(CASE WHEN rn = (n - 1) // 4 + 1 THEN rev END) AS lo,
         |  max(CASE WHEN rn = (n - 1) // 4 + 2 THEN rev END) AS hi,
         |  max(CAST((n - 1) % 4 AS DOUBLE) / 4.0) AS frac
         |  FROM rk CROSS JOIN nn),
         |cv AS (SELECT n, CAST(lo AS DOUBLE) + frac
         |  * CAST(coalesce(hi, lo) - lo AS DOUBLE) AS var_u FROM cut),
         |tl AS (SELECT max(n) AS n_days, count(*) AS tail_days,
         |  max(var_u) AS var_u, ${dsumSql("CAST(rev AS DOUBLE)")} AS ts
         |  FROM rk CROSS JOIN cv WHERE CAST(rev AS DOUBLE) <= var_u)
         |SELECT n_days, tail_days,
         |  ${femitSql("var_u / 1000000.0")} AS var_q25,
         |  ${femitSql("ts / CAST(tail_days AS DOUBLE) / 1000000.0")}
         |    AS cvar_q25
         |FROM tl""".stripMargin,
    // Same fixed thresholds, same integer confusion census, same
    // F1/MCC/Youden chains with nullif guards.
    "q427_confusion_sweep" ->
      s"""WITH e AS (SELECT value AS score,
         |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
         |  FROM events WHERE value IS NOT NULL),
         |th AS (SELECT unnest(generate_series(1, 9)) * 25 AS threshold),
         |cm AS (SELECT threshold,
         |  CAST(sum(CASE WHEN score >= threshold AND y = 1
         |    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN score >= threshold AND y = 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN score < threshold AND y = 1
         |    THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN score < threshold AND y = 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM e CROSS JOIN th GROUP BY threshold)
         |SELECT threshold, tp, fp, fn, tn,
         |  ${femitSql("2.0 * CAST(tp AS DOUBLE)" +
        " / nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0.0)")} AS f1,
         |  ${femitSql("(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)" +
        " - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))" +
        " / nullif(sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)" +
        " * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 0.0)")}
         |    AS mcc,
         |  ${femitSql("CAST(tp AS DOUBLE)" +
        " / nullif(CAST(tp + fn AS DOUBLE), 0.0) + CAST(tn AS DOUBLE)" +
        " / nullif(CAST(tn + fp AS DOUBLE), 0.0) - 1.0")} AS youden_j
         |FROM cm ORDER BY threshold""".stripMargin,
    // q425's pooled risk cells; KM product as exp of a decimal-route
    // cumulative log sum; tau-clamped step segments; RMST = tau on
    // the all-censored fixture.
    "q428_rmst" -> {
      val survCtes =
        s"""r AS (SELECT user_id, event_id, event_type, ts,
           |  row_number() OVER (PARTITION BY user_id
           |    ORDER BY ts ASC, event_id ASC) AS rn FROM events),
           |pu AS (SELECT user_id,
           |  max(CASE WHEN rn = 1 AND event_type = 'click'
           |    THEN 1 ELSE 0 END) AS g,
           |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
           |  FROM r GROUP BY user_id),
           |hz AS (SELECT max(last_us) AS h FROM pu),
           |lf AS (SELECT g, (last_us - first_us) // 86400000000 AS day,
           |  (h - last_us) < 172800000000 AS censored
           |  FROM pu CROSS JOIN hz),
           |cl AS (SELECT day,
           |  CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)
           |    AS BIGINT) AS dj,
           |  CAST(count(*) AS BIGINT) AS tj FROM lf GROUP BY day),
           |tt AS (SELECT CAST(sum(tj) AS BIGINT) AS tot FROM cl),
           |rk AS (SELECT day, dj,
           |  tot - coalesce(CAST(sum(tj) OVER (ORDER BY day ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |    AS BIGINT), 0) AS nj
           |  FROM cl CROSS JOIN tt),
           |ev3 AS (SELECT day, dj, nj FROM rk WHERE dj > 0)""".stripMargin
      s"""WITH $survCtes,
         |sv AS (SELECT day, dj, nj,
         |  ln(1.0 - CAST(dj AS DOUBLE) / CAST(nj AS DOUBLE)) AS lnf
         |  FROM ev3),
         |cm AS (SELECT day,
         |  exp(CAST(CAST(SUM(CAST(CAST(lnf AS VARCHAR) AS DECIMAL(38,12)))
         |    OVER (ORDER BY day ASC ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND CURRENT ROW) AS VARCHAR) AS DOUBLE)) AS s,
         |  coalesce(lead(day) OVER (ORDER BY day ASC), 14) AS nxt
         |  FROM sv),
         |hd AS (SELECT min(day) AS d1, count(*) AS m FROM cm),
         |ar AS (SELECT ${dsumSql(
        "s * CAST(least(nxt, 14) - day AS DOUBLE)")} AS tail_area
         |  FROM cm WHERE day < 14)
         |SELECT CAST(14 AS BIGINT) AS tau,
         |  coalesce(m, 0) AS n_death_days,
         |  ${femitSql("CAST(least(coalesce(d1, 14), 14) AS DOUBLE)" +
        " + coalesce(tail_area, 0.0)")} AS rmst
         |FROM ar CROSS JOIN hd""".stripMargin
    },
    // q403's exact propensity cells per arm; integer censuses, the
    // min-share overlap fold over <= 18 cells.
    "q430_propensity_overlap" ->
      s"""WITH $causalPanelCtes,
         |cg AS (SELECT CAST(floor(e / 0.05) AS BIGINT) AS cell,
         |  CAST(sum(t) AS BIGINT) AS ct,
         |  CAST(sum(1 - t) AS BIGINT) AS cc FROM pe GROUP BY 1),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
         |  CAST(sum(cc) AS BIGINT) AS nc FROM cg),
         |fx AS (SELECT cell, ct, cc, nt, nc,
         |  CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE) AS st,
         |  CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE) AS sc
         |  FROM cg CROSS JOIN tot),
         |ag AS (SELECT max(nt) AS n_treated, max(nc) AS n_controls,
         |  count(*) AS n_cells,
         |  CAST(sum(CASE WHEN ct > 0 AND cc > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_common_cells,
         |  ${dsumSql("least(st, sc)")} AS ovl,
         |  CAST(sum(CASE WHEN ct > 0 AND cc > 0 THEN ct + cc
         |    ELSE 0 END) AS BIGINT) AS in_support FROM fx)
         |SELECT n_treated, n_controls, n_cells, n_common_cells,
         |  ${femitSql("ovl")} AS overlap_coef,
         |  ${femitSql("CAST(in_support AS DOUBLE)" +
        " / CAST(n_treated + n_controls AS DOUBLE)")}
         |    AS common_support_share
         |FROM ag""".stripMargin,
    // q153's transition table, 8 fixed power-iteration rounds from
    // uniform (the coxPh replayed-trajectory discipline), then the
    // pi-weighted row-entropy fold.
    "q431_entropy_rate" -> {
      val transCtes =
        s"""pr AS (SELECT user_id, event_id, epoch_us(ts) AS us,
           |  event_type FROM events),
           |nx AS (SELECT event_type, lead(event_type) OVER (
           |  PARTITION BY user_id ORDER BY us, event_id) AS next_type
           |  FROM pr),
           |cnt AS (SELECT event_type AS from_type, next_type AS to_type,
           |  count(*) AS n FROM nx WHERE next_type IS NOT NULL
           |  GROUP BY 1, 2),
           |tt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n
           |  FROM cnt GROUP BY 1),
           |tr AS (SELECT cnt.from_type, cnt.to_type,
           |  CAST(n AS DOUBLE) / row_n AS p FROM cnt
           |  JOIN tt USING (from_type))""".stripMargin
      val steps = (1 to 8).map { k =>
        val prev = if (k == 1) "pi0" else s"pi${k - 1}"
        s""",
           |pi$k AS (SELECT tr.to_type AS st, ${dsumSql("pp.pi * tr.p")}
           |  AS pi FROM tr JOIN $prev pp ON pp.st = tr.from_type
           |  GROUP BY tr.to_type)""".stripMargin
      }.mkString
      s"""WITH $transCtes,
         |ks AS (SELECT count(DISTINCT from_type) AS k FROM tr),
         |pi0 AS (SELECT from_type AS st,
         |  1.0 / CAST(k AS DOUBLE) AS pi FROM
         |  (SELECT DISTINCT from_type FROM tr) CROSS JOIN ks)$steps,
         |hh AS (SELECT ${dsumSql("pp.pi * (-tr.p * ln(tr.p))")} AS h,
         |  count(*) AS n_transitions FROM tr
         |  JOIN pi8 pp ON pp.st = tr.from_type),
         |kf AS (SELECT count(*) AS k FROM pi8)
         |SELECT n_transitions, k AS n_states,
         |  ${femitSql("h")} AS entropy_rate,
         |  ${femitSql("ln(CAST(k AS DOUBLE))")} AS max_entropy,
         |  ${femitSql("h / ln(CAST(k AS DOUBLE))")} AS normalized_rate
         |FROM hh CROSS JOIN kf""".stripMargin
    },
    // Same user-decile contexts, empirical n(x,a)/n(x) propensities
    // (exact counts), the rounded-mean argmax policy pick, and the
    // identical dsum-routed IPS / clipped / SNIPS / DM chains.
    "q436_ips_eval" ->
      s"""WITH lg AS (SELECT user_id % 10 AS x, event_type AS a,
         |  value / 100.0 AS r FROM events WHERE value IS NOT NULL),
         |prop AS (SELECT x, a, count(*) AS nxa, ${dsumSql("r")} AS sr_xa
         |  FROM lg GROUP BY x, a),
         |nx AS (SELECT x, CAST(sum(nxa) AS BIGINT) AS nx FROM prop
         |  GROUP BY x),
         |nt AS (SELECT count(*) AS n FROM lg),
         |best AS (SELECT a AS pi_a,
         |  ${femitSql(s"${dsumSql("sr_xa")} / CAST(sum(nxa) AS DOUBLE)")}
         |    AS pi_mean
         |  FROM prop GROUP BY a
         |  ORDER BY pi_mean DESC, a ASC LIMIT 1),
         |w AS (SELECT lg.r,
         |  CAST(nx.nx AS DOUBLE) / CAST(prop.nxa AS DOUBLE) AS iw
         |  FROM lg JOIN best ON lg.a = best.pi_a
         |  JOIN prop ON prop.x = lg.x AND prop.a = lg.a
         |  JOIN nx ON nx.x = lg.x),
         |sums AS (SELECT count(*) AS n_match,
         |  ${dsumSql("r * iw")} AS s_ips,
         |  ${dsumSql("r * least(iw, 10.0)")} AS s_clip,
         |  ${dsumSql("iw")} AS s_w FROM w),
         |dm AS (SELECT ${dsumSql(
        "(CAST(nx.nx AS DOUBLE) / CAST(nt.n AS DOUBLE))" +
          " * (sr_xa / CAST(nxa AS DOUBLE))")} AS v_dm
         |  FROM prop JOIN best ON prop.a = best.pi_a
         |  JOIN nx ON nx.x = prop.x CROSS JOIN nt)
         |SELECT n AS n_logged, n_match, pi_a, pi_mean,
         |  ${femitSql("s_ips / CAST(n AS DOUBLE)")} AS v_ips,
         |  ${femitSql("s_clip / CAST(n AS DOUBLE)")} AS v_ips_clipped,
         |  ${femitSql("s_ips / nullif(s_w, 0.0)")} AS v_snips,
         |  ${femitSql("v_dm")} AS v_dm,
         |  ${femitSql("CAST(n_match AS DOUBLE) / CAST(n AS DOUBLE)")}
         |    AS match_rate
         |FROM sums CROSS JOIN dm CROSS JOIN best CROSS JOIN nt""".stripMargin,
    // Same 4096-id cells, every-64th-plus-tail kept points with
    // covered-row weights, merged cumulative by (v, event_id), the
    // shared ceil(phi*n) targets, min-v pick, exact count-<=-v rank.
    "q439_quantile_sketch" ->
      s"""WITH vals AS (SELECT event_id,
         |  CAST(round(value * 1000000) AS BIGINT) AS v
         |  FROM events WHERE value IS NOT NULL),
         |nt AS (SELECT count(*) AS n FROM vals),
         |nc AS (SELECT count(DISTINCT event_id // 4096) AS ncells
         |  FROM vals),
         |rk AS (SELECT v, event_id,
         |  CAST(row_number() OVER (PARTITION BY event_id // 4096
         |    ORDER BY v ASC, event_id ASC) AS BIGINT) AS r,
         |  CAST(count(*) OVER (PARTITION BY event_id // 4096)
         |    AS BIGINT) AS cn FROM vals),
         |kpt AS (SELECT v, event_id, CAST(CASE WHEN r % 64 = 0 THEN 64
         |    ELSE cn % 64 END AS BIGINT) AS wt
         |  FROM rk WHERE (r % 64 = 0 OR r = cn)
         |    AND CASE WHEN r % 64 = 0 THEN 64 ELSE cn % 64 END > 0),
         |cum AS (SELECT v, CAST(sum(wt) OVER (ORDER BY v ASC,
         |  event_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
         |  ROW) AS BIGINT) AS cumw FROM kpt),
         |tg AS (SELECT phi, CAST(ceil(phi *
         |    (SELECT CAST(n AS DOUBLE) FROM nt)) AS BIGINT)
         |    AS target_rank
         |  FROM (SELECT unnest(CAST([0.25, 0.5, 0.75, 0.9, 0.99]
         |    AS DOUBLE[])) AS phi) p),
         |est AS (SELECT phi, target_rank, min(v) AS est_v
         |  FROM cum CROSS JOIN tg WHERE cumw >= target_rank
         |  GROUP BY phi, target_rank),
         |ex AS (SELECT e.phi, e.target_rank, e.est_v,
         |  count(va.v) AS exact_rank
         |  FROM est e LEFT JOIN vals va ON va.v <= e.est_v
         |  GROUP BY 1, 2, 3)
         |SELECT phi, (SELECT n FROM nt) AS n, target_rank,
         |  est_v AS est_value_micro, exact_rank,
         |  abs(exact_rank - target_rank) AS rank_err,
         |  CAST(((SELECT ncells FROM nc) + 1) * 64 AS BIGINT)
         |    AS err_bound
         |FROM ex ORDER BY phi""".stripMargin,
    // Per-generation (event_id%3) composite cells, same kept-point
    // rule, the union-as-store merge, shared epilogue, summed bound.
    "q441_quantile_store" ->
      s"""WITH vals AS (SELECT event_id,
         |  CAST(round(value * 1000000) AS BIGINT) AS v
         |  FROM events WHERE value IS NOT NULL),
         |nt AS (SELECT count(*) AS n FROM vals),
         |gv AS (SELECT v, event_id,
         |  event_id // 4096 * 3 + event_id % 3 AS cell FROM vals),
         |nc AS (SELECT count(DISTINCT cell) AS ncells FROM gv),
         |rk AS (SELECT v, event_id,
         |  CAST(row_number() OVER (PARTITION BY cell
         |    ORDER BY v ASC, event_id ASC) AS BIGINT) AS r,
         |  CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS cn
         |  FROM gv),
         |kpt AS (SELECT v, event_id, CAST(CASE WHEN r % 64 = 0 THEN 64
         |    ELSE cn % 64 END AS BIGINT) AS wt
         |  FROM rk WHERE (r % 64 = 0 OR r = cn)
         |    AND CASE WHEN r % 64 = 0 THEN 64 ELSE cn % 64 END > 0),
         |nsr AS (SELECT count(*) AS n_store_rows FROM kpt),
         |cum AS (SELECT v, CAST(sum(wt) OVER (ORDER BY v ASC,
         |  event_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
         |  ROW) AS BIGINT) AS cumw FROM kpt),
         |tg AS (SELECT phi, CAST(ceil(phi *
         |    (SELECT CAST(n AS DOUBLE) FROM nt)) AS BIGINT)
         |    AS target_rank
         |  FROM (SELECT unnest(CAST([0.25, 0.5, 0.75, 0.9, 0.99]
         |    AS DOUBLE[])) AS phi) p),
         |est AS (SELECT phi, target_rank, min(v) AS est_v
         |  FROM cum CROSS JOIN tg WHERE cumw >= target_rank
         |  GROUP BY phi, target_rank),
         |ex AS (SELECT e.phi, e.target_rank, e.est_v,
         |  count(va.v) AS exact_rank
         |  FROM est e LEFT JOIN vals va ON va.v <= e.est_v
         |  GROUP BY 1, 2, 3)
         |SELECT phi, (SELECT n FROM nt) AS n, target_rank,
         |  est_v AS est_value_micro, exact_rank,
         |  abs(exact_rank - target_rank) AS rank_err,
         |  CAST(((SELECT ncells FROM nc) + 1) * 64 AS BIGINT)
         |    AS err_bound,
         |  CAST(3 AS BIGINT) AS n_gens,
         |  (SELECT n_store_rows FROM nsr) AS n_store_rows
         |FROM ex ORDER BY phi""".stripMargin,
    // q394's risk cells, the SAME 8 fixed Newton steps (the oracle
    // replays the identical float trajectory), Breslow ties.
    "q401_cox_ph" -> {
      val survCtes =
        s"""r AS (SELECT user_id, event_id, event_type, ts,
           |  row_number() OVER (PARTITION BY user_id
           |    ORDER BY ts ASC, event_id ASC) AS rn FROM events),
           |pu AS (SELECT user_id,
           |  max(CASE WHEN rn = 1 AND event_type = 'click'
           |    THEN 1 ELSE 0 END) AS g,
           |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
           |  FROM r GROUP BY user_id),
           |hz AS (SELECT max(last_us) AS h FROM pu),
           |lf AS (SELECT g, (last_us - first_us) // 86400000000 AS day,
           |  (h - last_us) < 172800000000 AS censored
           |  FROM pu CROSS JOIN hz),
           |cl AS (SELECT day,
           |  CAST(sum(CASE WHEN NOT censored AND g = 1 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS d1,
           |  CAST(sum(CASE WHEN NOT censored AND g = 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS d0,
           |  CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
           |  CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0
           |  FROM lf GROUP BY day),
           |tt AS (SELECT CAST(sum(t1) AS BIGINT) AS tot1,
           |  CAST(sum(t0) AS BIGINT) AS tot0 FROM cl),
           |rk AS (SELECT day, d1, d0,
           |  tot1 - coalesce(CAST(sum(t1) OVER (ORDER BY day ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |    AS BIGINT), 0) AS n1,
           |  tot0 - coalesce(CAST(sum(t0) OVER (ORDER BY day ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |    AS BIGINT), 0) AS n0
           |  FROM cl CROSS JOIN tt),
           |ev2 AS (SELECT d1, d0, n1, n0, d1 + d0 AS dj, n1 + n0 AS nj
           |  FROM rk WHERE d1 + d0 > 0)""".stripMargin
      val pj = "CAST(n1 AS DOUBLE) * exp(b.beta)" +
        " / (CAST(n1 AS DOUBLE) * exp(b.beta) + CAST(n0 AS DOUBLE))"
      val iters = (1 to 8).map { i =>
        s"""b$i AS (SELECT greatest(least(beta + usum / nullif(isum, 0.0),
           |    10.0), -10.0) AS beta FROM (
           |  SELECT beta,
           |  ${dsumSql("CAST(d1 AS DOUBLE) - CAST(dj AS DOUBLE) * pj")} AS usum,
           |  ${dsumSql("CAST(dj AS DOUBLE) * pj * (1.0 - pj)")} AS isum
           |  FROM (SELECT b.beta AS beta, ev2.d1, ev2.dj,
           |    $pj AS pj
           |    FROM ev2 CROSS JOIN b${i - 1} b) y
           |  GROUP BY beta) z)""".stripMargin
      }.mkString(",\n")
      s"""WITH $survCtes,
         |b0 AS (SELECT 0.0 AS beta),
         |$iters,
         |fin AS (SELECT beta,
         |  CAST(sum(dj) AS BIGINT) AS n_deaths,
         |  ${dsumSql("CAST(dj AS DOUBLE) * pj * (1.0 - pj)")} AS isum
         |  FROM (SELECT b.beta AS beta, ev2.dj,
         |    $pj AS pj
         |    FROM ev2 CROSS JOIN b8 b) y2
         |  GROUP BY beta)
         |SELECT tot1 AS n_g1, tot0 AS n_g0, n_deaths,
         |  ${femitSql("beta")} AS beta,
         |  ${femitSql("exp(beta)")} AS hazard_ratio,
         |  ${femitSql("1.0 / sqrt(nullif(isum, 0.0))")} AS se,
         |  ${femitSql("beta * sqrt(nullif(isum, 0.0))")} AS wald_z
         |FROM fin CROSS JOIN tt""".stripMargin
    },
    // Same heavy-purchaser label and q382 logistic score, 20
    // equal-width bins, Murphy REL/RES/UNC through dsum chains.
    "q402_brier_decomposition" ->
      s"""WITH e AS (SELECT user_id, event_type, value FROM events
         |  WHERE value IS NOT NULL),
         |per AS (SELECT user_id,
         |  CASE WHEN sum(CASE WHEN event_type = 'purchase'
         |    THEN 1 ELSE 0 END) * 4 >= count(*) THEN 1 ELSE 0 END AS o,
         |  count(*) AS n_events, ${dsumSql("value")} AS sv
         |  FROM e GROUP BY user_id),
         |sc AS (SELECT o,
         |  1.0 / (1.0 + exp(-(0.1 + 0.2 * ln(CAST(n_events AS DOUBLE))
         |    - 0.3 * (sv / CAST(n_events AS DOUBLE) / 100.0)))) AS p
         |  FROM per),
         |bn AS (SELECT o, p,
         |  least(CAST(floor(p * 20.0) AS BIGINT), 19) AS bin FROM sc),
         |bins AS (SELECT bin, count(*) AS nk, ${dsumSql("p")} AS sp,
         |  CAST(sum(o) AS BIGINT) AS so,
         |  ${dsumSql("(p - CAST(o AS DOUBLE)) * (p - CAST(o AS DOUBLE))")}
         |    AS sq
         |  FROM bn GROUP BY bin),
         |tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n,
         |  CAST(sum(so) AS BIGINT) AS sot, ${dsumSql("sq")} AS sqt
         |  FROM bins),
         |dec AS (SELECT n, sot, sqt,
         |  ${dsumSql("""CAST(nk AS DOUBLE)
           |    * (sp / CAST(nk AS DOUBLE) - CAST(so AS DOUBLE) / CAST(nk AS DOUBLE))
           |    * (sp / CAST(nk AS DOUBLE) - CAST(so AS DOUBLE) / CAST(nk AS DOUBLE))"""
        .stripMargin)} AS rel_n,
         |  ${dsumSql("""CAST(nk AS DOUBLE)
           |    * (CAST(so AS DOUBLE) / CAST(nk AS DOUBLE)
           |      - CAST(sot AS DOUBLE) / CAST(n AS DOUBLE))
           |    * (CAST(so AS DOUBLE) / CAST(nk AS DOUBLE)
           |      - CAST(sot AS DOUBLE) / CAST(n AS DOUBLE))""".stripMargin)} AS res_n
         |  FROM bins CROSS JOIN tot GROUP BY n, sot, sqt)
         |SELECT n AS n_users, sot AS n_pos,
         |  ${femitSql("sqt / CAST(n AS DOUBLE)")} AS brier,
         |  ${femitSql("rel_n / CAST(n AS DOUBLE)")} AS reliability,
         |  ${femitSql("res_n / CAST(n AS DOUBLE)")} AS resolution,
         |  ${femitSql("CAST(sot AS DOUBLE) / CAST(n AS DOUBLE)" +
        " * (1.0 - CAST(sot AS DOUBLE) / CAST(n AS DOUBLE))")} AS uncertainty,
         |  ${femitSql("rel_n / CAST(n AS DOUBLE) - res_n / CAST(n AS DOUBLE)" +
        " + CAST(sot AS DOUBLE) / CAST(n AS DOUBLE)" +
        " * (1.0 - CAST(sot AS DOUBLE) / CAST(n AS DOUBLE))")} AS brier_binned
         |FROM dec""".stripMargin,
    // Same per-user T/conv/score chain as q377/q382's engine side,
    // ntile(10) over (u DESC, user_id) — the single-window oracle the
    // two-phase ntile2p must reproduce exactly — and the Qini prefix
    // sum on the VARCHAR-routed DECIMAL window lattice.
    "q382_qini_uplift" -> {
      val wsum = "CAST(CAST(sum(CAST(CAST(inc AS VARCHAR) AS DECIMAL(38,12)))" +
        " OVER (ORDER BY decile ASC ROWS BETWEEN UNBOUNDED PRECEDING AND" +
        " CURRENT ROW) AS VARCHAR) AS DOUBLE)"
      s"""WITH e AS (SELECT user_id, event_id, ts, event_type, value
         |  FROM events WHERE value IS NOT NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |  ORDER BY ts ASC, event_id ASC) AS rn FROM e),
         |per AS (SELECT user_id,
         |  max(CASE WHEN rn = 1 AND event_type = 'click'
         |    THEN 1 ELSE 0 END) AS t,
         |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
         |  count(*) AS n_events, ${dsumSql("value")} AS sv
         |  FROM r GROUP BY user_id),
         |sc AS (SELECT user_id, t, conv,
         |  1.0 / (1.0 + exp(-(0.1 + 0.2 * ln(CAST(n_events AS DOUBLE))
         |    - 0.3 * (sv / CAST(n_events AS DOUBLE) / 100.0)))) AS u
         |  FROM per),
         |dc AS (SELECT t, conv, ntile(10) OVER (
         |  ORDER BY u DESC, user_id ASC) AS decile FROM sc),
         |cl AS (SELECT decile, count(*) AS n,
         |  CAST(sum(t) AS BIGINT) AS n_t,
         |  CAST(sum(1 - t) AS BIGINT) AS n_c,
         |  CAST(sum(t * conv) AS BIGINT) AS conv_t,
         |  CAST(sum((1 - t) * conv) AS BIGINT) AS conv_c
         |  FROM dc GROUP BY decile),
         |w2 AS (SELECT *, CAST(conv_t AS DOUBLE) - CAST(conv_c AS DOUBLE)
         |  * CAST(n_t AS DOUBLE) / nullif(CAST(n_c AS DOUBLE), 0.0) AS inc
         |  FROM cl),
         |w3 AS (SELECT *, $wsum AS qini FROM w2)
         |SELECT CAST(decile AS BIGINT) AS decile, n, n_t, n_c,
         |  conv_t, conv_c,
         |  ${femitSql(
        "CAST(conv_t AS DOUBLE) / nullif(CAST(n_t AS DOUBLE), 0.0) " +
          "- CAST(conv_c AS DOUBLE) / nullif(CAST(n_c AS DOUBLE), 0.0)")}
         |    AS uplift,
         |  ${femitSql("qini")} AS qini
         |FROM w3 ORDER BY decile""".stripMargin
    },
  )
}
