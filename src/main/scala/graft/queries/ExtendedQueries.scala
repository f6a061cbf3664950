package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extended relational surface beyond the reference's own operator set
  * (SURVEY.md §2.5-2.8 "absent" rows): rollup, full window-function
  * family with explicit frames, set operations, date functions. Each is a
  * built-in Spark operator the reference's users get for free by
  * switching; oracles pin the exact semantics.
  */
object ExtendedQueries {

  /** q15 — ROLLUP aggregation with grouping-set totals; null grouping
    * keys are replaced with sentinels so hash compare is unambiguous. */
  def q15Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_rows"), col("sum_qty"))

  val q15Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** q16 — window-function family: lead/lag/row_number/dense_rank plus an
    * explicit running-sum frame, per customer ordered by (date, key). */
  def q16WindowFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      row_number().over(w).cast("long").as("rn"),
      dense_rank().over(w).cast("long").as("drk"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(frame)
        .cast("double").as("running_spend"))
  }

  val q16Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  row_number() OVER w AS rn,
      |  dense_rank() OVER w AS drk,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS running_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin

  /** q17 — set operations: nations with suppliers INTERSECT nations with
    * customers, and EXCEPT in the other direction (distinct set
    * semantics on both engines). */
  def q17SetOps(spark: SparkSession, dir: String): DataFrame = {
    val supplierNations = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    val customerNations = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val both = supplierNations.intersect(customerNations)
      .withColumn("relation", lit("both"))
    val customerOnly = customerNations.except(supplierNations)
      .withColumn("relation", lit("customer_only"))
    both.unionByName(customerOnly)
  }

  val q17Sql: String =
    """SELECT nationkey, 'both' AS relation FROM (
      |  SELECT s_nationkey AS nationkey FROM supplier
      |  INTERSECT
      |  SELECT c_nationkey AS nationkey FROM customer)
      |UNION ALL
      |SELECT nationkey, 'customer_only' AS relation FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  EXCEPT
      |  SELECT s_nationkey AS nationkey FROM supplier)""".stripMargin

  /** q18 — date functions: year/month/day extraction and date arithmetic
    * on the timestamp-typed order date (string-keyed outputs for
    * engine-agnostic hashing). */
  def q18DateFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("order_year"),
      month(col("o_orderdate")).cast("long").as("order_month"),
      dayofmonth(col("o_orderdate")).cast("long").as("order_day"),
      quarter(col("o_orderdate")).cast("long").as("order_quarter"),
      substring(date_add(col("o_orderdate").cast("date"), 30).cast("string"), 1, 10)
        .as("due_date"))

  val q18Sql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
      |  CAST(day(o_orderdate) AS BIGINT) AS order_day,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
      |  substring(CAST((CAST(o_orderdate AS DATE) + INTERVAL 30 DAY) AS VARCHAR), 1, 10)
      |    AS due_date
      |FROM orders""".stripMargin

  /** q19 — ntile + percent_rank + cume_dist: rank-based statistics,
    * deterministic under the (acctbal desc, custkey) tiebreak. */
  def q19RankStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_mktsegment"),
      ntile(4).over(w).cast("long").as("quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"))
  }

  val q19Sql: String =
    """SELECT c_custkey, c_mktsegment,
      |  ntile(4) OVER w AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment
      |             ORDER BY c_acctbal DESC, c_custkey ASC)""".stripMargin

  /** q20 — multi-way join with aggregation pushed below the final join:
    * revenue per region (the classic pre-aggregate-then-join shape that
    * keeps the big shuffle on collapsed rows, not fact rows). */
  def q20RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val perSupplier = li.groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(BigDecimal(1)) - col("l_discount").cast("decimal(18,2)"))))
        .as("rev_dec"))
    perSupplier
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(sum(col("rev_dec")).cast("double").as("revenue"),
        count(lit(1)).as("n_suppliers"))
  }

  val q20Sql: String =
    """WITH per_supplier AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |        (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
      |  FROM lineitem GROUP BY l_suppkey)
      |SELECT r_name,
      |  CAST(SUM(rev_dec) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_suppliers
      |FROM per_supplier
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  /** q21 — exact distinct aggregates (COUNT(DISTINCT ...)): expand +
    * two-phase aggregation under the hood; the §2.5-absent family. */
  def q21DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))

  val q21Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q22 — correlated scalar subquery: orders priced above their
    * customer's average (Catalyst decorrelates into a join against the
    * aggregated subquery — no per-row subquery execution). */
  def q22CorrelatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val avgPerCust = o.groupBy(col("o_custkey").as("k"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_price"))
    // the aggregated side is one row per customer — broadcast it so the
    // orders side never shuffles
    o.join(broadcast(avgPerCust), col("o_custkey") === col("k"))
      .filter(col("o_totalprice") > col("avg_price"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  val q22Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      |WHERE o_totalprice > (
      |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |  FROM orders i WHERE i.o_custkey = o.o_custkey)""".stripMargin

  /** q23 — CUBE: all grouping-set combinations (rollup's sibling,
    * completing the §2.5-absent grouping-sets family). */
  def q23Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_rows"), col("sum_price"))

  val q23Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** q24 — sketch aggregates as VERIFIED claims: HyperLogLog++ distinct
    * counts and approximate percentiles, each emitted as the exact value
    * it approximates plus a boolean asserting the sketch landed inside
    * its contract (HLL: 3x the configured 0.02 rsd; percentile_approx:
    * the returned value's true rank inside a generous band around the
    * target, checked by one bounded re-aggregation over the data).
    * DuckDB cannot replay Spark's sketch register state, but it can
    * verify the exact side and expect every bound claim to hold — the
    * q43 pattern, which turns the catalog's one rows-only blind spot
    * into a full hash row. At 100 TB these are the aggregates you
    * actually run (bounded memory per group regardless of cardinality),
    * and the rank check is itself bounded: a 3-row broadcast join plus
    * a counting aggregate.
    *
    * NOTE — eager execution: CONSTRUCTING this DataFrame runs the
    * percentile-sketch pass (one aggregate scan of lineitem, collected to
    * one row per returnflag value — a 3-row domain regardless of
    * fact-table size) and embeds the result as a broadcast literal; the
    * returned plan is the exact-distinct pass joined with the
    * sketch/rank pass (3-row join). Bench/Verify call the builder inside
    * their timed/try regions so measurements cover all scans, but
    * plan-only callers (plan dumps, repeated view registration) pay the
    * sketch scan on every construction. */
  def q24Sketches(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_partkey"), col("l_orderkey"),
        col("l_extendedprice"))
    // pass 1 — percentile sketches only, both percentiles from ONE sketch
    // (array form). Kept OUT of the counting aggregate so the sketch
    // feeds on the raw row stream, not the Expand-multiplied one.
    val pcts = li.groupBy(col("l_returnflag")).agg(
      percentile_approx(col("l_extendedprice"), array(lit(0.5), lit(0.99)),
        lit(1000)).as("ps"))
      .select(col("l_returnflag"),
        element_at(col("ps"), 1).as("p50"), element_at(col("ps"), 2).as("p99"))
    val claims = spark.createDataFrame(
      java.util.Arrays.asList(pcts.collect(): _*), pcts.schema)
    // pass 2/3 — exact distincts and the sketch/rank family kept in
    // SEPARATE aggregates. Folding all four counts into one aggregate
    // (fewer scans) measured 1.7x SLOWER at sf0.1: mixing two distinct
    // columns with non-distinct aggregates forces a 3-projection Expand
    // whose wide-key partial aggregation carries the HLL sketches and
    // conditional counts across the whole tripled stream (measured at
    // sf0.1: all4_one_agg 4.4-9.5 s vs exact 1.5 s + approx/rank 1.2 s
    // run apart; OPTIMIZATION_r21.md pins this plan). Scan count is the cheap resource here — shuffled partial
    // state is identical either way, and each narrow pass stays in one
    // whole-stage-codegen span.
    val exact = li.groupBy(col("l_returnflag")).agg(
      count_distinct(col("l_partkey")).as("n_exact_parts"),
      count_distinct(col("l_orderkey")).as("n_exact_orders"))
    val sketched = li
      .join(broadcast(claims), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("ao"),
        count(lit(1)).as("n"),
        count(when(col("l_extendedprice") < col("p50"), 1)).as("lt50"),
        count(when(col("l_extendedprice") <= col("p50"), 1)).as("le50"),
        count(when(col("l_extendedprice") <= col("p99"), 1)).as("le99"))
    // 3-row ⋈ 3-row reconciliation join (the returnflag domain)
    val agg = exact.join(sketched, Seq("l_returnflag"))
    agg.select(col("l_returnflag"),
        col("n_exact_parts"),
        (abs(col("ap") - col("n_exact_parts")).cast("double") /
          col("n_exact_parts") <= 0.06).as("parts_in_bound"),
        col("n_exact_orders"),
        (abs(col("ao") - col("n_exact_orders")).cast("double") /
          col("n_exact_orders") <= 0.06).as("orders_in_bound"),
        // tie-safe: the returned value's true-rank INTERVAL [lt50, le50]
        // must intersect the target band — strictly-less on the upper
        // check, less-or-equal on the lower, so tied mass at the median
        // value can never fail a correct sketch
        (col("lt50").cast("double") / col("n") <= 0.53 &&
          col("le50").cast("double") / col("n") >= 0.47).as("p50_rank_ok"),
        (col("le99").cast("double") / col("n") >= 0.97).as("p99_rank_ok"))
  }

  val q24Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_exact_parts,
      |  TRUE AS parts_in_bound,
      |  COUNT(DISTINCT l_orderkey) AS n_exact_orders,
      |  TRUE AS orders_in_bound,
      |  TRUE AS p50_rank_ok,
      |  TRUE AS p99_rank_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q25 — the SQL surface end-to-end: the same star query expressed as
    * SQL text over registered views, exercising the parser/analyzer path
    * the reference touched only via expr() strings. */
  def q25SqlSurface(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("v_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("v_customer")
    spark.sql(
      """SELECT c_mktsegment,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS segment_revenue
        |FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        |WHERE o_orderstatus <> 'F'
        |GROUP BY c_mktsegment""".stripMargin)
  }

  val q25Sql: String =
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS segment_revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus <> 'F'
      |GROUP BY c_mktsegment""".stripMargin

  /** q26 — pivot: long-to-wide reshape with explicit pivot values (so the
    * plan is one pass, no value-discovery job, and column names are
    * deterministic for the oracle). */
  def q26Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("O", "F"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
      .withColumnRenamed("O", "qty_open")
      .withColumnRenamed("F", "qty_filled")

  val q26Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'O') AS DOUBLE)
      |    AS qty_open,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'F') AS DOUBLE)
      |    AS qty_filled
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q27 — generator/LATERAL family: explode a computed array with
    * position (the row-to-rows direction pivot's reshape doesn't cover). */
  def q27Explode(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))

  val q27Sql: String =
    """SELECT doc_id,
      |  CAST(t.i - 1 AS BIGINT) AS pos,
      |  string_split(text, ' ')[t.i] AS token
      |FROM documents,
      |  unnest(range(1, len(string_split(text, ' ')) + 1)) AS t(i)""".stripMargin

  /** q28 — null semantics: NULLIF-manufactured nulls flow through
    * null-safe equality, COALESCE, and null-aware aggregation. The
    * fixtures carry no nulls, so correctness of null propagation must be
    * pinned explicitly. */
  def q28NullSemantics(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("prio_or_null",
        when(col("o_orderpriority") === "4-NOT SPECIFIED", lit(null))
          .otherwise(col("o_orderpriority")))
    o.groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("prio_or_null")).as("n_nonnull"), // COUNT skips nulls
        sum(col("prio_or_null").isNull.cast("long")).cast("long").as("n_null"),
        count(when(col("prio_or_null") <=> lit(null), 1)).as("n_nullsafe_eq_null"),
        countDistinct(coalesce(col("prio_or_null"), lit("UNSPECIFIED"))).as("n_prio_kinds"))
  }

  val q28Sql: String =
    """WITH o AS (
      |  SELECT o_orderstatus,
      |    NULLIF(o_orderpriority, '4-NOT SPECIFIED') AS prio_or_null
      |  FROM orders)
      |SELECT o_orderstatus,
      |  COUNT(*) AS n_rows,
      |  COUNT(prio_or_null) AS n_nonnull,
      |  CAST(SUM(CAST(prio_or_null IS NULL AS BIGINT)) AS BIGINT) AS n_null,
      |  COUNT(CASE WHEN prio_or_null IS NOT DISTINCT FROM NULL THEN 1 END)
      |    AS n_nullsafe_eq_null,
      |  COUNT(DISTINCT COALESCE(prio_or_null, 'UNSPECIFIED')) AS n_prio_kinds
      |FROM o GROUP BY o_orderstatus""".stripMargin

  /** q29 — string/regex function family: extraction, padding, trimming,
    * replacement, position — identical semantics for ASCII inputs across
    * Java regex (Spark) and RE2 (DuckDB) on these simple patterns. */
  def q29StringFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"),
      regexp_replace(col("c_name"), "0+", "0").as("name_squeezed"),
      lpad(col("c_custkey").cast("string"), 10, "0").as("key_padded"),
      rpad(col("c_mktsegment"), 12, ".").as("segment_padded"),
      trim(lit("  pad  ")).as("trimmed"),
      instr(col("c_name"), "#").cast("long").as("hash_pos"),
      translate(col("c_mktsegment"), "AEIOU", "aeiou").as("segment_lowered_vowels"))

  val q29Sql: String =
    """SELECT c_custkey,
      |  regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
      |  regexp_replace(c_name, '0+', '0', 'g') AS name_squeezed,
      |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
      |  rpad(c_mktsegment, 12, '.') AS segment_padded,
      |  trim('  pad  ') AS trimmed,
      |  CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
      |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS segment_lowered_vowels
      |FROM customer""".stripMargin

  /** q30 — JSON processing: both the path-extraction surface
    * (get_json_object) and the schema'd parse (from_json) over the events
    * props payload, aggregated per type. The two extraction routes must
    * agree — asserted in-query by summing both. */
  def q30Json(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("k_path", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("k_typed",
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k"))
    ev.groupBy(col("event_type"))
      .agg(
        count(col("k_path")).as("n_with_k"),
        sum(col("k_path")).cast("long").as("sum_k"),
        sum(col("k_typed")).cast("long").as("sum_k_typed"), // must equal sum_k
        min(col("k_path")).as("min_k"),
        max(col("k_path")).as("max_k"))
  }

  val q30Sql: String =
    """SELECT event_type,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k_typed,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type""".stripMargin

  /** q31 — array function family over the embedding vectors: size, sort,
    * min/max, element-wise fold, membership. Float values are widened to
    * double and rounded to 6 decimals on both engines. */
  def q31ArrayFunctions(spark: SparkSession, dir: String): DataFrame = {
    val embDoubles = transform(col("embedding"), x => x.cast("double"))
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("dim"),
      round(aggregate(embDoubles, lit(0.0), (a, v) => a + v), 6).as("component_sum"),
      round(array_max(col("embedding")).cast("double"), 6).as("max_component"),
      round(array_min(col("embedding")).cast("double"), 6).as("min_component"),
      round(element_at(array_sort(col("embedding")), 1).cast("double"), 6).as("sorted_first"),
      array_contains(embDoubles, 0.0).as("has_zero"))
  }

  val q31Sql: String =
    """SELECT vec_id,
      |  len(embedding) AS dim,
      |  round(list_sum([CAST(x AS DOUBLE) for x in embedding]), 6) AS component_sum,
      |  round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_component,
      |  round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_component,
      |  round(CAST(list_sort(embedding)[1] AS DOUBLE), 6) AS sorted_first,
      |  list_contains([CAST(x AS DOUBLE) for x in embedding], 0.0) AS has_zero
      |FROM embeddings""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q15_rollup" -> (q15Rollup _),
    "q16_window_family" -> (q16WindowFamily _),
    "q17_set_ops" -> (q17SetOps _),
    "q18_date_functions" -> (q18DateFunctions _),
    "q19_rank_stats" -> (q19RankStats _),
    "q20_region_revenue" -> (q20RegionRevenue _),
    "q21_distinct_agg" -> (q21DistinctAgg _),
    "q22_correlated_subquery" -> (q22CorrelatedSubquery _),
    "q23_cube" -> (q23Cube _),
    "q24_sketches" -> (q24Sketches _),
    "q25_sql_surface" -> (q25SqlSurface _),
    "q26_pivot" -> (q26Pivot _),
    "q27_explode" -> (q27Explode _),
    "q28_null_semantics" -> (q28NullSemantics _),
    "q29_string_functions" -> (q29StringFunctions _),
    "q30_json" -> (q30Json _),
    "q31_array_functions" -> (q31ArrayFunctions _))

  val oracles: Map[String, String] = Map(
    "q15_rollup" -> q15Sql,
    "q16_window_family" -> q16Sql,
    "q17_set_ops" -> q17Sql,
    "q18_date_functions" -> q18Sql,
    "q19_rank_stats" -> q19Sql,
    "q20_region_revenue" -> q20Sql,
    "q21_distinct_agg" -> q21Sql,
    "q22_correlated_subquery" -> q22Sql,
    "q23_cube" -> q23Sql,
    "q24_sketches" -> q24Sql,
    "q25_sql_surface" -> q25Sql,
    "q26_pivot" -> q26Sql,
    "q27_explode" -> q27Sql,
    "q28_null_semantics" -> q28Sql,
    "q29_string_functions" -> q29Sql,
    "q30_json" -> q30Sql,
    "q31_array_functions" -> q31Sql)
}
