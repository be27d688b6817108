package graft.operators

import graft.core.{Memo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational operator corpus over the driver's TPC-H-ish tables — the
  * analytics layer the reference lacks entirely (SURVEY.md §2.5), expressed
  * purely with Catalyst-optimizable DataFrame operations so predicate
  * pushdown / column pruning / join selection / partial aggregation all
  * come from the optimizer.
  *
  * Determinism contract with the DuckDB oracle: every floating-point
  * aggregate is computed in exact DECIMAL(18,2) arithmetic and only cast to
  * DOUBLE at the end — double summation order differs between engines, but
  * decimal sums are exact, so the final doubles are bit-identical.
  */
object Relational {

  /** Exact-arithmetic cast for money/quantity doubles. */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** TPC-H Q1-shaped pricing summary: hash aggregate with partial/final
    * split; at scale this is one shuffle on (returnflag, linestatus) with
    * map-side combine.
    */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order")
      )

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      | COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q6-shaped selective filter + scalar aggregate. The predicates
    * reach the parquet scan as PushedFilters (shipdate/discount/quantity
    * are all plain comparisons), so at 100 TB this reads only matching row
    * groups and exactly 3 columns.
    */
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1999-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n"))

  val q6Sql: String =
    """SELECT
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  /** TPC-H Q3-shaped 3-way join + aggregate. The mktsegment-filtered
    * customer side SCALES WITH SF (~150M rows at sf1000), so it is NOT
    * force-broadcast: AQE decides at runtime from the observed post-filter
    * size (broadcast at small SF, shuffle join at large — same policy as
    * q7). orders⋈lineitem shuffles on orderkey (the natural co-location
    * key for both tables — at 100 TB both sides would be bucketed by
    * orderkey making this shuffle-free).
    */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy("o_orderkey")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .withColumnRenamed("o_orderkey", "orderkey")
  }

  val q3Sql: String =
    """SELECT o_orderkey AS orderkey,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey""".stripMargin

  /** TPC-H Q5-shaped 6-way join. Only the FIXED-cardinality dims are
    * force-broadcast (region: 5 rows, nation: 25 rows — size independent
    * of SF). supplier and customer grow with SF (~10M / ~150M rows at
    * sf1000 — a forced broadcast there is a driver OOM at scale), so those
    * joins are left to AQE, which broadcasts them at small SF and switches
    * to shuffle joins when the observed size says so (the q7 policy).
    */
  def q5LocalSupplier(s: SparkSession, d: String): DataFrame = {
    val region = Tables.region(s, d).where(col("r_name") === "ASIA")
    val nation = Tables.nation(s, d)
    val cust = Tables.customer(s, d)
    val supp = Tables.supplier(s, d)
    val ord = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey"))
      .join(cust,
        ord("o_custkey") === cust("c_custkey") && supp("s_nationkey") === cust("c_nationkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
  }

  val q5Sql: String =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      | JOIN orders ON l_orderkey = o_orderkey
      | JOIN supplier ON l_suppkey = s_suppkey
      | JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
      | JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name""".stripMargin

  /** Ranking window: each customer's highest-value order (deterministic
    * tie-break on orderkey). One shuffle on custkey.
    */
  def topOrderPerCustomer(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
        col("o_totalprice").as("totalprice"))
  }

  val topOrderPerCustomerSql: String =
    """SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_totalprice AS totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |      FROM orders) WHERE rn = 1""".stripMargin

  /** Running-sum analytic window with an explicit ROWS frame; exact decimal
    * prefix sums so the oracle matches bit-for-bit.
    */
  def runningCustomerSpend(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("running_spend", sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"), col("running_spend"))
  }

  val runningCustomerSpendSql: String =
    """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders""".stripMargin

  /** RANGE-frame window: each order's customer spend within ±15 days of its
    * order date (value-based frame, vs the ROWS frame in
    * [[runningCustomerSpend]]). Exact decimal sum → engine-stable.
    */
  def nearbySpend(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("epoch_day"))
      .rangeBetween(-15, 15)
    Tables.orders(s, d)
      .withColumn("epoch_day", datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long"))
      .withColumn("nearby_spend", sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"), col("nearby_spend"))
  }

  val nearbySpendSql: String =
    """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |   PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
      |   RANGE BETWEEN 15 PRECEDING AND 15 FOLLOWING) AS DOUBLE) AS nearby_spend
      |FROM orders""".stripMargin

  /** lag/lead analytic: gap in days between a customer's consecutive orders. */
  def orderGaps(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .where(col("prev_date").isNotNull)
      .select(
        col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
        datediff(col("o_orderdate"), col("prev_date")).as("gap_days"))
  }

  val orderGapsSql: String =
    """SELECT custkey, orderkey, gap_days FROM (
      | SELECT o_custkey AS custkey, o_orderkey AS orderkey,
      |  CAST(date_diff('day',
      |     LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |     o_orderdate) AS INTEGER) AS gap_days
      | FROM orders)
      |WHERE gap_days IS NOT NULL""".stripMargin

  /** Global top-k with total-order tie-break → deterministic row set.
    * Spark executes this as TakeOrderedAndProject (per-partition top-k +
    * driver merge), never a full sort — the right plan at any scale.
    */
  def top10Lineitems(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)
      .select(col("l_orderkey").as("orderkey"), col("l_linenumber").as("linenumber"),
        col("l_extendedprice").as("price"))

  val top10LineitemsSql: String =
    """SELECT l_orderkey AS orderkey, l_linenumber AS linenumber, l_extendedprice AS price
      |FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin

  /** Exact distinct aggregation (expand + two-phase agg in Spark). */
  def distinctPartsPerFlag(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("n"))

  val distinctPartsPerFlagSql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_parts,
      | COUNT(DISTINCT l_suppkey) AS distinct_supps, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Set operations: INTERSECT/EXCEPT/UNION (all distinct-semantics). */
  def setOpsCustomers(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val orderedCust = Tables.orders(s, d).select(col("o_custkey").as("custkey"))
    val rich = cust.where(col("c_acctbal") > 5000).select(col("c_custkey").as("custkey"))
    val debt = cust.where(col("c_acctbal") < 0).select(col("c_custkey").as("custkey"))
    rich.intersect(orderedCust).union(debt.except(orderedCust)).distinct()
  }

  val setOpsCustomersSql: String =
    """SELECT DISTINCT custkey FROM (
      | (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      |  INTERSECT SELECT o_custkey FROM orders)
      | UNION
      | (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
      |  EXCEPT SELECT o_custkey FROM orders))""".stripMargin

  /** ROLLUP grouping sets (Expand + aggregate in Spark). */
  def rollupQuantity(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"), count(lit(1)).as("n"))

  val rollupQuantitySql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** Anti join: customers with no urgent order (every customer has *some*
    * order in this data, so the urgent filter keeps the anti join selective
    * but verifiable — nonzero survivors at sf0.01).
    */
  def customersWithoutOrders(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).where(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"))

  val customersWithoutOrdersSql: String =
    """SELECT c_custkey AS custkey, c_name AS name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin

  /** Semi join: customers with at least one open ('O') order. */
  def customersWithOpenOrders(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).where(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey").as("custkey"))

  val customersWithOpenOrdersSql: String =
    """SELECT c_custkey AS custkey FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin

  /** Scalar function surface: string/math functions over part. floor/ceil
    * instead of round(double) — round ties break differently across engines.
    */
  def partScalarFunctions(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey").as("partkey"),
      upper(col("p_name")).as("uname"),
      length(col("p_name")).as("name_len"),
      substring(col("p_type"), 1, 5).as("type5"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
      abs(col("p_size") - 25).as("size_dev"),
      pmod(col("p_size"), lit(5)).as("size_mod"),
      floor(col("p_retailprice")).cast("long").as("price_floor"),
      ceil(col("p_retailprice")).cast("long").as("price_ceil"))

  val partScalarFunctionsSql: String =
    """SELECT p_partkey AS partkey, UPPER(p_name) AS uname, LENGTH(p_name) AS name_len,
      | SUBSTR(p_type, 1, 5) AS type5, p_brand || '#' || p_type AS brand_type,
      | ABS(p_size - 25) AS size_dev, p_size % 5 AS size_mod,
      | CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
      | CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil
      |FROM part""".stripMargin

  /** Date function surface + conditional aggregation over orders. */
  def orderDateStats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)).as("urgent_n"),
        sum(when(col("o_orderstatus") === "F", dec(col("o_totalprice")))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double").as("finished_total"))

  val orderDateStatsSql: String =
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
      | CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
      | COUNT(*) AS n,
      | CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent_n,
      | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2))
      |              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS finished_total
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** Dense-rowid emulation of the reference's `pullx` range read
    * (src/vector_engine.rs:28) against a table with no stored rowid: the
    * insertion order is modeled by the total order (orderkey, linenumber).
    * The real VectorTable path prunes via manifest + parquet stats instead
    * of a global window (see graft.core.VectorTable.range).
    */
  /** VectorTables materialized once per (machine, sf dir) and reused across
    * JVMs: the previous emulation restamped the WHOLE table per run
    * (repartitionByRange + zipWithIndex) to serve 100 rows — honest about
    * ordering but 10× the cost of the real path. Build is crash-safe: data
    * lands in a unique directory, then a pointer file is published with
    * create-if-absent (losers of the race adopt the winner's table).
    */
  private def lineitemAsVectorTable(s: SparkSession, d: String): graft.core.VectorTable =
    Memo.session(s, s"lineitem-rowid-table:$d") {
      graft.core.VectorTable.open(s, Memo.machine(s, "graft-rowid-tables", "lineitem", d) { root =>
        val t = graft.core.VectorTable.create(s, root.toString)
        // Input order = the modeled insertion order (orderkey, linenumber):
        // range-repartition + sort gives a global order across partition
        // indices, which append's per-partition offsets turn into dense
        // rowids — no single-task global window.
        t.append(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
          .repartitionByRange(col("l_orderkey"), col("l_linenumber"))
          .sortWithinPartitions("l_orderkey", "l_linenumber"))
      })
    }

  /** One-time table materialization, callable out-of-band (Bench reports it
    * as its own dimension instead of hiding it in the first query run).
    */
  def prebuildRowidTable(s: SparkSession, d: String): Unit =
    lineitemAsVectorTable(s, d)

  def rowidRange(s: SparkSession, d: String): DataFrame =
    lineitemAsVectorTable(s, d).range(1000L, 100L)
      .select(col("_rowid"), col("l_orderkey").as("orderkey"),
        col("l_linenumber").as("linenumber"), col("l_quantity").as("quantity"))

  val rowidRangeSql: String =
    """SELECT _rowid, orderkey, linenumber, quantity FROM (
      | SELECT l_orderkey AS orderkey, l_linenumber AS linenumber, l_quantity AS quantity,
      |   ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS _rowid
      | FROM lineitem)
      |WHERE _rowid >= 1000 AND _rowid < 1100""".stripMargin

  /** Orders re-laid-out as a date-clustered VectorTable (one append per
    * order year → one batch per year with tight `odate` zone maps in the
    * manifest). The build runs once per (machine, sf dir) behind the same
    * crash-safe pointer protocol as the rowid table.
    */
  private[operators] def ordersZoneTable(s: SparkSession, d: String): graft.core.VectorTable =
    Memo.session(s, s"orders-zone-table:$d") {
      graft.core.VectorTable.open(s, Memo.machine(s, "graft-rowid-tables", "orders-zm", d) { root =>
        val t = graft.core.VectorTable.create(s, root.toString)
        // cache: each per-year append would otherwise rescan orders
        val src = Tables.orders(s, d).select(
          to_date(col("o_orderdate")).as("odate"),
          col("o_orderkey").as("orderkey"),
          col("o_custkey").as("custkey"),
          col("o_totalprice").as("totalprice")).persist()
        try {
          val years = src.select(year(col("odate"))).distinct()
            .collect().map(_.getInt(0)).sorted
          years.foreach(y => t.append(src.where(year(col("odate")) === y)))
        } finally { src.unpersist(blocking = false); () }
      })
    }

  def prebuildZoneTable(s: SparkSession, d: String): Unit =
    ordersZoneTable(s, d)

  /** Secondary (custkey → rowid) index over the orders table, built once
    * per (machine, sf dir) behind the same crash-safe pointer protocol as
    * the table itself.
    */
  private def ordersCustkeyIndex(s: SparkSession, d: String): graft.core.SecondaryIndex =
    Memo.session(s, s"orders-custkey-index:$d") {
      val root = Memo.machine(s, "graft-rowid-tables", "orders-ck-idx", d, "#meta-txt") { root =>
        graft.core.SecondaryIndex.build(ordersZoneTable(s, d), "custkey", root.toString)
      }
      graft.core.SecondaryIndex.open(s, root, "custkey")
    }

  def prebuildCustkeyIndex(s: SparkSession, d: String): Unit =
    ordersCustkeyIndex(s, d)

  val indexedCustkey = 7L

  /** Key-indexed serving lookup as a declared query: rowids come from the
    * [[graft.core.SecondaryIndex]] (sorted (key → rowid) parquet; the
    * pushed `k = 7` filter prunes to one file slice via min/max stats),
    * then the table serves exactly those rows through the manifest-pruned
    * IN-filter point path — the business-key analog of `rowid_range`. The
    * oracle states the result directly (all orders of customer 7), so the
    * gate proves the index round-trip is lossless. At 100 TB the query
    * touches the index slice + the hit batches, never the table scan.
    */
  def indexedCustomerOrders(s: SparkSession, d: String): DataFrame = {
    val t = ordersZoneTable(s, d)
    val idx = ordersCustkeyIndex(s, d)
    val rowids = idx.lookup(indexedCustkey)
    t.points(rowids).select("orderkey", "custkey", "totalprice")
  }

  val indexedCustomerOrdersSql: String =
    s"""SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_totalprice AS totalprice
       |FROM orders WHERE o_custkey = $indexedCustkey""".stripMargin

  /** Range form of the indexed lookup: the sorted index layout serves
    * `custkey BETWEEN lo AND hi` as one contiguous file slice (parquet
    * min/max stats prune the rest — the B-tree range-scan analog), then
    * the table serves the hit rowids through the point path.
    */
  val indexedCustkeyLo = 7L
  val indexedCustkeyHi = 9L

  def indexedCustomerOrdersRange(s: SparkSession, d: String): DataFrame = {
    val t = ordersZoneTable(s, d)
    val idx = ordersCustkeyIndex(s, d)
    val rowids = idx.lookupRange(indexedCustkeyLo, indexedCustkeyHi)
    t.points(rowids).select("orderkey", "custkey", "totalprice")
  }

  val indexedCustomerOrdersRangeSql: String =
    s"""SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_totalprice AS totalprice
       |FROM orders WHERE o_custkey BETWEEN $indexedCustkeyLo AND $indexedCustkeyHi""".stripMargin

  /** Upserted orders table, built once per (machine, sf dir): base append
    * of all orders, then `upsertBy(orderkey)` of the 1998 orders with
    * doubled totalprice. The declared query reads [[graft.core.VectorTable.liveScan]]
    * — the merge-on-read after-image — and the oracle states it directly
    * as a CASE over the raw table, proving the delete-vector mask +
    * replacement rows reproduce exactly the logical MERGE result.
    * Doubling a DOUBLE is exact (exponent bump), so no float ambiguity.
    */
  private def ordersUpsertTable(s: SparkSession, d: String): graft.core.VectorTable =
    Memo.session(s, s"orders-upsert-table:$d") {
      graft.core.VectorTable.open(s, Memo.machine(s, "graft-rowid-tables", "orders-up", d) { root =>
        val t = graft.core.VectorTable.create(s, root.toString)
        val src = Tables.orders(s, d).select(
          col("o_orderkey").as("orderkey"),
          col("o_custkey").as("custkey"),
          col("o_totalprice").as("totalprice"),
          to_date(col("o_orderdate")).as("odate"))
        t.append(src)
        t.upsertBy(
          src.where(year(col("odate")) === 1998)
            .withColumn("totalprice", col("totalprice") * 2.0d),
          Seq("orderkey"))
      })
    }

  def prebuildUpsertTable(s: SparkSession, d: String): Unit =
    ordersUpsertTable(s, d)

  def upsertOrdersLive(s: SparkSession, d: String): DataFrame =
    ordersUpsertTable(s, d).liveScan()
      .select("orderkey", "custkey", "totalprice", "odate")

  val upsertOrdersLiveSql: String =
    """SELECT o_orderkey AS orderkey, o_custkey AS custkey,
      | CASE WHEN EXTRACT(YEAR FROM o_orderdate) = 1998
      |      THEN o_totalprice * 2.0 ELSE o_totalprice END AS totalprice,
      | CAST(o_orderdate AS DATE) AS odate
      |FROM orders""".stripMargin

  /** Orders re-laid-out on a Morton curve over (custkey, totalprice) — see
    * [[graft.sources.ZOrder]]. Built once per (machine, sf dir) behind the
    * same crash-safe pointer protocol as the other derived layouts.
    */
  private def ordersZOrderDir(s: SparkSession, d: String): String =
    Memo.machine(s, "graft-rowid-tables", "orders-zo", d) { dir =>
      graft.sources.ZOrder.write(
        Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice"), col("o_orderstatus")),
        Seq("o_custkey", "o_totalprice"), dir.toString, 8)
    }

  def prebuildZOrderLayout(s: SparkSession, d: String): Unit =
    ordersZOrderDir(s, d)

  /** Rectangle query over the z-ordered layout: both range predicates prune
    * row groups (each file covers a compact (custkey, totalprice)
    * rectangle), where a custkey-sorted layout would scan everything for
    * the price bound. Results are layout-independent — the oracle checks
    * the same rectangle against the original orders table.
    */
  def zorderRectangle(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ordersZOrderDir(s, d))
      .where(col("o_custkey").between(100L, 500L) &&
        col("o_totalprice").between(50000.0, 150000.0))
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).cast("double").as("total"))

  /** Orders + lineitem rewritten bucketed-and-sorted on orderkey — the
    * co-location layout that makes the dominant recurring fact join
    * SHUFFLE-FREE (SURVEY.md "Partitioning & shuffle": pay one write-side
    * sort, then every orderkey equi-join is a zip of pre-sorted buckets).
    * The catalog is session-scoped, so each session (re)writes the
    * bucketed tables once (memoized in [[Memo.session]], dropped when the
    * session ends); the bench reports that as `bucketed_table_build`.
    */
  private def sessionId(s: SparkSession): Long = graft.core.GraftSession.sessionId(s)
  // Per-JVM token in the table NAMES: two JVMs (or two sessions in one)
  // sharing a warehouse dir each write their own uniquely-named tables, so
  // no build ever DROPs or deletes another live session's layout and
  // saveAsTable never collides with a dead JVM's leftover location —
  // which also retires the fragile warehouse-path string surgery that
  // used to delete stale dirs by stripPrefix("file:").
  private val jvmToken =
    java.lang.Long.toHexString(java.util.UUID.randomUUID().getMostSignificantBits).take(8)

  /** Best-effort sweep of DEAD JVMs' leftover bucketed-table dirs: unique
    * names mean no live collision, but they also mean nobody ever dropped
    * a dead JVM's layout, so a shared warehouse grew without bound. A dir
    * is reclaimed only if its name is ours-shaped but not OUR token and it
    * hasn't been touched for 24h. Liveness is a HEARTBEAT, not a build
    * stamp: [[touchBucketedDirs]] advances the dirs' mtime on every
    * memoized lookup, so a concurrent JVM's in-use tables stay young no
    * matter how long that session lives (mtime-at-build alone would let a
    * >24h-uptime neighbor lose live tables). Any failure is swallowed:
    * sweeping is hygiene, never correctness.
    */
  private def warehousePath(s: SparkSession): java.nio.file.Path = {
    val raw = s.conf.get("spark.sql.warehouse.dir")
    if (raw.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(raw))
    else java.nio.file.Paths.get(raw)
  }

  /** Heartbeat: mark this JVM's bucketed table dirs as in-use NOW, so no
    * concurrent JVM's sweep can reclaim them mid-session.
    */
  private def touchBucketedDirs(s: SparkSession, names: (String, String)): Unit =
    try {
      val wh = warehousePath(s)
      val now = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())
      Seq(names._1, names._2).foreach { t =>
        val p = wh.resolve(t)
        if (java.nio.file.Files.isDirectory(p)) {
          java.nio.file.Files.setLastModifiedTime(p, now)
          liveBucketedDirs.add(p)
        }
      }
      startBucketedToucher()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Background heartbeat (round-11 ADVICE): the per-lookup touch above
    * keeps ACTIVE tables young, but a session idle on these tables for
    * > 24h between uses could still lose its live dirs to a neighbor
    * JVM's sweep. One daemon timer per JVM re-touches every dir this JVM
    * has ever built/used, hourly — 24 touches of margin per sweep window.
    */
  private val liveBucketedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private val toucherStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def startBucketedToucher(): Unit =
    if (toucherStarted.compareAndSet(false, true)) {
      val t = new java.util.Timer("graft-bucketed-toucher", true)
      t.scheduleAtFixedRate(new java.util.TimerTask {
        override def run(): Unit = try {
          val now = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())
          liveBucketedDirs.forEach { p =>
            if (java.nio.file.Files.isDirectory(p))
              java.nio.file.Files.setLastModifiedTime(p, now)
            else
              // bound the set (round-12 ADVICE): a dir deleted out from
              // under us (dropped table, cleaned warehouse) must not be
              // kept alive in the heartbeat forever — remove it so the
              // set tracks only dirs that still exist; a re-lookup re-adds
              liveBucketedDirs.remove(p)
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }, 3600L * 1000, 3600L * 1000)
    }

  private def sweepStaleBucketedDirs(s: SparkSession): Unit =
    try {
      val wh = warehousePath(s)
      if (java.nio.file.Files.isDirectory(wh)) {
        val cutoff = java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 24L * 3600 * 1000)
        val listing = java.nio.file.Files.list(wh)
        try listing.forEach { p =>
          val n = p.getFileName.toString
          if ((n.startsWith("b_orders_") || n.startsWith("b_lineitem_")) &&
              !n.contains(jvmToken) &&
              java.nio.file.Files.getLastModifiedTime(p).compareTo(cutoff) < 0)
            graft.core.Fs.deleteTree(p)
        } finally listing.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  private def bucketedOrderkeyTables(s: SparkSession, d: String): (String, String) = {
    val names = bucketedBuiltTables(s, d)
    touchBucketedDirs(s, names) // heartbeat on EVERY use, not just at build
    names
  }

  private def bucketedBuiltTables(s: SparkSession, d: String): (String, String) =
    Memo.session(s, s"bucketed:$d") {
      sweepStaleBucketedDirs(s)
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val uniq = s"${key}_${jvmToken}_${sessionId(s)}"
      val (ot, lt) = (s"b_orders_$uniq", s"b_lineitem_$uniq")
      Seq(ot, lt).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      // the two writes target distinct tables and share no state — overlap
      // them (guide §2.6) so the small orders write back-fills the tail of
      // the lineitem write instead of queueing behind it
      graft.core.Par.tasks[Unit](Seq(
        () => graft.sources.Bucketed.write(
          Tables.orders(s, d).select(col("o_orderkey").as("orderkey"), col("o_orderpriority")),
          ot, "orderkey", 16),
        () => graft.sources.Bucketed.write(
          Tables.lineitem(s, d).select(col("l_orderkey").as("orderkey"),
            col("l_extendedprice"), col("l_discount")),
          lt, "orderkey", 16)))
      (ot, lt)
    }

  def prebuildBucketedTables(s: SparkSession, d: String): Unit =
    bucketedOrderkeyTables(s, d)

  /** Revenue by order priority over the CO-LOCATED layout: the lineitem ⋈
    * orders equi-join runs as a sort-merge join with NO exchange on either
    * side (both tables bucketed+sorted on orderkey, pinned by
    * BucketedSpec's plan assertion) — at 100 TB this deletes the fact
    * table's shuffle from every orderkey join that recurs on the layout.
    * Results are layout-independent; the oracle states the same join over
    * the raw tables.
    */
  def bucketedRevenueByPriority(s: SparkSession, d: String): DataFrame = {
    val (ot, lt) = bucketedOrderkeyTables(s, d)
    graft.sources.Bucketed.coLocatedJoin(s, lt, ot, "orderkey")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
  }

  val bucketedRevenueByPrioritySql: String =
    """SELECT o_orderpriority AS priority, COUNT(*) AS n,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  val zorderRectangleSql: String =
    """SELECT o_orderstatus AS status, COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |WHERE o_custkey BETWEEN 100 AND 500
      |  AND o_totalprice BETWEEN 50000 AND 150000
      |GROUP BY 1""".stripMargin

  /** Zone-map-pruned date-range scan: the manifest's per-batch min/max on
    * `odate` lets the driver skip every batch (year) outside 1995 before
    * Spark plans anything — the file-skipping discipline that turns a
    * 100 TB time-range query into a scan of just the matching partitions.
    * Results are identical to a full scan + filter (the zone maps only
    * remove work); the oracle checks exactly that.
    */
  def zonemapOrdersDaterange(s: SparkSession, d: String): DataFrame = {
    val lo = java.time.LocalDate.parse("1995-01-01")
    val hi = java.time.LocalDate.parse("1995-12-31")
    ordersZoneTable(s, d)
      .scanWhere(("odate", Some(lo), Some(hi)))
      .groupBy(month(col("odate")).as("m"))
      .agg(count(lit(1)).as("n"), sum(dec(col("totalprice"))).cast("double").as("total"))
  }

  val zonemapOrdersDaterangeSql: String =
    """SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
      |GROUP BY 1""".stripMargin

  /** Full outer join (the one outer-join shape the corpus lacked):
    * customers capped to a key range against per-customer order
    * aggregates, so BOTH unmatched sides are exercised — customers with
    * no orders (left-only) and order keys past the cap (right-only).
    */
  def fullOuterCustomerOrders(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).where(col("c_custkey") <= 1000)
      .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"))
    val ord = Tables.orders(s, d).groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(dec(col("o_totalprice"))).cast("double").as("total"))
    cust.join(ord, Seq("custkey"), "full_outer")
      .select(col("custkey"), col("segment"), col("n_orders"), col("total"),
        col("segment").isNull.as("order_only"), col("n_orders").isNull.as("customer_only"))
  }

  val fullOuterCustomerOrdersSql: String =
    """SELECT custkey, segment, n_orders, total,
      | segment IS NULL AS order_only, n_orders IS NULL AS customer_only
      |FROM (SELECT c_custkey AS custkey, c_mktsegment AS segment
      |      FROM customer WHERE c_custkey <= 1000) c
      |FULL OUTER JOIN
      |     (SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
      |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |      FROM orders GROUP BY 1) o
      |USING (custkey)""".stripMargin

  /** Change feed as a declared query: the date-clustered orders table is
    * built with one append per order year ascending (the testdata's order
    * dates span 1995-2001 at every sf, so appends 1..7 are those years in
    * order), and `versions(i)` is the manifest version after append i+1.
    * The (versions(2), versions(4)] feed is therefore exactly appends 4
    * and 5 — the 1998+1999 orders — which the oracle states directly,
    * proving `changesBetween` returns precisely the appended span.
    * `_rowid` is excluded: it reflects physical append order, which the
    * oracle cannot (and need not) reproduce.
    */
  def changeFeedOrders(s: SparkSession, d: String): DataFrame = {
    val t = ordersZoneTable(s, d)
    val vs = t.versions
    // the cached table lives behind a /tmp pointer: fail loudly if a stale
    // or foreign build left a different version history than the 7
    // one-append-per-year commits this query's oracle assumes
    require(vs.size == 7,
      s"orders zone table at ${t.root} has ${vs.size} versions, expected 7 (one per order year); " +
        "delete the stale /tmp/graft-rowid-tables pointer and rebuild")
    t.changesBetween(vs(2), vs(4))
      .select("orderkey", "custkey", "totalprice", "odate")
  }

  val changeFeedOrdersSql: String =
    """SELECT o_orderkey AS orderkey, o_custkey AS custkey,
      | o_totalprice AS totalprice, CAST(o_orderdate AS DATE) AS odate
      |FROM orders
      |WHERE EXTRACT(YEAR FROM o_orderdate) IN (1998, 1999)""".stripMargin

  /** Time travel as a declared query (the oracle face of
    * [[graft.core.VectorTable.scanAt]], previously spec-only): the
    * date-clustered orders table AS OF `versions(3)` — the manifest
    * committed by the 4th yearly append — contains exactly the 1995–1998
    * orders, which the oracle states directly over the raw table. Reading
    * a snapshot is pure manifest arithmetic (the version's batch list) —
    * no data diffing, no copy-on-write: the scan plans only the 4 year
    * batches, identical cost to reading a 4-batch table head. `_rowid` is
    * aggregated away for the same reason [[changeFeedOrders]] drops it.
    */
  def snapshotOrdersAsof(s: SparkSession, d: String): DataFrame = {
    val t = ordersZoneTable(s, d)
    val vs = t.versions
    require(vs.size == 7,
      s"orders zone table at ${t.root} has ${vs.size} versions, expected 7 (one per order year); " +
        "delete the stale /tmp/graft-rowid-tables pointer and rebuild")
    t.scanAt(vs(3))
      .groupBy(year(col("odate")).as("yr"))
      .agg(count(lit(1)).as("n"), sum(dec(col("totalprice"))).cast("double").as("total"))
  }

  val snapshotOrdersAsofSql: String =
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS yr,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |WHERE EXTRACT(YEAR FROM o_orderdate) <= 1998
      |GROUP BY 1""".stripMargin

  /** O(1)-able count — reference `len()` (src/vector_engine.rs:29). */
  def tableLength(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(count(lit(1)).as("len"))

  val tableLengthSql: String = "SELECT COUNT(*) AS len FROM lineitem"

  /** Exact statistical aggregates: population covariance and correlation of
    * quantity vs price. Moments are integer-cent sums held in DECIMAL(38,0)
    * — scale-0 decimals convert to double with a single correctly-rounded
    * step in BOTH engines (fractional-scale decimals convert as
    * numerator/10^scale in DuckDB: two roundings, which drifts 1 ulp from
    * the JVM once numerators pass 2^53). The final doubles are derived in a
    * fixed expression order the oracle mirrors bit-for-bit.
    */
  def quantityPriceCovariance(s: SparkSession, d: String): DataFrame = {
    val xc = expr("CAST(round(l_quantity * 100) AS BIGINT)")
    val yc = expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    val d0 = DecimalType(38, 0)
    def dbl(c: String): Column = col(c).cast("double")
    def m(c: String): Column = dbl(c) / col("n")
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), xc.as("xc"), yc.as("yc"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("xc").cast(d0)).as("sx"), sum(col("yc").cast(d0)).as("sy"),
        sum((col("xc").cast(d0) * col("yc")).cast(d0)).as("sxy"),
        sum((col("xc").cast(d0) * col("xc")).cast(d0)).as("sxx"),
        sum((col("yc").cast(d0) * col("yc")).cast(d0)).as("syy"))
      .select(col("l_returnflag"), col("n"),
        ((m("sxy") - m("sx") * m("sy")) / 10000.0).as("covar_pop"),
        ((m("sxy") - m("sx") * m("sy")) /
          (sqrt(m("sxx") - m("sx") * m("sx")) * sqrt(m("syy") - m("sy") * m("sy")))).as("corr"))
  }

  /** Simple linear regression (slope/intercept of extendedprice on
    * quantity) per flag, built from the same DECIMAL(38,0) integer-cent
    * moments as the covariance query: every double is produced by a single
    * cast or a fixed-order arithmetic step, so the oracle reproduces the
    * exact bits (the built-in `regr_slope`'s internal summation order
    * would not be reproducible across engines).
    */
  def quantityPriceRegression(s: SparkSession, d: String): DataFrame = {
    val xc = expr("CAST(round(l_quantity * 100) AS BIGINT)")
    val yc = expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    val d0 = DecimalType(38, 0)
    def dbl(c: String): Column = col(c).cast("double")
    def m(c: String): Column = dbl(c) / col("n")
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), xc.as("xc"), yc.as("yc"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("xc").cast(d0)).as("sx"), sum(col("yc").cast(d0)).as("sy"),
        sum((col("xc").cast(d0) * col("yc")).cast(d0)).as("sxy"),
        sum((col("xc").cast(d0) * col("xc")).cast(d0)).as("sxx"))
      .withColumn("slope",
        (m("sxy") - m("sx") * m("sy")) / (m("sxx") - m("sx") * m("sx")))
      .select(col("l_returnflag"), col("n"), col("slope"),
        ((m("sy") - col("slope") * m("sx")) / 100.0).as("intercept"))
  }

  val quantityPriceRegressionSql: String =
    """SELECT l_returnflag, n, slope,
      | (CAST(sy AS DOUBLE) / n - slope * (CAST(sx AS DOUBLE) / n)) / 100.0 AS intercept
      |FROM (SELECT l_returnflag, n, sx, sy,
      |        (CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
      |         / (CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) AS slope
      |      FROM (SELECT l_returnflag, COUNT(*) AS n,
      |              SUM(CAST(xc AS DECIMAL(38,0))) AS sx,
      |              SUM(CAST(yc AS DECIMAL(38,0))) AS sy,
      |              SUM(CAST(CAST(xc AS DECIMAL(38,0)) * yc AS DECIMAL(38,0))) AS sxy,
      |              SUM(CAST(CAST(xc AS DECIMAL(38,0)) * xc AS DECIMAL(38,0))) AS sxx
      |            FROM (SELECT l_returnflag,
      |                    CAST(round(l_quantity * 100) AS BIGINT) AS xc,
      |                    CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
      |                  FROM lineitem)
      |            GROUP BY l_returnflag))""".stripMargin

  /** Deterministic mode (smallest value among the most frequent — an
    * explicit tie-break both engines compute identically, where built-in
    * `mode()` tie behavior is unspecified) plus boolean aggregates.
    */
  def flagModeProfile(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val c = li.groupBy(col("l_returnflag").as("flag"), col("l_quantity").as("qty"))
      .agg(count(lit(1)).as("cnt"))
    val mx = c.groupBy("flag").agg(max("cnt").as("mx"))
    val mode = c.join(mx, Seq("flag")).where(col("cnt") === col("mx"))
      .groupBy("flag").agg(min("qty").as("mode_qty"), max("cnt").as("mode_n"))
    val bools = li.groupBy(col("l_returnflag").as("flag"))
      .agg(expr("bool_and(l_quantity > 0)").as("all_pos"),
        expr("bool_or(l_discount > 0.05)").as("any_big_disc"))
    mode.join(bools, Seq("flag"))
  }

  val flagModeProfileSql: String =
    """WITH c AS (SELECT l_returnflag AS flag, l_quantity AS qty, COUNT(*) AS cnt
      |           FROM lineitem GROUP BY 1, 2),
      | m AS (SELECT flag, MAX(cnt) AS mx FROM c GROUP BY 1),
      | md AS (SELECT c.flag, MIN(c.qty) AS mode_qty, MAX(c.cnt) AS mode_n
      |        FROM c JOIN m ON c.flag = m.flag AND c.cnt = m.mx GROUP BY c.flag),
      | b AS (SELECT l_returnflag AS flag, bool_and(l_quantity > 0) AS all_pos,
      |         bool_or(l_discount > 0.05) AS any_big_disc
      |       FROM lineitem GROUP BY 1)
      |SELECT md.flag, md.mode_qty, md.mode_n, b.all_pos, b.any_big_disc
      |FROM md JOIN b ON md.flag = b.flag""".stripMargin

  val quantityPriceCovarianceSql: String =
    """SELECT l_returnflag, n,
      | (CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)) / 10000.0 AS covar_pop,
      | (CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
      |  / (sqrt(CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
      |   * sqrt(CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))) AS corr
      |FROM (SELECT l_returnflag, COUNT(*) AS n,
      |        SUM(CAST(xc AS DECIMAL(38,0))) AS sx,
      |        SUM(CAST(yc AS DECIMAL(38,0))) AS sy,
      |        SUM(CAST(CAST(xc AS DECIMAL(38,0)) * yc AS DECIMAL(38,0))) AS sxy,
      |        SUM(CAST(CAST(xc AS DECIMAL(38,0)) * xc AS DECIMAL(38,0))) AS sxx,
      |        SUM(CAST(CAST(yc AS DECIMAL(38,0)) * yc AS DECIMAL(38,0))) AS syy
      |      FROM (SELECT l_returnflag,
      |              CAST(round(l_quantity * 100) AS BIGINT) AS xc,
      |              CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
      |            FROM lineitem)
      |      GROUP BY l_returnflag)""".stripMargin

  /** Data-quality profile — the validation pass every ingest runs: row
    * count, per-column null counts, domain bounds. One scan, one row out.
    */
  def profileOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).agg(
      count(lit(1)).as("n"),
      sum(when(col("o_custkey").isNull, 1).otherwise(0)).as("null_custkey"),
      sum(when(col("o_orderdate").isNull, 1).otherwise(0)).as("null_orderdate"),
      sum(when(col("o_totalprice") <= 0, 1).otherwise(0)).as("nonpositive_price"),
      min(col("o_orderkey")).as("min_orderkey"),
      max(col("o_orderkey")).as("max_orderkey"),
      countDistinct(col("o_orderstatus")).as("n_statuses"))

  val profileOrdersSql: String =
    """SELECT COUNT(*) AS n,
      | CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
      | CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderdate,
      | CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price,
      | MIN(o_orderkey) AS min_orderkey, MAX(o_orderkey) AS max_orderkey,
      | COUNT(DISTINCT o_orderstatus) AS n_statuses
      |FROM orders""".stripMargin

  /** Exact per-group median as a distributed k-th-element selection.
    *
    * The lower median is the k-th smallest value (k = (n+1) div 2), and the
    * OUTPUT depends only on the value order — so instead of sorting every
    * row through a per-group window (3 groups here = 3 tasks sorting the
    * whole table; unusable at 100 TB), aggregate a (group, value) → count
    * histogram (one shuffle, map-side partials) and select the value whose
    * cumulative-count range covers k. The only window runs over the
    * HISTOGRAM — partition size = distinct values per group (≤ 50 for
    * quantities), independent of row count. For high-cardinality value
    * domains the same shape nests: histogram over coarse value ranges,
    * then recurse into the one range containing k.
    */
  def medianQuantityPerFlag(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val cumW = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    val totW = Window.partitionBy("l_returnflag")
    hist
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(totW))
      .where(col("cum") - col("cnt") < expr("(n + 1) DIV 2")
        && expr("(n + 1) DIV 2") <= col("cum")) // lower median, 1-based
      .select(col("l_returnflag"), col("l_quantity").as("median_qty"), col("n"))
  }

  val medianQuantityPerFlagSql: String =
    """SELECT l_returnflag, l_quantity AS median_qty, n FROM (
      | SELECT l_returnflag, l_quantity,
      |   ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |                      ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
      |   COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      | FROM lineitem)
      |WHERE rn = (n + 1) // 2""".stripMargin

  /** Array aggregation: per order, the canonical (sorted) quantity vector
    * plus derived scalars — collect_list is partition-order-dependent, so
    * array_sort makes the array deterministic. The vector is emitted as a
    * comma-joined string of BIGINTs (quantities are integral): the driver's
    * comparator sorts output columns with pandas, which cannot sort raw
    * array cells (CORRECTNESS_r01 `order_quantity_vectors` ERR) — and a
    * canonical scalar rendering is also what survives cross-engine hashing.
    */
  def orderQuantityVectors(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("orderkey"))
      .agg(sort_array(collect_list(col("l_quantity").cast("long"))).as("qarr"))
      .select(col("orderkey"),
        array_join(col("qarr"), ",").as("qtys"),
        size(col("qarr")).cast("long").as("n_lines"),
        element_at(col("qarr"), 1).as("min_qty"),
        element_at(col("qarr"), -1).as("max_qty"))

  val orderQuantityVectorsSql: String =
    """SELECT l_orderkey AS orderkey,
      | array_to_string(list_sort(list(CAST(l_quantity AS BIGINT))), ',') AS qtys,
      | CAST(len(list(l_quantity)) AS BIGINT) AS n_lines,
      | list_sort(list(CAST(l_quantity AS BIGINT)))[1] AS min_qty,
      | list_sort(list(CAST(l_quantity AS BIGINT)))[-1] AS max_qty
      |FROM lineitem GROUP BY l_orderkey""".stripMargin

  /** Sketch-ONLY aggregation — HLL++ distinct counts and approx
    * percentile with no exact counterparts in the plan: constant memory
    * per group at any scale (the exact versions shuffle every distinct
    * value), map-side-combinable partial state. This is the PERFORMANCE
    * face of the sketches — the bench dimension that measures what a
    * sketch costs; the accuracy INVARIANTS (which need the exact values
    * and therefore pay the exact-distinct shuffle) live in the separate
    * verify-gated [[approxSketches]]. Sketch estimates are
    * engine-specific, so this query carries no oracle of its own.
    */
  def approxSketchesOnly(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("approx_median"))

  /** Approximate sketches (HLL++ distinct counts, approx percentile),
    * made oracle-FALSIFIABLE the same way as the trained-quantizer
    * queries: sketch estimates are engine-specific (DuckDB cannot replay
    * Spark's HLL++ registers), so the sketch side enters the result as
    * ACCURACY-INVARIANT booleans the oracle pins TRUE — HLL++ at
    * rsd=0.01 within ±5% of the exact distinct count is a 5σ bound, and
    * percentile_approx at accuracy 1000 inside the exact [p45, p55] band
    * is ~50× its rank-error guarantee. A sketch regression (bad merge,
    * wrong rsd plumbing, broken percentile state) flips a boolean and
    * fails the hash gate. Exact sides ride along as values so the row
    * still carries oracle-checked data, not just flags. NOTE: the exact
    * distincts exist FOR the invariant and cost a full distinct shuffle —
    * [[approxSketchesOnly]] is the sketch-cost bench dimension; this is
    * the correctness gate.
    */
  def approxSketches(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("ao"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("am"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        expr("percentile(l_quantity, 0.45)").as("p45"),
        expr("percentile(l_quantity, 0.55)").as("p55"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
        (abs(col("ap") - col("exact_parts")) <=
          col("exact_parts").cast("double") * 0.05).as("parts_within_5pct"),
        (abs(col("ao") - col("exact_orders")) <=
          col("exact_orders").cast("double") * 0.05).as("orders_within_5pct"),
        (col("am") >= col("p45") && col("am") <= col("p55")).as("median_in_p45_p55"))

  val approxSketchesSql: String =
    """SELECT l_returnflag,
      | CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      | CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
      | TRUE AS parts_within_5pct,
      | TRUE AS orders_within_5pct,
      | TRUE AS median_in_p45_p55
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Custom typed aggregate (Aggregator[IN,BUF,OUT] → udaf): exact
    * count/mean/variance via int64 cent arithmetic — bit-stable under any
    * partial-merge order; the oracle reproduces the final doubles with the
    * same fixed expression.
    */
  def quantityStatsPerFlag(s: SparkSession, d: String): DataFrame = {
    val qstats = udaf(graft.functions.QuantityStats, org.apache.spark.sql.Encoders.DOUBLE)
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(qstats(col("l_quantity")).as("st"))
      .select(col("l_returnflag"), col("st.n").as("n"),
        col("st.mean").as("mean_qty"), col("st.varPop").as("var_qty"))
  }

  val quantityStatsPerFlagSql: String =
    """SELECT l_returnflag, n,
      | CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_qty,
      | (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
      |   - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 10000.0 AS var_qty
      |FROM (SELECT l_returnflag, COUNT(*) AS n,
      |        SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS s,
      |        SUM(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT)) AS ss
      |      FROM lineitem GROUP BY l_returnflag)""".stripMargin

  /** Pure non-equi (theta) join → BroadcastNestedLoopJoin; only ever used
    * with a broadcastable side (here: two tiny dims).
    */
  def thetaNationRegion(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .join(Tables.region(s, d), col("r_name") < col("n_name"))
      .select(col("n_name").as("nation"), col("r_name").as("region"))

  val thetaNationRegionSql: String =
    """SELECT n_name AS nation, r_name AS region
      |FROM nation JOIN region ON r_name < n_name""".stripMargin

  /** Full ranking-function surface: rank, dense_rank, ntile, percent_rank,
    * cume_dist over a deterministic total order.
    */
  def orderPriceRanks(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
        rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("prank"), cume_dist().over(w).as("cdist"))
  }

  val orderPriceRanksSql: String =
    """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
      | RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
      | NTILE(4) OVER w AS quartile,
      | PERCENT_RANK() OVER w AS prank, CUME_DIST() OVER w AS cdist
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin

  /** Explicit GROUPING SETS with grouping() indicators (SQL surface). */
  def groupingSetsQuantity(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        | grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM graft_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))""".stripMargin)
  }

  val groupingSetsQuantitySql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
      | CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))""".stripMargin

  /** CUBE grouping sets (4 groupings from 2 dims; Expand + single agg). */
  def cubeQuantity(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"), count(lit(1)).as("n"))

  val cubeQuantitySql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin

  /** Correlated scalar subqueries (Catalyst decorrelates both into joins):
    * orders 1.5× above their customer's average order value. The comparison
    * is done in exact integer/decimal arithmetic (2·price·n > 3·sum) so the
    * survivor set is engine-independent — no floating-point averaging.
    */
  def ordersAboveCustomerAvg(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    s.sql(
      """SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey, o.o_totalprice AS totalprice
        |FROM graft_orders o
        |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * 2 *
        |      (SELECT COUNT(*) FROM graft_orders o2 WHERE o2.o_custkey = o.o_custkey)
        |    > 3 * (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,2)))
        |           FROM graft_orders o3 WHERE o3.o_custkey = o.o_custkey)""".stripMargin)
  }

  val ordersAboveCustomerAvgSql: String =
    """SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey, o.o_totalprice AS totalprice
      |FROM orders o
      |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * 2 *
      |      (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |    > 3 * (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,2)))
      |           FROM orders o3 WHERE o3.o_custkey = o.o_custkey)""".stripMargin

  /** Pivot (long → wide): order counts per status × priority, via Spark's
    * `RelationalGroupedDataset.pivot` with an explicit value list (the
    * listed values keep the plan a single hash aggregate — without them
    * Spark runs an extra distinct job to discover columns, an anti-pattern
    * at scale). Missing combinations surface as 0, not NULL, to match the
    * oracle's FILTER-aggregate formulation.
    */
  def pivotOrderStatus(s: SparkSession, d: String): DataFrame = {
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val renames = priorities.map(p => p -> s"n_${p.charAt(0)}")
    val pivoted = Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
    renames.foldLeft(pivoted) { case (df, (from, to)) =>
      df.withColumn(to, coalesce(col(s"`$from`"), lit(0L))).drop(from)
    }.withColumnRenamed("o_orderstatus", "status")
  }

  val pivotOrderStatusSql: String =
    """SELECT o_orderstatus AS status,
      | CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_1,
      | CAST(count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS n_2,
      | CAST(count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS n_3,
      | CAST(count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS n_4,
      | CAST(count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS n_5
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** Unpivot (wide → long): part's numeric metrics melted to (part, metric,
    * value) rows — Spark's `unpivot` (Expand node: map-only, no shuffle).
    */
  def unpivotPartMetrics(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"),
        col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retailprice"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
        "metric", "value")

  val unpivotPartMetricsSql: String =
    """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
      |UNION ALL
      |SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part""".stripMargin

  /** Exact interpolated quartiles per return flag — Spark's `percentile`
    * (exact; one shuffle with map-side partial state). The interpolation
    * x + f·(y−x) is bit-exact across engines here: quantities are small
    * integers and f ∈ {0, .25, .5, .75}, all exactly representable.
    */
  def quantityQuartiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("q1"),
        expr("percentile(l_quantity, 0.5)").as("q2"),
        expr("percentile(l_quantity, 0.75)").as("q3"))

  val quantityQuartilesSql: String =
    """SELECT l_returnflag,
      | quantile_cont(l_quantity, 0.25) AS q1,
      | quantile_cont(l_quantity, 0.5) AS q2,
      | quantile_cont(l_quantity, 0.75) AS q3
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Equi-width histogram of order totals: one shuffle on the bucket id
    * with map-side partials — the profiling primitive that stays map-side
    * cheap at any scale (bucket count is fixed, not data-dependent).
    */
  def histogramOrderTotals(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select((floor(col("o_totalprice") / 20000.0)).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))

  val histogramOrderTotalsSql: String =
    """SELECT CAST(floor(o_totalprice / 20000.0) AS BIGINT) AS bucket, COUNT(*) AS n
      |FROM orders GROUP BY 1""".stripMargin

  /** Equi-DEPTH histogram without a global sort: octile cutpoints from a
    * `percentile` aggregate, then binning by cutpoint count — the
    * scale-correct alternative to `ntile` over the full table (a total
    * sort). Octile fractions k/8 are binary-exact and quantities are small
    * integers, so the interpolated cutpoints are bit-identical across
    * engines.
    *
    * Both passes run over the VALUE HISTOGRAM, not raw rows (the
    * median_quantity_per_flag discipline): quantity cardinality is bounded
    * (~50 distinct), so after one map-side-combined count shuffle, the
    * percentile aggregate (weighted by `cnt` — the same Percentile code
    * path, frequency-expanded, hence bit-identical cutpoints) and the
    * per-value HOF binning touch ≤50 rows instead of the corpus. The raw
    * form paid a per-row ObjectHashAggregate update plus a second
    * corpus-sized scan with a per-row lambda — measured 4.0 s → ~1 s at
    * sf0.1, and the gap widens with SF since all post-histogram work is
    * O(cardinality).
    */
  def equidepthQuantity(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.lineitem(s, d)
      .groupBy("l_quantity").agg(count(lit(1)).as("cnt"))
    val cuts = hist
      .agg(expr("percentile(l_quantity, array(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875), cnt)")
        .as("cuts"))
    hist
      .crossJoin(broadcast(cuts))
      .select(expr("size(filter(cuts, c -> c <= l_quantity))").cast("long").as("bin"),
        col("l_quantity"), col("cnt"))
      .groupBy("bin")
      .agg(sum("cnt").as("n"), min("l_quantity").as("lo"), max("l_quantity").as("hi"))
  }

  val equidepthQuantitySql: String =
    """WITH cuts AS (
      |  SELECT quantile_cont(l_quantity, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS cuts
      |  FROM lineitem)
      |SELECT CAST(len(list_filter(c.cuts, x -> x <= l_quantity)) AS BIGINT) AS bin,
      |  COUNT(*) AS n, MIN(l_quantity) AS lo, MAX(l_quantity) AS hi
      |FROM lineitem, cuts c GROUP BY 1""".stripMargin

  /** Positional window values per customer: first / last / 2nd order price
    * in o_orderdate order (o_orderkey tie-break gives a total order; the
    * last_value frame is pinned to the full partition — the default frame
    * stops at CURRENT ROW and silently yields the running last).
    */
  def orderValueExtremes(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .withColumn("first_price", first(col("o_totalprice")).over(full))
      .withColumn("last_price", last(col("o_totalprice")).over(full))
      .withColumn("second_price", nth_value(col("o_totalprice"), 2).over(full))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("o_custkey").as("custkey"),
        col("first_price"), col("last_price"), col("second_price"))
  }

  /** Ordered string aggregation (listagg): distinct part types per brand,
    * sorted then joined — the deterministic form (an unordered string_agg
    * is nondeterministic across partitionings and can never oracle-match).
    * collect_set + array_sort keeps the heavy lifting distributed; only the
    * per-group joined string materializes.
    */
  def stringAggTypes(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .groupBy("p_brand")
      .agg(array_join(array_sort(collect_set(col("p_type"))), ",").as("types"),
        countDistinct(col("p_type")).as("n_types"))

  val stringAggTypesSql: String =
    """SELECT p_brand, string_agg(p_type, ',' ORDER BY p_type) AS types,
      | CAST(COUNT(*) AS BIGINT) AS n_types
      |FROM (SELECT DISTINCT p_brand, p_type FROM part)
      |GROUP BY p_brand""".stripMargin

  /** Array-function surface over per-order quantity vectors: sort, distinct
    * intersection with a reference set, membership, extremes. The arrays
    * stay bounded by order size (≤7 lineitems), so every op is map-side.
    */
  def arrayFunctionsOrders(s: SparkSession, d: String): DataFrame = {
    val small = (1L to 10L).map(_.toDouble)
    Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_quantity"))).as("qtys"))
      .select(
        col("l_orderkey").as("orderkey"),
        size(col("qtys")).cast("long").as("n_items"),
        size(array_intersect(col("qtys"), lit(small.toArray))).cast("long").as("n_small_distinct"),
        array_contains(col("qtys"), 25.0).cast("boolean").as("has_25"),
        element_at(col("qtys"), 1).as("min_qty"),
        element_at(col("qtys"), -1).as("max_qty"),
        size(array_distinct(col("qtys"))).cast("long").as("n_distinct"))
  }

  val arrayFunctionsOrdersSql: String =
    """SELECT l_orderkey AS orderkey,
      | CAST(len(qtys) AS BIGINT) AS n_items,
      | CAST(len(list_distinct(list_filter(qtys, x -> x >= 1 AND x <= 10))) AS BIGINT) AS n_small_distinct,
      | list_contains(qtys, 25.0) AS has_25,
      | qtys[1] AS min_qty,
      | qtys[-1] AS max_qty,
      | CAST(len(list_distinct(qtys)) AS BIGINT) AS n_distinct
      |FROM (SELECT l_orderkey, list_sort(list(l_quantity)) AS qtys FROM lineitem GROUP BY 1)""".stripMargin

  /** NULL-semantics surface: `count(expr)` skips NULLs, `nullif` produces
    * them, `coalesce` recovers them — the trio every engine must agree on.
    */
  def nullSemanticsOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_rows"),
        count(nullif(col("o_orderpriority"), lit("5-LOW"))).as("n_not_low"),
        sum(when(nullif(col("o_orderpriority"), lit("5-LOW")).isNull, 1L).otherwise(0L)).as("n_low"),
        max(coalesce(nullif(col("o_orderpriority"), lit("5-LOW")), lit("0-FILLED"))).as("max_prio"))

  val nullSemanticsOrdersSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      | COUNT(nullif(o_orderpriority, '5-LOW')) AS n_not_low,
      | CAST(SUM(CASE WHEN nullif(o_orderpriority, '5-LOW') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      | MAX(coalesce(nullif(o_orderpriority, '5-LOW'), '0-FILLED')) AS max_prio
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** Regex surface: extract / replace / match with patterns in the portable
    * subset (character classes + anchors) where Java and RE2 semantics
    * coincide.
    */
  def regexPartNames(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey").as("partkey"),
      regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("devoweled"),
      col("p_name").rlike("widget$").as("is_widget"),
      length(regexp_replace(col("p_name"), "[^ ]", "")).cast("long").as("n_spaces"))

  val regexPartNamesSql: String =
    """SELECT p_partkey AS partkey,
      | regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
      | regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
      | regexp_matches(p_name, 'widget$') AS is_widget,
      | CAST(length(regexp_replace(p_name, '[^ ]', '', 'g')) AS BIGINT) AS n_spaces
      |FROM part""".stripMargin

  /** LATERAL correlated subquery (top-2 per group), exercised through the
    * SQL front door ([[graft.GraftCatalog]]): Catalyst decorrelates the
    * per-brand LIMIT subquery into a rank-filter join — no per-row
    * re-execution survives in the plan.
    */
  def lateralTopParts(s: SparkSession, d: String): DataFrame =
    graft.GraftCatalog.sql(s, d,
      """SELECT b.p_brand AS brand, t.p_partkey AS partkey, t.p_retailprice AS price
        |FROM (SELECT DISTINCT p_brand FROM part) b,
        |LATERAL (SELECT p_partkey, p_retailprice FROM part p
        |         WHERE p.p_brand = b.p_brand
        |         ORDER BY p_retailprice DESC, p_partkey LIMIT 2) t""".stripMargin,
      tables = Seq("part"))

  val lateralTopPartsSql: String =
    """SELECT b.p_brand AS brand, t.p_partkey AS partkey, t.p_retailprice AS price
      |FROM (SELECT DISTINCT p_brand FROM part) b,
      |LATERAL (SELECT p_partkey, p_retailprice FROM part p
      |         WHERE p.p_brand = b.p_brand
      |         ORDER BY p_retailprice DESC, p_partkey LIMIT 2) t""".stripMargin

  val orderValueExtremesSql: String =
    """SELECT custkey, first_price, last_price, second_price FROM (
      | SELECT o_custkey AS custkey,
      |  first_value(o_totalprice) OVER w AS first_price,
      |  last_value(o_totalprice) OVER w AS last_price,
      |  nth_value(o_totalprice, 2) OVER w AS second_price,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      | FROM orders
      | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |WHERE rn = 1""".stripMargin

  /** Lineitem ingested in two stages with a [[graft.core.MaterializedAggView]]
    * built on stage one and INCREMENTALLY refreshed for stage two — cached
    * per (machine, sf dir) behind the pointer protocol. The declared query
    * reads the maintained view; the oracle recomputes the same rollup from
    * scratch over all of lineitem, so a green row proves
    * refresh(build(half), rest) ≡ full rebuild, bit-exact.
    */
  private def pricingSummaryView(s: SparkSession, d: String): graft.core.MaterializedAggView =
    Memo.session(s, s"lineitem-agg-view:$d") {
      val root = Memo.machine(s, "graft-rowid-tables", "li-mv", d) { root =>
        val t = graft.core.VectorTable.create(s, s"$root/table")
        val src = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice"))
        val cutoff = src.agg(max(col("l_orderkey"))).head.getLong(0) / 2
        t.append(src.where(col("l_orderkey") <= cutoff))
        val v = graft.core.MaterializedAggView.build(t, s"$root/view",
          Seq("l_returnflag", "l_linestatus"), Seq("l_quantity", "l_extendedprice"))
        t.append(src.where(col("l_orderkey") > cutoff))
        v.refresh()
      }
      graft.core.MaterializedAggView.open(
        graft.core.VectorTable.open(s, s"$root/table"), s"$root/view")
    }

  def prebuildPricingSummaryView(s: SparkSession, d: String): Unit =
    pricingSummaryView(s, d)

  /** The maintained rollup, served from the view state (no base scan at
    * query time). Output shape mirrors q1 so the oracle is a from-scratch
    * GROUP BY over lineitem.
    */
  def mvPricingSummary(s: SparkSession, d: String): DataFrame =
    pricingSummaryView(s, d).read()
      .select(col("l_returnflag"), col("l_linestatus"),
        col("n_rows"),
        col("l_quantity_sum").cast("double").as("sum_qty"),
        col("l_extendedprice_sum").cast("double").as("sum_base_price"),
        col("l_quantity_min").as("min_qty"),
        col("l_extendedprice_max").as("max_price"))

  val mvPricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | MIN(l_quantity) AS min_qty,
      | MAX(l_extendedprice) AS max_price
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Time-based RANGE frame: per customer, rolling 30-day spend — the
    * value-bounded window frame (`RANGE BETWEEN INTERVAL ... PRECEDING`)
    * that ROWS frames can't express (same-day orders share one frame, so
    * the result is insensitive to intra-day ordering — which is also what
    * makes it engine-deterministic). One shuffle on custkey; the frame is
    * evaluated by a sliding aggregate over the sorted partition, not a
    * self-join.
    */
  def rollingSpend30d(s: SparkSession, d: String): DataFrame =
    graft.GraftCatalog.sql(s, d,
      """SELECT o_orderkey AS orderkey, o_custkey AS custkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate
        |   RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS spend_30d
        |FROM orders""".stripMargin,
      tables = Seq("orders"))

  val rollingSpend30dSql: String =
    """SELECT o_orderkey AS orderkey, o_custkey AS custkey,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |   PARTITION BY o_custkey ORDER BY o_orderdate
      |   RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
      |   AS spend_30d
      |FROM orders""".stripMargin

  // --- TPC-H-shaped join-plan depth (Q4/Q7/Q9/Q10 analogs on the reduced
  // schema) — each exercises a distinct physical join pattern the others
  // don't: conditional semi-join, dual-dimension role-playing join,
  // part-filtered star join, and top-k-after-aggregate.

  /** TPC-H Q4-shaped: order-priority census of orders with at least one
    * LATE lineitem (shipped after a grace window past the order date) —
    * an EXISTS with an inequality across tables. Physical shape: LEFT SEMI
    * join on orderkey with the non-equi predicate as join condition; one
    * shuffle each side, then a tiny priority aggregate. The date window
    * prunes orders at the scan.
    */
  def q4PriorityCensus(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
    ord.join(li,
        ord("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 60 DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_late_orders"))
  }

  val q4PriorityCensusSql: String =
    """SELECT o_orderpriority AS priority, COUNT(*) AS n_late_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY 1""".stripMargin

  /** TPC-H Q7-shaped: bilateral shipping volume between two nation pairs
    * by ship year. The nation dimension is joined TWICE in different roles
    * (supplier's nation vs customer's nation) — the role-playing-dimension
    * pattern. All dims broadcast; lineitem streams through unshuffled
    * until the final (year, pair) aggregate.
    */
  def q7NationVolume(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    // The two-nation filter is applied INSIDE each dimension branch before
    // any big join: supplier and customer each shrink to ~2/25 of their
    // rows, lineitem rows for other suppliers drop at the first (broadcast)
    // join, and only the surviving fact rows shuffle for the orderkey join.
    // Only genuinely small tables are broadcast (nation; the
    // nation-filtered supplier/customer sides — at 100 TB those are the
    // AQE-decided joins, not forced).
    val wanted = Seq("NATION_3", "NATION_1")
    val n1 = Tables.nation(s, d).where(col("n_name").isin(wanted: _*))
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d).where(col("n_name").isin(wanted: _*))
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    val suppN = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val custN = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .select(col("c_custkey"), col("cust_nation"))
    val ordN = ord.join(custN, ord("o_custkey") === custN("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    li.join(suppN, li("l_suppkey") === suppN("s_suppkey"))
      .join(ordN, li("l_orderkey") === ordN("o_orderkey"))
      .where((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_1") ||
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("volume"))
  }

  val q7NationVolumeSql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      | CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS ship_year,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume
      |FROM lineitem
      | JOIN orders ON l_orderkey = o_orderkey
      | JOIN supplier ON l_suppkey = s_suppkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN nation n1 ON s_nationkey = n1.n_nationkey
      | JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_1')
      |   OR (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_3')
      |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q9-shaped: profit by supplier nation × order year for a
    * part-name family. The selective part filter is applied BEFORE the
    * join, but the surviving key list carries NO broadcast hint: it is a
    * post-filter slice of an SF-growing table (~8M keys at sf1000, ~800M at
    * 100 TB — a driver OOM if forced onto the driver). Pruning of lineitem
    * is instead left to machinery that never materializes the key list in
    * the driver: AQE picks broadcast only when the filtered side is
    * actually small at runtime, and the runtime bloom-filter rewrite
    * (spark.sql.optimizer.runtime.bloomFilter.*, on in [[graft.core
    * .GraftSession]]) builds a bounded-size bloom from the filtered part
    * keys and applies it to lineitem BEFORE the join shuffle — so rows for
    * other parts still never shuffle, at any SF (pinned by
    * PlanInvariantsSpec's q9 bloom test). supplier grows with SF (~10M
    * rows at sf1000) so its join is AQE-decided, not forced; nation
    * (25 rows, fixed) stays broadcast.
    */
  def q9ProductProfit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val parts = Tables.part(s, d).where(col("p_name").contains("red")).select("p_partkey")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
    val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val nation = Tables.nation(s, d)
    li.join(parts, li("l_partkey") === parts("p_partkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey"))
      .join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey"))
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("profit"))
  }

  val q9ProductProfitSql: String =
    """SELECT n_name AS nation,
      | CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS profit
      |FROM lineitem
      | JOIN part ON l_partkey = p_partkey
      | JOIN supplier ON l_suppkey = s_suppkey
      | JOIN nation ON s_nationkey = n_nationkey
      | JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1, 2""".stripMargin

  /** TPC-H Q10-shaped: top 20 customers by returned-revenue in a quarter —
    * aggregate THEN top-k, so the heavy join output collapses to one row
    * per customer before the TakeOrderedAndProject. Deterministic order:
    * revenue DESC, custkey ASC (exact decimal revenue makes the sort key
    * engine-stable).
    */
  def q10ReturnedRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).where(col("l_returnflag") === "R")
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val cust = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
    // Top-k FIRST, then decorate: the 20 surviving rows (not customer,
    // ~150M rows at sf1000) are the broadcast side, so customer streams
    // through a BroadcastHashJoin with no shuffle and no driver-side risk.
    // (rev_dec DESC, custkey ASC) is a total order (custkey unique), so
    // the limit is deterministic.
    val top = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("o_custkey"))
      .limit(20)
    broadcast(top).join(cust, top("o_custkey") === cust("c_custkey"))
      .orderBy(col("rev_dec").desc, col("o_custkey"))
      .select(col("o_custkey").as("custkey"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), col("rev_dec").cast("double").as("revenue"))
  }

  val q10ReturnedRevenueSql: String =
    """SELECT o_custkey AS custkey, c_name AS name, c_acctbal AS acctbal,
      | CAST(rev_dec AS DOUBLE) AS revenue
      |FROM (
      | SELECT o_custkey,
      |   SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | WHERE l_returnflag = 'R'
      |   AND o_orderdate >= TIMESTAMP '1997-07-01'
      |   AND o_orderdate < TIMESTAMP '1997-10-01'
      | GROUP BY o_custkey)
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY rev_dec DESC, o_custkey LIMIT 20""".stripMargin
}
