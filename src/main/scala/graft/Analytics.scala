package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.AsOf

/** Analytics headline queries (SURVEY.md §2 #15-20): multi-join + agg,
  * windows, event-time buckets, as-of join, latest-per-key.
  *
  * Scale notes (100 TB): tiny dims (region/nation) are broadcast; the
  * fact-fact joins (lineitem⋈orders⋈customer/supplier) shuffle on their
  * keys and rely on AQE for skew splitting. Top-k uses a rounded sort key
  * so ordering is deterministic across engines.
  */
object Analytics {

  private val cutoff = "1998-03-15"

  /** Order-exact revenue sum: TPC-H money/discount/tax columns carry at
    * most 6 true decimal digits, so casting each product to
    * DECIMAL(18,6) recovers its exact decimal value (double error
    * ~1e-10 ≪ 5e-7) and the sum becomes exact integer arithmetic —
    * independent of Spark's nondeterministic partial-aggregate merge
    * order, and therefore stable against the oracle's sequential sum.
    * A plain double sum can land on a round-half boundary and flip the
    * rounded output between runs (observed on q10 at sf0.01). */
  private[graft] def moneySum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 6)))

  private[graft] def moneyAvg(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    avg(c.cast(org.apache.spark.sql.types.DecimalType(18, 6)))

  /** #15 TPC-H Q3-style shipping priority: segment-filtered customer ⋈
    * orders ⋈ lineitem, revenue per order, top 10. */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).cast("double")
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
  }

  /** #16 TPC-H Q5-style local-supplier volume: 6-way join with broadcast
    * region/nation dims, revenue per nation for one region + year. */
  def q5LocalSupplier(s: SparkSession, d: String): DataFrame = {
    val dims = broadcast(
      Tables.nation(s, d).join(
        Tables.region(s, d).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey") &&
                  col("c_nationkey") === col("s_nationkey"))
      .join(dims, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).cast("double")
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** #15b TPC-H Q6-style forecast revenue change: tight filter + global
    * agg. The whole query is one scan — predicate pushdown reaches the
    * parquet row groups (shipdate/discount/quantity min-max pruning) and
    * the aggregation is a two-stage partial/final with no groupBy
    * shuffle at all. */
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .agg(round(moneySum(col("l_extendedprice") * col("l_discount")), 2).cast("double").as("revenue"))

  /** #15c TPC-H Q10-style returned-item reporting: lineitem ⋈ orders ⋈
    * customer with broadcast nation dim, revenue per customer, top 20.
    * Top-k goes through TakeOrderedAndProject (per-partition heap +
    * driver merge), never a full sort. */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame = {
    val nat = broadcast(Tables.nation(s, d).select("n_nationkey", "n_name"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val cust = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(round(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).cast("double")
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
      .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
  }

  /** #15d TPC-H Q14-style promo revenue share: lineitem ⋈ broadcast
    * part, a month of shipments, conditional/total revenue ratio. */
  def q14PromoRevenue(s: SparkSession, d: String): DataFrame = {
    val part = broadcast(Tables.part(s, d).select("p_partkey", "p_type"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast(org.apache.spark.sql.types.DecimalType(18, 6))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) * sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 6)))).cast("double")
        / sum(rev).cast("double")).as("promo_share"))
      .select(graft.functions.Rounding.portableRound(col("promo_share"), 4).as("promo_share"))
  }

  /** #15e TPC-H Q18-style large-volume customers: orders whose line
    * quantity total exceeds a threshold, with customer detail. The
    * HAVING subquery is a groupBy + semi-join — both shuffles are on
    * l_orderkey/o_orderkey, and the big-order set is tiny so it
    * broadcasts into the detail join. */
  def q18LargeVolume(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
    val big = li.groupBy(col("l_orderkey"))
      .agg(round(moneySum(col("l_quantity")), 2).cast("double").as("total_qty"))
      .filter(col("total_qty") > 150)
    val ord = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Tables.customer(s, d).select("c_custkey", "c_name")
    ord.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** #15f TPC-H Q19-style disjunctive predicate revenue: OR-of-ANDs
    * over brand/size/quantity after a broadcast part join — the
    * filter-pushdown stress case (the common `p_partkey = l_partkey`
    * conjunct stays in the join; the disjunction evaluates post-join
    * inside codegen). */
  def q19DiscountedRevenue(s: SparkSession, d: String): DataFrame = {
    val part = broadcast(Tables.part(s, d).select("p_partkey", "p_brand", "p_size"))
    val li = Tables.lineitem(s, d)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#13" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#20" && col("p_size").between(20, 50) &&
        col("l_quantity").between(20, 50))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(round(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .cast("double").as("revenue"))
  }

  /** #15g TPC-H Q4-style priority counts via EXISTS: orders in a
    * quarter having at least one line shipped ≥ 90 days after the
    * order date (late-shipment proxy — the testdata carries no
    * commit/receipt dates), counted by priority. The EXISTS plans as a
    * LEFT-SEMI join on the order key — the lineitem side never
    * duplicates orders, so the count needs no distinct. */
  def q4PriorityCount(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val late = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
    ord.join(late,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= date_add(col("o_orderdate"), 90),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** #15h TPC-H Q12-style shipping-delay buckets: line ships join their
    * orders; per delay bucket (≥60 days = late), count high- vs
    * low-priority orders as conditional sums — Q12's ship-mode split
    * re-expressed on the available columns. One shuffle (the join);
    * the bucket agg rides map-side. */
  def q12ShippingDelay(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_bucket",
        when(datediff(col("l_shipdate"), col("o_orderdate")) >= 60, "late")
          .otherwise("ontime"))
      .groupBy(col("delay_bucket"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_priority_lines"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("low_priority_lines"))
      .orderBy(col("delay_bucket"))
  }

  /** #15i TPC-H Q13-style customer order-count distribution: LEFT OUTER
    * customer→orders (keeping zero-order customers), count per
    * customer, then the distribution of those counts. Two shuffles by
    * construction (join/agg on custkey, then agg on the count). The
    * priority filter stands in for Q13's comment pattern. */
  def q13OrderDistribution(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_orderkey", "o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips the NULLs
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** #15j TPC-H Q17-style small-quantity revenue: lines of one brand
    * whose quantity is under 20% of that part's average quantity. The
    * correlated AVG subquery becomes a per-part aggregate joined back —
    * both sides shuffle on partkey once; the brand filter prunes
    * before either shuffle. */
  def q17SmallQuantity(s: SparkSession, d: String): DataFrame = {
    val part = broadcast(Tables.part(s, d)
      .filter(col("p_brand") === "Brand#13").select("p_partkey"))
    val li = Tables.lineitem(s, d)
      .join(part, col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
    // the avg comparison stated exactly: qty < 0.5·(sum/cnt) ⇔
    // qty·cnt·2 < sum — decimal/integer arithmetic is exact in both
    // engines, so boundary rows can't flip between Spark and the oracle
    val avgQ = li.groupBy(col("l_partkey"))
      .agg(moneySum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
    li.join(avgQ, "l_partkey")
      .filter(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 6))
        * col("cnt") * 2 < col("sum_qty"))
      .agg(round(moneySum(col("l_extendedprice")) / 7, 2).cast("double")
        .as("avg_yearly"))
  }

  /** #15k TPC-H Q22-style dormant high-balance customers: customers
    * with above-average positive balance and no orders since 2001 —
    * the global scalar subquery broadcasts as a literal-sized frame,
    * the NOT EXISTS is a LEFT-ANTI join, and the final agg groups by
    * nation (the testdata's stand-in for Q22's phone country code). */
  def q22DormantCustomers(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey", "c_acctbal")
    // exact-comparison form of "balance above average" (see q17)
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg(moneySum(col("c_acctbal")).as("sum_bal"), count(lit(1)).as("cnt"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 6))
        * col("cnt") > col("sum_bal"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        round(moneySum(col("c_acctbal")), 2).cast("double").as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** #15l TPC-H Q7-style nation-pair volume: revenue shipped between
    * two nations (both directions), by ship year. Supplier and
    * customer dims are pre-filtered to the two nations and broadcast —
    * the nation filter therefore prunes the fact scan through the
    * broadcast hash joins, and only the lineitem↔orders join
    * shuffles; the pair-validity filter (A→B or B→A) runs after both
    * dims have attached. */
  def q7NationVolume(s: SparkSession, d: String): DataFrame = {
    val natA = "NATION_2"
    val natB = "NATION_7"
    val nat = Tables.nation(s, d)
      .filter(col("n_name").isin(natA, natB)).select("n_nationkey", "n_name")
    val sup = broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val cust = broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey")
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation")))
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        col("l_extendedprice"), col("l_discount"))
    li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === natA && col("cust_nation") === natB) ||
              (col("supp_nation") === natB && col("cust_nation") === natA))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(round(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** #15m TPC-H Q8-style market share: of PROMO-part revenue sold into
    * EUROPE-region customers over two years, the fraction supplied by
    * NATION_2, per year. Part/supplier/customer-region dims broadcast;
    * the conditional/total ratio follows q14's exact-decimal-sums +
    * one-double-division recipe. */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val euroNat = broadcast(Tables.nation(s, d)
      .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey")))
    val cust = broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey")
      .join(euroNat, col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey"))
    val part = broadcast(Tables.part(s, d)
      .filter(col("p_type") === "PROMO").select("p_partkey"))
    val sup = broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"))
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec)
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(year(col("l_shipdate")).cast("long").as("o_year"),
        rev.as("volume"), col("s_nationkey"))
      .groupBy(col("o_year"))
      .agg((sum(when(col("s_nationkey") === 2, col("volume"))
            .otherwise(lit(0).cast(dec))).cast("double")
          / sum(col("volume")).cast("double")).as("share"))
      .select(col("o_year"), graft.functions.Rounding.portableRound(col("share"), 4).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** #15n TPC-H Q15-style top supplier: revenue per supplier over a
    * quarter, return the supplier(s) matching the maximum. The max is
    * a scalar aggregate over the (already tiny) per-supplier rollup,
    * broadcast back as a cross join — no global window, no second
    * scan of the fact table; the equality compare runs on exact
    * decimal sums so ties are engine-stable. */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val revBySup = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_rev"))
    val mx = revBySup.agg(max(col("total_rev")).as("max_rev"))
    revBySup.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("total_rev"), 2).cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** #15o TPC-H Q16-style supplier variety: distinct suppliers per
    * (brand, type) — lineitem is the part↔supplier bridge (the
    * testdata has no partsupp) — excluding one brand and any supplier
    * with a negative balance (Q16's complaints list re-expressed on
    * available columns). The exclusion list is a tiny broadcast
    * anti-join; the distinct count shuffles once on (brand, type). */
  def q16PartVariety(s: SparkSession, d: String): DataFrame = {
    val part = broadcast(Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#13")
      .select("p_partkey", "p_brand", "p_type"))
    val excl = broadcast(Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0).select("s_suppkey"))
    Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(excl, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"))
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))
  }

  /** #15p TPC-H Q21-style waiting suppliers: on multi-supplier orders,
    * the supplier who was the ONLY one to ship late (≥ 90 days after
    * the order date — the testdata's lateness proxy, as in q4), counted
    * per supplier, top 10. The EXISTS/NOT-EXISTS pair becomes
    * per-order window counts OVER the (order, supplier) rollup — not
    * a self-join against a second aggregate of it, which would scan
    * and shuffle the fact table twice. One fact scan, two exchanges
    * (the rollup's, then the order-level window's). */
  def q21WaitingSuppliers(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
    val byOrd = Window.partitionBy(col("l_orderkey"))
    Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate") >= date_add(col("o_orderdate"), 90), 1L)
        .otherwise(0L)).as("is_late"))
      .withColumn("n_supp", count(lit(1)).over(byOrd))
      .withColumn("n_late", sum(col("is_late")).over(byOrd))
      .filter(col("is_late") === 1L && col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
      .select("s_name", "numwait")
  }

  /** #15q TPC-H Q2-style minimum-cost supplier: for every LARGE part,
    * the EUROPE-region supplier(s) whose best offer price equals the
    * part's region-wide minimum — lineitem is the part↔supplier bridge
    * and min(l_extendedprice) the offer-price stand-in (no partsupp in
    * the testdata). Q2's correlated scalar-min subquery re-plans as
    * ONE per-(part, supplier) rollup, a per-part min over it, and an
    * equality join back — never a per-row subquery, never a
    * nested-loop; supplier/nation/region dims broadcast. The compare
    * is raw-value equality (min of stored doubles, no arithmetic), so
    * it cannot flip between engines; the final sort key is unique
    * ((supplier, part) pairs), so the top-100 cut is stable. */
  def q2MinCostSupplier(s: SparkSession, d: String): DataFrame = {
    val sr = broadcast(Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    // min/offer per part is independent across parts, so the LARGE-part
    // semi-join goes BELOW the first rollup: the (part, supplier) shuffle
    // aggregates only the pruned slice, not the whole EUROPE fact.
    val part = broadcast(Tables.part(s, d)
      .filter(col("p_type") === "LARGE").select("p_partkey"))
    val offers = Tables.lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(part, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(sr.select("s_suppkey")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("offer_price"))
    val minCost = offers.groupBy(col("l_partkey").as("mc_partkey"))
      .agg(min(col("offer_price")).as("min_price"))
    offers
      .join(minCost, col("l_partkey") === col("mc_partkey") &&
                     col("offer_price") === col("min_price"))
      .join(sr, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"), col("offer_price"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** #15r TPC-H Q9-style product-type profit: profit per supplier
    * nation and order year over '%widget%' parts, with unit cost stood
    * in by 10% of p_retailprice (no partsupp.ps_supplycost in the
    * testdata). Part and supplier-nation dims broadcast, so only the
    * lineitem↔orders join shuffles; both profit terms are pinned to
    * DECIMAL separately BEFORE the subtraction, making the per-row
    * amount and its sum exact and partial-merge-order-free. */
  def q9ProductProfit(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val part = broadcast(Tables.part(s, d)
      .filter(col("p_name").contains("widget"))
      .select("p_partkey", "p_retailprice"))
    val sup = broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name")))
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
    val amount = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(dec) -
      (lit(0.1) * col("p_retailprice") * col("l_quantity")).cast(dec)
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(sum(amount), 2).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** #15s TPC-H Q11-style important parts: parts whose ASIA-region
    * shipped value exceeds 1/1000 of the region total (ps_availqty ·
    * ps_supplycost stood in by shipped l_extendedprice·l_quantity).
    * The global total is a one-row broadcast cross join over the
    * per-part rollup; the threshold runs as `value·1000 > total` on
    * exact decimals — no float fraction, boundary parts can't flip
    * engines. Two aggregations (per-part, then global), one fact
    * shuffle each, exactly Q11's HAVING-over-scalar-subquery shape. */
  def q11ImportantParts(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val sup = broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey"))
    val byPart = Tables.lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * col("l_quantity")).cast(dec)).as("pv"))
    val total = byPart.agg(sum(col("pv")).as("total_value"))
    byPart.crossJoin(broadcast(total))
      .filter(col("pv") * 1000 > col("total_value"))
      .select(col("l_partkey").as("p_partkey"),
        round(col("pv"), 2).cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("p_partkey"))
  }

  /** #15t TPC-H Q20-style excess-stock suppliers: AMERICA-region
    * suppliers who shipped, since 2000, more than HALF of their OWN
    * all-time quantity of some '%bolt%' part (Q20's availqty >
    * ½·demand is per (supplier, part) — no partsupp in the testdata,
    * so shipped quantities stand in for both sides). The
    * double-nested EXISTS becomes: recent per-(part, supplier)
    * rollup ⋈ all-time per-(part, supplier) rollup, the exact
    * 2·qty > total decimal compare, then a LEFT SEMI into the
    * region's suppliers — each EXISTS level is one aggregation + one
    * join, nothing correlated per-row, nothing nested-loop. (A
    * per-PART total compare is vacuous on this data — no single
    * supplier holds half a part's market — which would leave the
    * correctness gate comparing empty sets.) */
  def q20ExcessSuppliers(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val part = broadcast(Tables.part(s, d)
      .filter(col("p_name").contains("bolt")).select("p_partkey"))
    val li = Tables.lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
      .join(part, col("l_partkey") === col("p_partkey"))
    val recent = li.filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast(dec)).as("recent_qty"))
    val totals = li.groupBy(col("l_partkey").as("t_partkey"),
        col("l_suppkey").as("t_suppkey"))
      .agg(sum(col("l_quantity").cast(dec)).as("total_qty"))
    val qual = recent.join(totals, col("l_partkey") === col("t_partkey") &&
        col("l_suppkey") === col("t_suppkey"))
      .filter(col("recent_qty") * 2 > col("total_qty"))
      .select(col("l_suppkey")).distinct()
    val natRegion = broadcast(Tables.nation(s, d)
      .join(Tables.region(s, d).filter(col("r_name") === "AMERICA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey"))
    Tables.supplier(s, d)
      .join(natRegion, col("s_nationkey") === col("n_nationkey"))
      .join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  /** #14e rollup with subtotals + grand total (grouping sets): revenue
    * by (returnflag, linestatus) plus per-flag and overall margins,
    * disambiguated by grouping_id. One shuffle; Spark expands the
    * grouping sets map-side. */
  def rollupRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"),
        grouping_id().as("gid"))

  /** #14b pandas-style pivot_table: order counts + revenue by priority
    * (rows) × status (columns). `groupBy(...).pivot(col, values)` with
    * EXPLICIT pivot values — at 100 TB, never let pivot run its
    * distinct-values discovery job. */
  def pivotOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"), col("F").as("n_f"), col("O").as("n_o"),
        col("P").as("n_p"))

  /** #14c pandas-style melt/unpivot: lineitem measures to long format
    * (narrow row-fanout, no shuffle). */
  def unpivotLineitem(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax")
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "metric", valueColumnName = "value")

  /** #14d pandas describe(): count/mean/std/min/max per measure, long
    * format. Sums (and sums of squares) go through decimal so the
    * moments are independent of partial-agg merge order; std uses the
    * n−1 sample formula from those exact sums. All measures' moments
    * come from ONE aggregate over one scan (4 scans before — pandas
    * describes every column in a single pass and so do we); the
    * one-row wide result then unpivots to long form. */
  def describeLineitem(s: SparkSession, d: String): DataFrame = {
    val metrics = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables.lineitem(s, d)
    val aggs = metrics.flatMap { m =>
      val x = col(m)
      Seq(
        moneySum(x).cast("double").as(s"_s_$m"),
        sum((x * x).cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double").as(s"_s2_$m"),
        min(x).cast("double").as(s"_min_$m"),
        max(x).cast("double").as(s"_max_$m"))
    } :+ count(lit(1)).cast("double").as("_n")
    val wide = li.agg(aggs.head, aggs.tail: _*)
    val frames = metrics.map { m =>
      wide.select(lit(m).as("metric"), col("_n").cast("long").as("n"),
        graft.functions.Rounding.portableRound(col(s"_s_$m") / col("_n"), 4).as("mean"),
        graft.functions.Rounding.portableRound(sqrt((col(s"_s2_$m") - col(s"_s_$m") * col(s"_s_$m") / col("_n")) / (col("_n") - 1)), 4)
          .as("std"),
        col(s"_min_$m").as("min_val"), col(s"_max_$m").as("max_val"))
    }
    frames.reduce(_ unionByName _)
  }

  /** #14f pandas merge(indicator=True): full-outer customer ↔ order
    * rollup with a _merge provenance column (left_only/right_only/
    * both). */
  def mergeIndicator(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    val roll = Tables.orders(s, d)
      .filter(col("o_orderkey") % 3 === 0) // keep some customers order-less
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    cust.join(roll, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"), col("n_orders"),
        when(col("c_custkey").isNull, "right_only")
          .when(col("o_custkey").isNull, "left_only")
          .otherwise("both").as("merge_side"))
  }

  /** #14g pandas cut(): fixed-edge binning of order value into labeled
    * buckets + per-bin histogram. Bin assignment is a narrow when-chain
    * on the scan; the histogram is one partial-agg shuffle. */
  def cutOrderValue(s: SparkSession, d: String): DataFrame = {
    val p = col("o_totalprice")
    val bin = when(p < 50000, "lt_50k")
      .when(p < 150000, "50k_150k")
      .when(p < 300000, "150k_300k")
      .otherwise("ge_300k")
    Tables.orders(s, d).select(bin.as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_orders"))
  }

  /** #14h pandas qcut(): quantile binning — equal-POPULATION bins
    * (ntile semantics) rather than cut()'s fixed edges, with per-bin
    * stats. Deterministic via the (value, key) tie-break.
    *
    * Computed WITHOUT a global window — and without ranking every row:
    * ntile's bin boundaries are pure arithmetic on (rank, N) — the
    * first N%4 bins take ceil(N/4) rows, the rest floor(N/4) — so each
    * bin is (size from arithmetic, min/max from the values at its two
    * boundary ranks). [[graft.operators.ExactRank.globalRankSelect]]
    * fetches exactly those 2k boundary rows, sorting only the shards
    * that hold a boundary. Matches ntile(4) bin-for-bin while the
    * heavy sort shrinks from the table to a few shards at 100 TB. */
  def qcutOrderValue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, d).select(col("o_totalprice"), col("o_orderkey"))
    val k = 4L
    // A bin's stats are pure arithmetic + two rank PROBES: its size is
    // ntile arithmetic on (n, k), its min/max are the values at its
    // boundary ranks — so instead of ranking every row and aggregating,
    // select just the 2k boundary rows (rank-select windows only the
    // shards holding a boundary) and assemble bins from them.
    var boundaries: Seq[(Long, Long, Long)] = Nil // (bin, loRank, hiRank)
    val (sel, _) = graft.operators.ExactRank.globalRankSelect(
      orders, "o_totalprice", "o_orderkey", "rn",
      targetsOf = { n =>
        val sizes = (1L to k).map(b => n / k + (if (b <= n % k) 1L else 0L))
        val his = sizes.scanLeft(0L)(_ + _).tail // inclusive hi rank per bin
        val los = his.zip(sizes).map { case (hi, sz) => hi - sz + 1 }
        boundaries = (1L to k).zip(los.zip(his)).map { case (b, (lo, hi)) => (b, lo, hi) }
        los ++ his
      })
    // When n < k, ntile leaves trailing bins empty (lo = hi+1, hi
    // shared with the previous bin's boundary); the oracle's ntile
    // form emits no row for them, so drop them before the probe join —
    // otherwise the shared boundary row would fabricate an n_orders=0
    // bin with a null min_value.
    val bins = boundaries.collect { case (b, lo, hi) if hi >= lo => (b, lo, hi, hi - lo + 1) }
      .toDF("bin", "lo_rank", "hi_rank", "n_orders")
    sel.join(broadcast(bins),
        col("rn") === col("lo_rank") || col("rn") === col("hi_rank"))
      .groupBy(col("bin"))
      .agg(max(col("n_orders")).as("n_orders"),
        min(when(col("rn") === col("lo_rank"), col("o_totalprice"))).as("min_value"),
        max(when(col("rn") === col("hi_rank"), col("o_totalprice"))).as("max_value"))
      .orderBy(col("bin"))
  }

  /** #17b rolling mean (pandas rolling(7).mean()): 7-row trailing
    * average of spend per customer. Window frames evaluate in order, so
    * the decimal sum / count quotient is deterministic. */
  def wRollingAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-6, Window.currentRow)
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      graft.functions.Rounding.portableRound(moneySum(col("o_totalprice")).over(w).cast("double")
        / count(lit(1)).over(w), 4).as("rolling_avg_spend"))
  }

  /** #17 window functions: per-customer order sequence + running spend. */
  def wRunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      row_number().over(w).as("order_seq"),
      round(sum(col("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
        .as("running_spend"))
  }

  /** #18 event-time tumbling window aggregation (1h buckets). */
  def eventsWindowed(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(moneySum(col("value")), 2).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** #33f streaming → store bridge, CORRECTNESS-gated end to end: the
    * events table replayed as a file STREAM through the watermarked
    * tumbling-window agg, each micro-batch foreachBatch-upserted into a
    * keyed table (StreamingIngest.start), then the table read back.
    * Late-window re-emission + PK upsert make the sink idempotent, so
    * the converged table must equal the batch aggregation — the same
    * oracle as `events_windowed`, now asserted across the streaming
    * path AND a real store write/read cycle. */
  def streamUpsert(s: SparkSession, d: String): DataFrame = {
    val wh = graft.TempDirs.tempDir("graft-stream-wh-")
    val ck = graft.TempDirs.tempDir("graft-stream-ck-")
    // the file stream source wants a DIRECTORY: stage the (read-only)
    // events parquet into a temp dir via symlink — the stream then
    // discovers it as one "arriving" file
    val srcDir = java.nio.file.Paths.get(graft.TempDirs.tempDir("graft-stream-src-"))
    java.nio.file.Files.createSymbolicLink(
      srcDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    // same ts normalization as Tables.events — shared dispatch helper
    // handles both raw-nanos LongType and µs TIMESTAMP_NTZ encodings
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = s.read.parquet(s"$d/events.parquet").schema
    val stream = Tables.normalizeEventsTs(
      s.readStream.schema(sch).parquet(srcDir.toString))
    graft.streaming.StreamingIngest
      .start(stream, wh, "win_agg", ck).awaitTermination()
    graft.store.KeyedTable.readSql(s, wh, "win_agg")
      .select(col("win_start"), col("event_type"), col("n_events"), col("sum_value"))
  }

  /** #18g semi-structured props extraction: events carry a JSON string
    * column; `get_json_object` pulls typed fields out IN the scan
    * (per-row path evaluation, no UDF, no schema pre-pass), and the
    * usual aggregate runs over the extracted value. At 100 TB the
    * point is that semi-structured columns don't force a second
    * pipeline: extraction is a narrow projection fused into the scan,
    * and malformed rows degrade to NULL (counted here) instead of
    * failing the job. All-integer aggregates. */
  def eventsProps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_bad"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))

  /** #18h exact-integer anomaly flags on event-rate buckets: hourly
    * event counts per type, flagged when they deviate from the type's
    * mean by more than `z0` standard deviations — with the z-test
    * algebraically cleared of floats: |x−μ|/σ > z₀ ⇔
    * (x·n − Σx)² > z₀²·(n·Σx² − (Σx)²), every term an exact integer.
    * No float mean, no sqrt, no libm — the flag is bit-identical on
    * every engine, which a float z-score can never guarantee at the
    * boundary. Two tiny aggregations (buckets, then per-type moment
    * totals broadcast back); population σ (the monitoring convention).
    * Returns (event_type, bucket_s, n_events, is_anomaly). */
  def eventsAnomaly(s: SparkSession, d: String, z0: Long = 3L): DataFrame = {
    val buckets = Tables.events(s, d)
      .select(col("event_type"),
        (col("ts").cast("long") - pmod(col("ts").cast("long"), lit(3600L)))
          .as("bucket_s"))
      .groupBy(col("event_type"), col("bucket_s"))
      .agg(count(lit(1)).as("n_events"))
    val moments = buckets.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nb"), sum(col("n_events")).as("sx"),
        sum(col("n_events") * col("n_events")).as("sxx"))
    buckets.join(broadcast(moments), Seq("event_type"))
      .withColumn("_lhs",
        (col("n_events") * col("nb") - col("sx")) *
        (col("n_events") * col("nb") - col("sx")))
      .withColumn("_rhs",
        lit(z0 * z0) * (col("nb") * col("sxx") - col("sx") * col("sx")))
      .select(col("event_type"), col("bucket_s"), col("n_events"),
        (col("_lhs") > col("_rhs")).as("is_anomaly"))
  }

  /** #18b gap-based sessionization: a new session starts when a user's
    * inter-event gap exceeds 30 min. One shuffle (by user) feeds both
    * windows — the lag-based session-break flag and the running count
    * that numbers sessions — then a per-session aggregate. The batch
    * twin of Structured Streaming's session_window.
    *
    * Skew note: window partitioning puts ALL of one key's rows in one
    * task, and AQE does not split window skew — a bot user with 10⁸
    * events becomes a straggler. Per-task input here is bounded by the
    * hottest key, acceptable for user-keyed events (humans cap out);
    * for genuinely unbounded keys the fix is salted two-phase
    * sessionization: partition by (key, time-chunk) so each task
    * sessionizes a bounded slice, then a second, pairs-only pass over
    * chunk boundaries merges sessions that straddle a chunk edge
    * (boundary rows per key = 2 × chunks, not |events|). Same recipe
    * applies to any lag/running-count window, e.g. [[AsOf.asofJoin]].
    */
  def eventsSessionized(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("gap_s",
        col("ts").cast("long") - lag(col("ts").cast("long"), 1).over(byUser))
      .withColumn("new_session",
        when(col("gap_s").isNull || col("gap_s") > 1800, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_no"))
      // epoch-second BIGINT start: the parquet carries ns timestamps that
      // Spark reads at µs — any TIMESTAMP output risks a representation
      // (precision) mismatch against an ns-precision engine even when the
      // logical instants agree, so both sides emit whole seconds as a
      // plain integer (cast-to-long floors; floor is monotonic, so
      // floor(min) == min(floor))
      .agg(min(col("ts")).cast("long").as("session_start"),
        count(lit(1)).as("n_events"),
        round(moneySum(col("value")), 2).cast("double").as("sum_value"))
      .select(col("user_id"), col("session_no"), col("session_start"),
        col("n_events"), col("sum_value"))
  }

  /** #18c the salted two-phase sessionization ([[operators.Sessionize
    * .gapSessionsSalted]]) — skew-proof twin of #18b, day-chunked
    * against the 30-min gap. Oracle-gated against the PLAIN
    * sessionization SQL: producing identical sessions is exactly the
    * operator's correctness claim. */
  def eventsSessionizedSalted(s: SparkSession, d: String): DataFrame =
    operators.Sessionize.gapSessionsSalted(
      Tables.events(s, d).select("event_id", "user_id", "ts"),
      keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      gapSeconds = 1800L, chunkSeconds = 86400L)

  /** #20b pandas ffill() over the events stream: the corpus has no
    * natural NULLs, so every 7th event's value is nulled
    * deterministically (oracle too), then forward-filled per user in
    * event order. Leading NULLs (no predecessor) stay NULL on both
    * sides. */
  def ffillEvents(s: SparkSession, d: String): DataFrame =
    AsOf.ffill(
      Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value"))
          .as("value_filled")),
      key = Seq("user_id"), time = "ts", tieBreak = "event_id",
      cols = Seq("value_filled"))
      .select("event_id", "user_id", "value_filled")

  /** #20c pandas shift()/diff() over events: previous value, value
    * delta, and inter-event gap per user in event order. The value
    * delta runs in DECIMAL(9,2) — events carry 2 true decimals — then
    * lands as double (exact, engine-portable); the gap is whole
    * seconds (epoch floor, the same floor both engines take). */
  def eventsDiff(s: SparkSession, d: String): DataFrame =
    operators.AsOf.shiftDiff(
      Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"),
        col("value").cast("decimal(9,2)").as("val_d"),
        col("ts").cast("long").as("ts_s")),
      key = Seq("user_id"), time = "ts", tieBreak = "event_id",
      cols = Seq("val_d", "ts_s"))
      .select(col("event_id"), col("user_id"),
        col("prev_val_d").cast("double").as("prev_value"),
        col("delta_val_d").cast("double").as("delta_value"),
        col("delta_ts_s").as("gap_seconds"))

  /** #18d pandas resample('1h').ohlc() per user: bucketed
    * open/high/low/close/count over event values. Open/close are pure
    * SELECTION of existing doubles via (time, id)-ordered
    * min_by/max_by — no float arithmetic to drift — and the bucket
    * lands as epoch-second BIGINT (no TIMESTAMP reconstruction). One
    * shuffle on (user, bucket), partial-aggregated map-side. */
  def eventsResample(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open_v"),
        max(col("value")).as("high_v"),
        min(col("value")).as("low_v"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close_v"))
      .select(col("user_id"), col("window.start").cast("long").as("bucket_s"),
        col("n_events"), col("open_v"), col("high_v"), col("low_v"),
        col("close_v"))

  /** #37 linear-counting distinct sketch: per event type, distinct
    * users both exactly and as the bounded-memory sketch (md5
    * positions, m = 4096). The oracle compares the exact-integer
    * sketch state; the estimator's accuracy is spec-gated
    * (OperatorsSpec2). */
  def distinctSketchQ(s: SparkSession, d: String): DataFrame =
    operators.Sketch.distinctSketch(
      Tables.events(s, d), keys = Seq("event_type"), valueCol = "user_id",
      m = 4096)
      .orderBy(col("event_type"))

  /** #37e KMV quantile sketch: per event type, p50/p90/p99 of `value`
    * estimated from the deterministic bottom-256 md5 sample
    * ([[operators.Sketch.kmvQuantiles]]). Integer rank math over the
    * sample — the oracle replays the hash ranks and rank picks
    * exactly; sampling accuracy vs the true quantiles is spec-gated. */
  def kmvQuantilesQ(s: SparkSession, d: String): DataFrame =
    operators.Sketch.kmvQuantiles(
      Tables.events(s, d), groupCol = "event_type", keyCol = "event_id",
      valueCol = "value", k = 256)

  /** #19b binned interval join ([[operators.RangeJoin]]): per purchase
    * event, the count and value-sum of SAME-USER events in the 15
    * minutes after it — activity-after-trigger. Times are epoch-second
    * BIGINTs end to end (the range predicate must evaluate identically
    * at ns and µs precision); the value sum rides DECIMAL(9,2) (events
    * carry two true decimals) and lands as double. Zero-follower
    * anchors keep n_follow = 0 / NULL sum — outer-join semantics both
    * sides. */
  def rangeJoinQ(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val anchors = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").cast("long").as("anchor_s"))
    val followers = e.select(col("user_id"),
      col("ts").cast("long").as("f_s"), col("value").cast("decimal(9,2)").as("v"))
    operators.RangeJoin.intervalAgg(
      anchors, followers, keyCol = "user_id", anchorIdCol = "event_id",
      anchorTimeCol = "anchor_s", followerTimeCol = "f_s",
      windowSeconds = 900L,
      aggs = Seq(round(sum(col("v")), 2).cast("double").as("sum_value")))
      .select("event_id", "user_id", "anchor_s", "n_follow", "sum_value")
  }

  /** #37c HyperLogLog sketch state per event type over user ids
    * ([[operators.Sketch.hllSketch]], m = 256). The oracle replays the
    * md5 register geometry exactly; the estimator (float) is
    * spec-gated. */
  def hllSketchQ(s: SparkSession, d: String): DataFrame =
    operators.Sketch.hllSketch(
      Tables.events(s, d), keys = Seq("event_type"), valueCol = "user_id",
      m = 256)
      .orderBy(col("event_type"), col("register"))

  /** #16b salted skew join ([[operators.SaltedJoin]]): lineitem ⋈
    * orders on the order key, salted 8 ways (line number spreads the
    * key), revenue per order priority. Oracle-gated against the PLAIN
    * join SQL — producing identical results is the operator's
    * correctness claim. */
  def joinSaltedQ(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
    operators.SaltedJoin.saltedEquiJoin(
      li, ord, bigKey = "l_orderkey", smallKey = "o_orderkey",
      disambig = Seq("l_orderkey", "l_linenumber"), salts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** #20d pandas interpolate() over events: every 5th value nulled
    * deterministically (oracle too), then linearly interpolated per
    * user between the surrounding observations, positioned by epoch-µs
    * time. Interior gaps interpolate, trailing NULLs carry forward,
    * leading NULLs stay NULL — pandas' default. The single-division
    * formula evaluates identically in IEEE double on both engines. */
  def interpolateEvents(s: SparkSession, d: String): DataFrame =
    AsOf.interpolate(
      Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value")).as("v")),
      key = Seq("user_id"), timeCol = "us", tieBreak = "event_id",
      valueCol = "v")
      .select(col("event_id"), col("user_id"), col("v_interp").as("value_interp"))

  /** #20g salted ffill: the skew-proof two-phase variant of #20b,
    * oracle-gated EQUAL to the plain form (same oracle SQL) — the
    * chunk salt bounds per-task input to one (user, day) slice even
    * when one user owns the whole event stream. */
  def ffillEventsSalted(s: SparkSession, d: String): DataFrame =
    AsOf.ffillSalted(
      Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value"))
          .as("value_filled")),
      key = Seq("user_id"), time = "ts", tieBreak = "event_id",
      cols = Seq("value_filled"), chunkSeconds = 86400L)
      .select("event_id", "user_id", "value_filled")

  /** #20h salted shift/diff: skew-proof variant of #20c, oracle-gated
    * EQUAL to the plain form. */
  def eventsDiffSalted(s: SparkSession, d: String): DataFrame =
    operators.AsOf.shiftDiffSalted(
      Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"),
        col("value").cast("decimal(9,2)").as("val_d"),
        col("ts").cast("long").as("ts_s")),
      key = Seq("user_id"), time = "ts", tieBreak = "event_id",
      cols = Seq("val_d", "ts_s"), chunkSeconds = 86400L)
      .select(col("event_id"), col("user_id"),
        col("prev_val_d").cast("double").as("prev_value"),
        col("delta_val_d").cast("double").as("delta_value"),
        col("delta_ts_s").as("gap_seconds"))

  /** #20i salted interpolate: skew-proof variant of #20d, oracle-gated
    * EQUAL to the plain form — identical IEEE formula over identical
    * prev/next observations, chunked by day (µs units). */
  def interpolateEventsSalted(s: SparkSession, d: String): DataFrame =
    AsOf.interpolateSalted(
      Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value")).as("v")),
      key = Seq("user_id"), timeCol = "us", tieBreak = "event_id",
      valueCol = "v", chunkSize = 86400L * 1000000L)
      .select(col("event_id"), col("user_id"), col("v_interp").as("value_interp"))

  /** #20e time-weighted average per key (the sensor/telemetry mean
    * where observations arrive irregularly): each value is weighted by
    * the seconds until the NEXT observation — ∫v·dt / (t_last −
    * t_first) — so a value held for an hour counts 3600× a one-second
    * blip, which a plain avg() gets wrong. One lead() window pass;
    * weights are whole seconds × DECIMAL(9,2) values, so the weighted
    * sum is exact integer arithmetic and only the final division is
    * float. Single-event keys (no interval) emit NULL. */
  def eventsTwa(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        col("ts").cast("long").as("ts_s"),
        col("value").cast("decimal(9,2)").as("v"))
      .withColumn("dt_s", lead(col("ts_s"), 1).over(byUser) - col("ts_s"))
      .groupBy(col("user_id"))
      .agg(
        min(col("ts_s")).as("t_first"),
        max(col("ts_s")).as("t_last"),
        count(lit(1)).as("n_events"),
        sum(col("v") * col("dt_s")).as("_wsum"))
      .select(col("user_id"), col("t_first"), col("t_last"), col("n_events"),
        when(col("t_last") > col("t_first"),
          col("_wsum").cast("double") / (col("t_last") - col("t_first")).cast("double"))
          .as("twa"))
  }

  /** #37d cumulative-HLL rollup ([[operators.Sketch.hllCumulative]]):
    * running distinct-users-to-date register state per day over the
    * events stream — daily sketches merged by max-per-register, no
    * history rescan. Registers are integer-exact; the per-day
    * cumulative estimate is spec-gated. */
  def hllCumulativeQ(s: SparkSession, d: String): DataFrame =
    operators.Sketch.hllCumulative(
      Tables.events(s, d), timeCol = "ts", valueCol = "user_id",
      bucketSeconds = 86400L, m = 256)

  /** #37g 7-day sliding HLL distinct users — the sketch twin of the
    * exact `events_wau`: register state only (oracle-exact), the
    * estimator is spec-gated against the exact operator. */
  def hllSlidingQ(s: SparkSession, d: String): DataFrame =
    operators.Sketch.hllSliding(
      Tables.events(s, d), timeCol = "ts", valueCol = "user_id",
      bucketSeconds = 86400L, windowBuckets = 7, m = 256)

  /** #19c merge_asof(direction='forward'): the next same-user purchase
    * at-or-after each event (inclusive, like pandas
    * allow_exact_matches) — one union+window pass, times in epoch µs.
    * Events whose user never purchases again get NULLs. */
  def asofForward(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    AsOf.asofJoinDirected(
      left = e.select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("e_us")),
      right = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us")),
      leftKey = "user_id", rightKey = "p_user",
      leftTime = "e_us", rightTime = "p_us",
      rightCols = Seq("p_id"), rightTieBreak = "p_id",
      direction = "forward")
      .select(col("event_id"), col("user_id"),
        col("p_id").as("next_purchase_id"),
        (col("asof_t") - col("e_us")).as("gap_us"))
  }

  /** #19d merge_asof(direction='nearest'): the closest same-user
    * purchase in either direction; exact-distance ties prefer the
    * backward match (pandas semantics). Signed gap (negative = the
    * purchase came before the event). */
  def asofNearest(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    AsOf.asofJoinDirected(
      left = e.select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("e_us")),
      right = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us")),
      leftKey = "user_id", rightKey = "p_user",
      leftTime = "e_us", rightTime = "p_us",
      rightCols = Seq("p_id"), rightTieBreak = "p_id",
      direction = "nearest")
      .select(col("event_id"), col("user_id"),
        col("p_id").as("nearest_purchase_id"),
        (col("asof_t") - col("e_us")).as("gap_us"))
  }

  /** #18e retention cohort analysis: users grouped by first-active day
    * (their cohort), counted per (cohort, day offset) they return —
    * the classic triangle retention matrix. All-integer arithmetic
    * (epoch-day buckets, integer day offsets). Plan shape: one
    * distinct (user, day) shuffle, a per-user min for the cohort, one
    * join back, one final count — at 100 TB the (user, day) distinct
    * is the only wide pass over raw events. */
  def eventsRetention(s: SparkSession, d: String): DataFrame = {
    val ts = col("ts").cast("long")
    val active = Tables.events(s, d)
      .select(col("user_id"), (ts - pmod(ts, lit(86400L))).as("day_s"))
      .distinct()
    val cohort = active.groupBy(col("user_id")).agg(min(col("day_s")).as("cohort_s"))
    active.join(cohort, "user_id")
      .groupBy(col("cohort_s"),
        ((col("day_s") - col("cohort_s")) / lit(86400L)).cast("long").as("offset_days"))
      // rows are distinct (user, day), so a plain count IS distinct users
      .agg(count(lit(1)).as("n_users"))
  }

  /** #18f funnel (sequential-pattern) analysis: for each purchase, the
    * latest same-user click at-or-before it within 1 h, then the
    * latest view at-or-before THAT click within 1 h — two chained
    * backward as-of joins ([[operators.AsOf.asofJoinDirected]]), each
    * one shuffle, never a range product. Emits the completed stage
    * (1 = purchase only, 2 = click→purchase, 3 = view→click→purchase)
    * and the matched step events. */
  def eventsFunnel(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val e = Tables.events(s, d)
    def slice(t: String, key: String, id: String, us: String) =
      e.filter(col("event_type") === t).select(
        col("user_id").as(key), col("event_id").as(id), unix_micros(col("ts")).as(us))
    val buys = slice("purchase", "user_id", "buy_id", "buy_us")
    val clicks = slice("click", "c_user", "click_id", "click_us")
    val views = slice("view", "v_user", "view_id", "view_us")

    val s1 = AsOf.asofJoinDirected(buys, clicks,
        "user_id", "c_user", "buy_us", "click_us",
        rightCols = Seq("click_id"), rightTieBreak = "click_id",
        direction = "backward")
      .withColumnRenamed("asof_t", "click_t")
      .withColumn("click_ok",
        col("click_t").isNotNull && col("buy_us") - col("click_t") <= hourUs)
    val s2 = AsOf.asofJoinDirected(
        s1.filter(col("click_ok")), views,
        "user_id", "v_user", "click_t", "view_us",
        rightCols = Seq("view_id"), rightTieBreak = "view_id",
        direction = "backward")
      .withColumnRenamed("asof_t", "view_t")
      .withColumn("view_ok",
        col("view_t").isNotNull && col("click_t") - col("view_t") <= hourUs)
      .select(col("buy_id"), col("user_id"), col("click_id"),
        when(col("view_ok"), col("view_id")).as("view_id"),
        when(col("view_ok"), lit(3)).otherwise(lit(2)).as("funnel_stage"))
    val s1only = s1.filter(!col("click_ok"))
      .select(col("buy_id"), col("user_id"),
        lit(null).cast("long").as("click_id"),
        lit(null).cast("long").as("view_id"),
        lit(1).as("funnel_stage"))
    s2.unionByName(s1only)
  }

  /** #18k last-touch channel attribution: each purchase is credited to
    * the same user's most recent click-or-view at-or-before it within
    * a 1 h lookback ("channel" = that touch's event type), else
    * "direct"; revenue and purchase counts roll up per channel. One
    * backward as-of join ([[operators.AsOf.asofJoinDirected]] — single
    * shuffle on user_id, never a time-range product) plus a tiny
    * channel-cardinality aggregate. The marketing-attribution twin of
    * the funnel query: same join geometry, revenue-weighted output.
    * At 100 TB the as-of window is the only wide op and partitions by
    * user — the hot-key-safe salted form exists (#19e) if a single
    * user ever dominates. */
  def eventsAttribution(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val e = Tables.events(s, d)
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("buy_id"),
        unix_micros(col("ts")).as("buy_us"), col("value"))
    val touches = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("t_user"), col("event_type").as("ch"),
        col("event_id").as("touch_id"), unix_micros(col("ts")).as("touch_us"))
    AsOf.asofJoinDirected(buys, touches,
        "user_id", "t_user", "buy_us", "touch_us",
        rightCols = Seq("ch"), rightTieBreak = "touch_id",
        direction = "backward")
      .select(col("value"),
        when(col("asof_t").isNotNull && col("buy_us") - col("asof_t") <= hourUs,
          col("ch")).otherwise(lit("direct")).as("channel"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(moneySum(col("value")), 2).cast("double").as("revenue"))
  }

  /** #18l first-order Markov transition matrix over per-user event
    * sequences: P(next event type | current type). One lead() window
    * per user (partitioned by user_id — parallelism = user count, the
    * natural key; the salted sessionize recipe applies if one user
    * ever dominates), then two tiny event-type-cardinality aggregates.
    * The denominators count OUTGOING transitions (rows that have a
    * next event), so each from_type's probabilities sum to 1. The
    * classic product-analytics "what happens after X" matrix, and the
    * input to sequence-model pretraining mixes over clickstreams. */
  def eventsMarkov(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val tr = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    val pair = tr.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val outTot = pair.groupBy(col("from_type")).agg(sum(col("n")).as("n_out"))
    pair.join(outTot, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        graft.functions.Rounding.portableRound(
          col("n").cast("double") / col("n_out").cast("double"), 4).as("p"))
  }

  /** #16c join-key skew profiler: per-key row counts bucketed into
    * log₂ bins (bucket = bit length of the count — the same integer
    * bin()-length trick as the surprisal family, zero float logs),
    * with exact key/row totals and count bounds per bin. THE
    * pre-flight check before any big join at 100 TB: a heavy tail in
    * the top bins says "this join needs salting / AQE skew handling",
    * a flat profile says hash-partitioning is safe — measured with one
    * groupBy on the key plus a bin-cardinality aggregate, instead of
    * discovering the skew as a straggler task three hours in. */
  def skewProfile(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
      .groupBy(length(bin(col("c"))).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
        min(col("c")).as("min_rows_per_key"), max(col("c")).as("max_rows_per_key"))

  /** #16d join-cardinality pre-flight: the EXACT output size of
    * events ⋈ orders on user key, computed before running the join —
    * |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k) from the two per-key count
    * frames, which cost one narrow groupBy each (map-side partial) and
    * a join whose input is |keys| rows, not |rows|. The companion to
    * #16c's skew histogram: skew_profile says "this key distribution
    * is dangerous", this says "this exact join will produce N rows —
    * 10× the fact table" BEFORE the cluster burns three hours finding
    * out. Reports the estimate, the matched-key count, the worst key's
    * contribution, and its share (exact integers + one division). */
  def joinSizeEstimate(s: SparkSession, d: String): DataFrame = {
    val ca = Tables.events(s, d).groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("ca"))
    val cb = Tables.orders(s, d).groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("cb"))
    ca.join(cb, "k")
      .select(col("k"), (col("ca") * col("cb")).as("pairs"))
      .agg(count(lit(1)).as("n_matched_keys"),
        sum(col("pairs")).as("est_rows"),
        max(col("pairs")).as("max_key_pairs"))
      .select(col("n_matched_keys"), col("est_rows"), col("max_key_pairs"),
        graft.functions.Rounding.portableRound(
          col("max_key_pairs").cast("double") / col("est_rows").cast("double"),
          6).as("max_key_share"))
  }

  /** #18r inactivity-gap histogram: each user's LONGEST pause between
    * consecutive events (whole seconds), bucketed into log₂ bins with
    * exact per-bin stats — the re-engagement profile ("how long do
    * users go quiet before coming back") that sits between
    * sessionization and churn. One partitioned lag window + two
    * integer aggregates; single-event users are excluded (no gap
    * exists). */
  def eventsGapHistogram(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"), col("event_id"))
    val gaps = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 1000000").as("ts_s"), // exact integer div
        col("event_id"))
      .withColumn("gap_s", col("ts_s") - lag(col("ts_s"), 1).over(w))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("user_id")).agg(max(col("gap_s")).as("max_gap_s"))
    gaps.groupBy(length(bin(greatest(col("max_gap_s"), lit(1L)))).cast("int")
        .as("bucket"))
      .agg(count(lit(1)).as("n_users"),
        min(col("max_gap_s")).as("min_gap_s"),
        max(col("max_gap_s")).as("max_gap_s"))
  }

  /** #14s pandas groupby().nlargest(k): the top-3 orders by value per
    * priority, ranked through the bounded-heap CollectTopK aggregate
    * (Knn.topKByScore) — the partial step keeps ≤3 candidates per
    * group per map partition, so the exchange carries 3·|groups| rows
    * and a hot group never serializes into one sort task. Determinism:
    * ties break by lowest order key. */
  def ordersTopPerPriority(s: SparkSession, d: String): DataFrame =
    graft.operators.Knn.topKByScore(
      Tables.orders(s, d).select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice")),
      Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 3)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        col("rank").cast("long").as("rank"))

  /** #14t pandas crosstab(event_type, day-of-week): one narrow scan,
    * one |types|-row aggregate of 7 conditional counts — the
    * contingency table without a pivot's distinct-discovery job (the
    * column set is the fixed 7 weekdays). Exact integers only. */
  def eventsCrosstab(s: SparkSession, d: String): DataFrame = {
    val dow = dayofweek(col("ts")).cast("int")
    val cells = (1 to 7).map(i =>
      count(when(dow === i, 1)).as(s"dow_$i"))
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(cells.head, cells.tail: _*)
  }

  /** #17c pandas rolling(7).std(): per-customer rolling SAMPLE std from
    * exact decimal window moments — Σx and Σx² accumulate as DECIMAL
    * (merge-order-free), cast to double once, and the variance formula
    * (n·Σx² − (Σx)²)/(n(n−1)) runs as the same fixed IEEE op sequence
    * on both engines (greatest(…,0) absorbs the −ε a zero-variance
    * window can round to, which would otherwise sqrt into NaN).
    * Single-row windows emit NULL (sample std undefined). */
  def wRollingStd(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Rounding.portableRound
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-6, Window.currentRow)
    val dec = col("o_totalprice").cast("decimal(18,6)")
    val n = count(lit(1)).over(w)
    val s1 = sum(dec).over(w).cast("double")
    val s2 = sum(dec * dec).over(w).cast("double")
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      when(n > 1, portableRound(
        sqrt(greatest((n * s2 - s1 * s1) / (n * (n - lit(1L))), lit(0.0))), 4))
        .as("rolling_std"))
  }

  /** #18s session-length histogram: the 30-min-gap sessions of #18b
    * rolled into log₂ size bins (the same integer bin()-length idiom as
    * the skew/gap histograms) — the engagement-shape summary between
    * sessionization and retention: how long is a typical session, how
    * heavy is the tail. All-integer. */
  def eventsSessionStats(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"), col("event_id"))
    val sess = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 1000000").as("ts_s"), col("event_id"))
      .withColumn("gap_s", col("ts_s") - lag(col("ts_s"), 1).over(byUser))
      .withColumn("new_session",
        when(col("gap_s").isNull || col("gap_s") > 1800, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"))
    sess.groupBy(length(bin(col("n_events"))).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        min(col("n_events")).as("min_events"),
        max(col("n_events")).as("max_events"),
        sum(col("n_events")).as("total_events"))
  }

  /** #14u market-basket affinity (association-rule mining's hot loop):
    * part pairs co-purchased within an order, ranked by lift =
    * (n_ab·N)/(n_a·n_b) — PMI without the log (monotone-equivalent,
    * zero libm; #30x's idiom on baskets instead of text). The pair
    * fanout is bounded by the basket size (≤ C(items,2) per order, ~21
    * here — never a catalog² product), counts are exact integers, the
    * lift is ONE portable-rounded division, and the global top-20 runs
    * through the bounded-heap aggregate (≤k candidates per map task).
    * At 100 TB: basket-local fanout + two vocabulary-sized count
    * aggregates + a k-row reduce — the classic recommender pre-pass. */
  def partAffinity(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    import graft.functions.Rounding.portableRound
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val nBaskets = broadcast(li.select(countDistinct(col("o")).as("nb")))
    val counts = li.groupBy(col("p")).agg(count(lit(1)).as("np"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p_a"), col("b.p").as("p_b"))
      .agg(count(lit(1)).as("n_ab"))
    val scored = pairs
      .join(counts.select(col("p").as("p_a"), col("np").as("n_a")), "p_a")
      .join(counts.select(col("p").as("p_b"), col("np").as("n_b")), "p_b")
      .crossJoin(nBaskets) // broadcast scalar, BroadcastNestedLoopJoin
      .select(col("p_a"), col("p_b"), col("n_ab"),
        portableRound((col("n_ab") * col("nb")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 4).as("lift"))
    graft.operators.Knn.topKByScore(
        scored.withColumn("pair_key",
          col("p_a") * lit(1000000000L) + col("p_b")),
        Seq.empty, "lift", "pair_key", k)
      .select(col("p_a"), col("p_b"), col("n_ab"), col("lift"),
        col("rank").cast("long").as("rank"))
  }

  /** #18u daily value percentiles (p50/p95 per day): the time-series
    * latency/size-band view, EXACT by rank selection (rank ceil(p·n)
    * in (value, id) order — no interpolation, so every engine lands on
    * the same stored value). Days are a low-cardinality group — the
    * regime where a plain per-group window serializes — so the ranks
    * come from [[operators.ExactRank.groupedRankSelect]]'s sharded
    * form: approximate value edges shard each day, exact counts offset,
    * the heavy sort shrinks to the shards holding a target rank. */
  def eventsDailyPercentiles(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("value"), col("event_id"),
        expr("unix_micros(ts) div 1000000").as("ts_s"))
      .select((col("ts_s") - pmod(col("ts_s"), lit(86400L))).as("day"),
        col("value"), col("event_id"))
    val picks = graft.operators.ExactRank.groupedRankSelect(
      ev, "day", "value", "event_id", "rn", "cnt",
      targets = Seq(c => ceil(c * 0.5), c => ceil(c * 0.95)))
    picks.groupBy(col("day")).agg(
      max(when(col("rn") === ceil(col("cnt") * 0.5), col("value"))).as("p50"),
      max(when(col("rn") === ceil(col("cnt") * 0.95), col("value"))).as("p95"))
  }

  /** #19f pandas merge_asof(tolerance=): the backward as-of join of
    * #19, but a carried match EXPIRES when it is older than the
    * tolerance window — the row keeps its left side and reports NULL
    * match columns, exactly pandas' semantics. Implemented as the
    * plain one-shuffle as-of pass plus a narrow post-projection (the
    * matched right time rides along as a value column), so the
    * tolerance costs zero extra wide ops. Tolerance here: 7 days. */
  def asofToleranceQ(s: SparkSession, d: String): DataFrame = {
    val joined = AsOf.asofJoin(
      left = Tables.events(s, d).select("event_id", "user_id", "ts"),
      right = Tables.orders(s, d)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_orderdate",
      rightCols = Seq("o_orderkey", "o_totalprice", "o_orderdate"),
      rightTieBreak = "o_orderkey")
    // o_orderdate arrives NTZ (un-annotated parquet); session TZ is
    // UTC, so the instant cast is the identity wall-clock pin
    val within = col("o_orderdate").isNotNull &&
      col("ts") <= col("o_orderdate").cast("timestamp") + expr("INTERVAL 7 DAYS")
    joined.select(col("event_id"), col("user_id"),
      when(within, col("o_orderkey")).as("o_orderkey"),
      when(within, col("o_totalprice")).as("o_totalprice"))
  }

  /** #18q top user-journey prefixes: each user's first three event
    * types in (time, id) order joined into a path string, counted, and
    * the 20 most common paths ranked through the bounded-heap top-k
    * aggregate (map-side ≤k candidates per task — no global sort). The
    * entry-funnel view next to the Markov matrix: "how do sessions
    * START", exact counts. */
  def eventsPathPrefix(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val paths = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"))
      // min(struct(rn, type)) per slot: deterministic positional pick
      .agg(concat_ws(">",
        min(when(col("rn") === 1, col("event_type"))),
        min(when(col("rn") === 2, col("event_type"))),
        min(when(col("rn") === 3, col("event_type")))).as("path"))
    val counts = paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
    graft.operators.Knn.topKByScore(
        counts.withColumn("neg", -col("n_users")),
        Seq.empty, "neg", "path", k, ascending = true)
      .select(col("path"), col("n_users"), col("rank"))
  }

  /** #18p discrete churn-hazard table over user lifetimes: for each
    * lifetime day k, the users still at risk (observed lifetime ≥ k),
    * the users ending at exactly k, and the hazard — with right-
    * censoring handled the Kaplan-Meier way (a user whose last event
    * is within 7 days of the observation end is censored: they count
    * in at-risk, never as churned). All counts exact integers; the one
    * division per row is the hazard. The at-risk curve is a reverse
    * running sum over the ≤ #lifetime-days aggregated frame (post-agg
    * global window — PlanAudit-bounded like the new-users curve). */
  def eventsHazard(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Rounding.portableRound
    val ev = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("dday"))
    val life = ev.groupBy(col("user_id"))
      .agg(min(col("dday")).as("f"), max(col("dday")).as("l"))
    val mx = life.agg(max(col("l")).as("m"))
    val per = life.crossJoin(broadcast(mx))
      .select(datediff(col("l"), col("f")).cast("long").as("lifetime_days"),
        (datediff(col("m"), col("l")) < 7).as("censored"))
    val byL = per.groupBy(col("lifetime_days"))
      .agg(count(lit(1)).as("n_ending"),
        sum(when(!col("censored"), 1L).otherwise(0L)).as("n_churned"))
    val w = Window.orderBy(col("lifetime_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byL.withColumn("at_risk", sum(col("n_ending")).over(w))
      .select(col("lifetime_days"), col("at_risk"), col("n_churned"),
        portableRound(col("n_churned").cast("double")
          / col("at_risk").cast("double"), 4).as("hazard"))
  }

  /** #14q RFM customer segmentation (recency / frequency / monetary) —
    * the classic marketing-analytics cut, all exact: recency in whole
    * days against the corpus max date (a broadcast scalar — the one
    * acceptable crossJoin shape), frequency an integer count, monetary
    * a decimal sum rounded once. Segments from fixed threshold rules
    * (deterministic CASE — no quantile dependence between rows, so the
    * assignment parallelizes as a pure projection). */
  def ordersRfm(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val anchor = o.agg(max(col("o_orderdate")).as("max_date"))
    val rfm = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        round(moneySum(col("o_totalprice")), 2).cast("double").as("monetary"))
      .crossJoin(broadcast(anchor))
      .select(col("o_custkey"),
        datediff(col("max_date"), col("last_order")).cast("long").as("recency_days"),
        col("frequency"), col("monetary"))
    rfm.withColumn("segment",
      when(col("recency_days") <= 90 && col("frequency") >= 10, "champion")
        .when(col("recency_days") <= 90 && col("frequency") >= 5, "loyal")
        .when(col("recency_days") <= 365, "active")
        .when(col("frequency") >= 10, "lapsed_whale")
        .otherwise("dormant"))
  }

  /** #18o weekday seasonality profile: per (event_type, day-of-week)
    * volume share plus an n-scaled χ²-style uniformity statistic —
    * "is this source's traffic actually weekly-periodic, or flat?".
    * Exact integer core: share numerators/denominators and the
    * statistic's scaled form Σ(7·n_d − N)² stay integers; each output
    * float is one exact-integer division, portable-rounded. One narrow
    * aggregation + a 7-row-per-type join — nothing scales with events
    * beyond the first map-side partial. */
  def eventsSeasonality(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Rounding.portableRound
    val byDow = Tables.events(s, d)
      .groupBy(col("event_type"), dayofweek(col("ts")).cast("int").as("dow"))
      .agg(count(lit(1)).as("n"))
    val tot = byDow.groupBy(col("event_type")).agg(
      sum(col("n")).as("total"),
      sum((lit(7) * col("n")) * (lit(7) * col("n"))).as("_s7sq"),
      count(lit(1)).as("_ndows"))
    // Σ(7n−N)² = 49Σn² − 14NΣn + dows·N² = _s7sq − 14N·N + dows·N²
    // (Σn = N) — assembled from exact integer sums
    byDow.join(tot, "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        portableRound(col("n").cast("double") / col("total").cast("double"), 4)
          .as("share"),
        portableRound(
          (col("_s7sq") - lit(14) * col("total") * col("total")
            + col("_ndows") * col("total") * col("total")).cast("double")
            / (lit(7) * col("total")).cast("double"), 4).as("chi2_scaled"))
  }

  /** #18n CUSUM mean-shift detection over per-type daily volumes — the
    * drift monitor an ingestion pipeline runs on its own throughput
    * ("did this source's rate change-point?"). ENGINE-EXACT integer
    * form: scale deviations by n so the mean never becomes a float —
    * d_t = n·x_t − Σx, CUSUM⁺_t = max(0, CUSUM⁺_{t−1} + d_t), CUSUM⁻
    * symmetric; alarm when 2·CUSUM > Σx (threshold = half the total,
    * i.e. mean·n/2 in scaled units). The distributed part is the daily
    * aggregation (map-side partial over the raw events); the CUSUM
    * chain is an inherently sequential max-reset recursion folded on
    * the driver over the aggregated series — bounded by days × types
    * (a decade of days is 3,650 rows per type), never by event volume.
    * The oracle replays the recursion as a per-type recursive CTE. */
  def eventsChangepoint(s: SparkSession, d: String): DataFrame = {
    val spark = s
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"), col("day"))
      .collect() // bounded: observed days × event types
    val out = daily.groupBy(_.getString(0)).toSeq.flatMap { case (t, rows) =>
      val xs = rows.sortBy(_.getTimestamp(1).getTime)
      val n = xs.length.toLong
      val sum = xs.map(_.getLong(2)).sum
      var cu = 0L
      var cd = 0L
      xs.map { r =>
        val x = r.getLong(2)
        val dev = n * x - sum
        cu = math.max(0L, cu + dev)
        cd = math.max(0L, cd - dev)
        (t, r.getTimestamp(1), x, cu, cd, 2 * cu > sum, 2 * cd > sum)
      }
    }
    import spark.implicits._
    out.toDF("event_type", "day", "n_events", "cusum_up", "cusum_dn",
      "alarm_up", "alarm_dn")
  }

  /** #18m leakage-safe user-level train/valid/test split: the split is
    * a pure hash of user_id (md5-prefix bucket 0–9 → 80/10/10), so
    * every row of a user lands in the same split BY CONSTRUCTION — the
    * property that prevents user-level leakage between train and eval,
    * which a row-level random split silently violates. No RNG state, no
    * shuffle dependence: the same user maps to the same split on any
    * engine, cluster size, or backfill. The assignment is a narrow
    * projection fused into the scan; the gate's aggregate is the only
    * exchange. Gated on exact per-(split, event_type) event counts,
    * user counts and value sums. */
  def userSplit(s: SparkSession, d: String): DataFrame = {
    val b = conv(substring(md5(concat(lit("split:"),
      col("user_id").cast("string"))), 1, 8), 16, 10).cast("long") % 10
    Tables.events(s, d)
      .withColumn("split",
        when(b < 8, "train").when(b === 8, "valid").otherwise("test"))
      .groupBy(col("split"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(moneySum(col("value")), 2).cast("double").as("sum_value"))
  }

  /** #20f pandas ewm(alpha=0.3).mean() over events per user
    * ([[operators.AsOf.ewmMean]]). Rows-only driver gate — the float
    * recursion is not engine-portable — with the closed form
    * spec-gated. */
  def eventsEwm(s: SparkSession, d: String): DataFrame =
    AsOf.ewmMean(
      Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value")),
      keyCol = "user_id", timeCol = "us", tieCol = "event_id",
      valueCol = "value", alpha = 0.3)
      .select(col("id").as("event_id"), col("key").as("user_id"), col("ewm"))

  /** #14i pandas df.corr()/df.cov() (Pearson, sample covariance) on
    * lineitem quantity × extendedprice — from the five exact DECIMAL
    * moment sums (the inputs carry ≤2 true decimals, so Sx/Sy/Sxx/Syy/
    * Sxy are exact integers under the hood and independent of
    * partial-aggregate merge order), each cast to double ONCE, then
    * one shared arithmetic shape on both engines: IEEE +,×,÷,sqrt are
    * all correctly rounded, so the same formula over the same doubles
    * is bit-identical. One scan, no groupBy shuffle (global two-stage
    * agg). */
  def corrPriceQty(s: SparkSession, d: String): DataFrame = {
    // DECIMAL(18,2) is exact for these inputs (quantity is integral,
    // price carries 2 decimals) and keeps the products inside both
    // engines' 38-digit multiply bound ((18,2)x(18,2) -> (37,4))
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val x = col("l_quantity").cast(dec)
    val y = col("l_extendedprice").cast(dec)
    Tables.lineitem(s, d)
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum(x * x).cast("double").as("sxx"), sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
      .select(col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("pearson_r"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1))
          .as("sample_cov"))
  }

  /** #14j grouped exact median (pandas groupby().median()): median
    * order value per priority by rank selection — the lower and upper
    * middle rows picked by row_number against the group size, averaged
    * as (a+b)/2 in double (exact: the picks are 2-decimal values).
    * Engine-portable by replaying the SAME selection in the oracle
    * instead of trusting any engine's median() interpolation. One
    * window pass over already-shuffled groups. */
  def medianOrderValue(s: SparkSession, d: String): DataFrame = {
    // per-group exact rank WITHOUT windowing by the 5-value priority
    // alone (that serializes a fifth of the table per task at scale):
    // ExactRank shards each group by approximate value edges, offsets
    // by exact counts, ranks in (group, shard) windows
    val mids = graft.operators.ExactRank.groupedRankSelect(
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey")),
      "o_orderpriority", "o_totalprice", "o_orderkey", "rn", "cnt",
      targets = Seq(c => floor((c + 1) / 2), c => floor((c + 2) / 2)))
    mids
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_mid"),
        (sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") / count(lit(1)))
          .as("median_value"))
      .select("o_orderpriority", "median_value")
  }

  /** #14k robust outlier detection per event type: exact median + MAD
    * (median absolute deviation), the heavy-tail-safe alternative to
    * mean/stddev z-scores (one fat outlier drags a mean-based
    * threshold; the median ignores it). Flags |v − med| > 4.4478·MAD
    * (= 3σ under normality via the 1.4826 consistency constant).
    *
    * Two exact rank selections, both through [[operators.ExactRank]]'s
    * sharded form — event_type is a low-cardinality group, exactly the
    * regime where a plain per-group window serializes — then one
    * counting pass for the flags. Median of an even group is the mean
    * of the two middle values: a sum of exactly two doubles, IEEE-
    * commutative, so the oracle's window form lands on the same bits.
    * Returns (event_type, n, median_value, mad, n_outliers). */
  def eventsMad(s: SparkSession, d: String): DataFrame =
    eventsMadOf(Tables.events(s, d).select("event_type", "value", "event_id"))

  /** [[eventsMad]]'s core on an arbitrary (event_type, value,
    * event_id) frame — split out so specs drive handcrafted groups. */
  def eventsMadOf(ev: DataFrame): DataFrame = {
    import graft.functions.Rounding.portableRound
    val spark = ev.sparkSession
    def midOf(df: DataFrame, valueCol: String, out: String): DataFrame =
      graft.operators.ExactRank
        .groupedRankSelect(df, "event_type", valueCol, "event_id", "rn", "cnt",
          targets = Seq(c => floor((c + 1) / 2), c => floor((c + 2) / 2)))
        .groupBy(col("event_type"))
        .agg((sum(col(valueCol)) / count(lit(1))).as(out))
    // Materialize the per-type medians (≤ |event types| rows) as a
    // literal local frame: left lazy, the pass-1 ranking window would
    // sit inside every downstream action's plan and recompute once for
    // the MAD edges job and again for the final aggregate — the bulk
    // of this query's old cost. Collected, each ranking pass runs
    // exactly once and the deviation frame joins against literals.
    val medAgg = midOf(ev, "value", "med")
    val med = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(medAgg.collect().toIndexedSeq, 1), medAgg.schema))
    // The deviation frame feeds three sinks (MAD edges, MAD ranking,
    // final outlier count); persisted it computes once and the later
    // passes read columnar cache instead of re-planning scan+join.
    // MEMORY_AND_DISK and projected to 4 columns — at warehouse scale
    // this is the per-query working set a rank selection needs anyway,
    // and eviction merely falls back to recompute.
    val dev = ev.join(med, "event_type")
      .select(col("event_type"), abs(col("value") - col("med")).as("ad"),
        col("event_id"), col("med"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The output is ≤ |event types| rows: compute it eagerly so the
    // cache can be dropped here instead of leaking for the session
    // lifetime (the caller never sees `dev`, so it could never
    // unpersist it).
    try {
      val mad = midOf(dev.select("event_type", "ad", "event_id"), "ad", "mad")
      val agg = dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          portableRound(max(col("med")), 4).as("median_value"),
          portableRound(max(col("mad")), 4).as("mad"),
          sum(when(col("ad") > lit(4.4478) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
      spark.createDataFrame(
        spark.sparkContext.parallelize(agg.collect().toIndexedSeq, 1), agg.schema)
    } finally dev.unpersist(false)
  }

  /** #14l pandas groupby().rank(method='first', pct=True): exact
    * per-group percentile rank for EVERY row, through [[operators
    * .ExactRank]]'s sharded form — the full-output rank assignment
    * that a per-priority window would serialize at scale (5 groups ⇒
    * a fifth of the table per window task). pct = rank/count, one
    * rounded double division. */
  def ordersPctRank(s: SparkSession, d: String): DataFrame = {
    val ranked = graft.operators.ExactRank.withGroupedRowNumber(
      Tables.orders(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice"),
      "o_orderpriority", "o_totalprice", "o_orderkey", "rank_in_group", "cnt")
    ranked.select(col("o_orderkey"), col("o_orderpriority"),
      col("rank_in_group"),
      graft.functions.Rounding.portableRound(
        col("rank_in_group").cast("double") / col("cnt").cast("double"), 4)
        .as("pct_rank"))
  }

  /** #18i exact cumulative distinct users per day via FIRST-TOUCH
    * attribution: a user contributes to distinct-to-date exactly once,
    * on their first-seen day — so min(day) per user, daily new-user
    * counts, and a running sum over the ≤ #days aggregate replace the
    * expanding-window count_distinct whose state grows quadratically.
    * This is the exact twin of `hll_cumulative` (same question,
    * approximate): exact when the key fits a shuffle, sketch when it
    * doesn't. Final running sum is a bounded global window
    * (see [[PlanAudit.bounded]]). */
  def eventsNewUsers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("dday"))
    val firstTouch = ev.groupBy(col("user_id")).agg(min(col("dday")).as("d0"))
    val daily = firstTouch.groupBy(col("d0")).agg(count(lit(1)).as("nu"))
    ev.select(col("dday").as("day")).distinct()
      .join(daily.withColumnRenamed("d0", "day"), Seq("day"), "left")
      .withColumn("new_users", coalesce(col("nu"), lit(0L)))
      .withColumn("users_to_date",
        sum(col("new_users")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // day stays a (midnight) timestamp: Spark DateType round-trips to
      // python date objects while DuckDB DATE lands datetime64 — the
      // driver's dtype-kind gate would flag the pair
      .select(col("day"), col("new_users"), col("users_to_date"))
  }

  /** #18j sliding-window distinct users (DAU/WAU): for every observed
    * day, the distinct users active in the trailing 7 days. Exact
    * sliding distinct WITHOUT per-window recomputation: dedup to
    * (user, day) once, explode each user-day to the ≤7 target days it
    * can serve (bounded ×7 fanout — independent of user activity
    * volume), restrict to observed days, dedup (user, target), count.
    * An expanding/sliding count_distinct window would hold per-window
    * user sets in state; this is two distincts and a bounded fanout. */
  def eventsWau(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d")).distinct()
    val days = ud.select(col("d").as("day")).distinct()
    val contrib = ud
      .select(col("user_id"), explode(sequence(col("d"),
        col("d") + expr("INTERVAL 6 DAYS"), expr("INTERVAL 1 DAY"))).as("day"))
      .join(days, "day")
      .distinct()
    val dau = ud.groupBy(col("d").as("day")).agg(count(lit(1)).as("dau"))
    contrib.groupBy(col("day")).agg(count(lit(1)).as("wau"))
      .join(dau, "day")
      .select(col("day"), col("wau"), col("dau"))
  }

  /** #14n Pareto / ABC classification of customers by cumulative
    * revenue share — "which 20% of customers drive 80% of revenue".
    * The global cumulative sum in (revenue desc, key) order is the
    * serialization trap (one task scans every customer); this is the
    * sharded prefix-sum recipe ([[operators.Curation.budgetSample]]'s,
    * applied globally): approximate revenue edges shard the customers,
    * exact per-shard revenue totals (≤ shards rows to the driver) give
    * each shard its starting offset, and a window partitioned by shard
    * computes the local running sum — exactness from the decimal
    * totals, parallelism from the shards. Tiers: A ≤ 0.8 < B ≤ 0.95
    * < C of cumulative share. */
  def ordersPareto(s: SparkSession, d: String, shards: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cr = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val tot = cr.agg(sum(col("rev")).as("t"))
    val qs = (1 until shards).map(_.toDouble / shards)
    val edges = cr.agg(
      // accuracy 1000 (the ExactRank precedent): edges only shard, so
      // sketch error costs balance, never a row
      percentile_approx(col("rev").cast("double"), typedlit(qs), lit(1000))
        .as("_edges"))
    // descending sort order ⇒ shard id grows as revenue falls; any
    // monotone-in-value assignment is correct (edges only shard)
    val sharded = cr.crossJoin(broadcast(edges))
      .withColumn("_shard",
        graft.functions.expr.ArrayCountCompare.of(
          col("_edges"), col("rev").cast("double"),
          countGreater = true, includeEqual = true))
      .drop("_edges")
    val counts = sharded.groupBy(col("_shard"))
      .agg(sum(col("rev")).as("s")).collect()
      .map(r => r.getInt(0) -> r.getDecimal(1)).toMap
    // shard 0 holds the TOP revenues (0 edges above them), so the
    // cumulative order runs ascending shard id
    val shardIds = counts.keys.toSeq.sorted
    val offsets = shardIds.zip(
      shardIds.map(counts(_)).scanLeft(java.math.BigDecimal.ZERO)(_.add(_)).init)
      .toMap
    val offCol = element_at(
      typedlit(offsets.map { case (k, v) => k -> new java.math.BigDecimal(v.toString) }),
      col("_shard"))
    val w = Window.partitionBy(col("_shard"))
      .orderBy(col("rev").desc, col("o_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sharded
      .withColumn("crev", (offCol + sum(col("rev")).over(w)).cast("decimal(28,2)"))
      .crossJoin(broadcast(tot))
      .withColumn("_cs", col("crev").cast("double") / col("t").cast("double"))
      .select(col("o_custkey"), col("rev").cast("double").as("revenue"),
        graft.functions.Rounding.portableRound(col("_cs"), 4).as("cum_share"),
        when(col("_cs") <= 0.8, "A").when(col("_cs") <= 0.95, "B")
          .otherwise("C").as("tier"))
  }

  /** #14o per-column data profile (df.info / deequ-style audit): row
    * count, null count, EXACT distinct count, min/max (stringified) —
    * one row per profiled column. Each column is one aggregate branch
    * (count_distinct plans its own two-stage shuffle); the branches
    * union post-aggregation, so the union is width-bounded like
    * Catalog.describe. At warehouse scale the swap-in is
    * approx_count_distinct (one pass, no shuffle per column) — the
    * exact form IS the oracle-checkable one, so it gates. */
  def profileLineitem(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    Seq("l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")
      .map { c =>
        li.agg(count(lit(1)).as("n"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            count_distinct(col(c)).as("n_distinct"),
            min(col(c)).cast("string").as("min_str"),
            max(col(c)).cast("string").as("max_str"))
          .select(lit(c).as("column_name"), col("n"), col("n_null"),
            col("n_distinct"), col("min_str"), col("max_str"))
      }
      .reduce(_ unionByName _)
  }

  /** The lineitem columns the wide profiler covers (every non-timestamp
    * column — 10 of them, well past the ≥8 the one-scan contract is
    * spec'd at). */
  private[graft] val ProfileWideCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")

  /** #14p single-scan wide profiler: row/null counts + stringified
    * min/max for N columns in ONE aggregate over ONE scan — the shape a
    * 100-column profile of a 100 TB table needs ([[profileLineitem]]'s
    * scan-per-column union is the oracle-friendly narrow form; this is
    * the warehouse form). All stats land in a single 1-row aggregate
    * (4 agg buffers per column), then explode to a row per column —
    * post-aggregation, so the unpivot costs nothing. Distinct counts
    * deliberately live in [[profileWideApprox]]: exact multi-column
    * distinct needs an Expand (k× row multiplication) and approx ones
    * don't hash-match a foreign engine, so the oracle-gated wide form
    * carries the exactly-reproducible stats. */
  def profileWide(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    profileWideOf(li, ProfileWideCols)
  }

  private def profileWideOf(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val perCol = array(cols.map(c => struct(
      lit(c).as("column_name"),
      col(s"__nn_$c").as("n_null"),
      col(s"__mn_$c").as("min_str"),
      col(s"__mx_$c").as("max_str"))): _*)
    one.select(col("n"), explode(perCol).as("p"))
      .select(col("p.column_name"), col("n"), col("p.n_null"),
        col("p.min_str"), col("p.max_str"))
      .orderBy(col("column_name"))
  }

  /** [[profileWide]] plus approximate distinct counts — still ONE scan,
    * still one aggregate: approx_count_distinct is a fixed-size HLL
    * buffer per column, no Expand, no extra pass. The HLL estimate is
    * engine-specific, so this form is spec-gated (estimates within a
    * tolerance of exact at test scale) rather than oracle-hashed. */
  def profileWideApprox(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
      approx_count_distinct(col(c)).as(s"__nd_$c"),
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val perCol = array(cols.map(c => struct(
      lit(c).as("column_name"),
      col(s"__nn_$c").as("n_null"),
      col(s"__nd_$c").as("n_distinct_approx"),
      col(s"__mn_$c").as("min_str"),
      col(s"__mx_$c").as("max_str"))): _*)
    one.select(col("n"), explode(perCol).as("p"))
      .select(col("p.column_name"), col("n"), col("p.n_null"),
        col("p.n_distinct_approx"), col("p.min_str"), col("p.max_str"))
      .orderBy(col("column_name"))
  }

  /** #19 as-of join: latest order state per user at each event time. */
  def asofJoinQ(s: SparkSession, d: String): DataFrame =
    AsOf.asofJoin(
      left = Tables.events(s, d).select("event_id", "user_id", "ts"),
      right = Tables.orders(s, d)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_orderdate",
      rightCols = Seq("o_orderkey", "o_totalprice"),
      rightTieBreak = "o_orderkey")
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")

  /** #19e salted as-of join: the skew-proof two-phase variant of #19,
    * oracle-gated EQUAL to the plain form (same oracle SQL) — the
    * window salt bounds per-task input to one (user, 30-day-chunk)
    * slice even when one user holds the whole event stream. */
  def asofJoinSaltedQ(s: SparkSession, d: String): DataFrame =
    AsOf.asofJoinSalted(
      left = Tables.events(s, d).select("event_id", "user_id", "ts"),
      right = Tables.orders(s, d)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"),
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_orderdate",
      rightCols = Seq("o_orderkey", "o_totalprice"),
      rightTieBreak = "o_orderkey",
      chunkSeconds = 30L * 86400L)
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")

  /** #20 latest-row-per-key: most recent event per user. */
  def latestPerKeyQ(s: SparkSession, d: String): DataFrame =
    // project BEFORE the aggregate: columns inside max_by's struct
    // can't be pruned through it, so an unused wide column (props)
    // would otherwise ride the shuffle just to be dropped
    AsOf.latestPerKey(
        Tables.events(s, d).select("user_id", "ts", "event_id", "event_type", "value"),
        key = Seq("user_id"), time = "ts", tieBreak = "event_id")
      .select("user_id", "event_id", "event_type", "value")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_local_supplier" -> (q5LocalSupplier _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q18_large_volume" -> (q18LargeVolume _),
    "q19_discounted_revenue" -> (q19DiscountedRevenue _),
    "q4_priority_count" -> (q4PriorityCount _),
    "q12_shipping_delay" -> (q12ShippingDelay _),
    "q13_order_distribution" -> (q13OrderDistribution _),
    "q17_small_quantity" -> (q17SmallQuantity _),
    "q22_dormant_customers" -> (q22DormantCustomers _),
    "rollup_revenue" -> (rollupRevenue _),
    "merge_indicator" -> (mergeIndicator _),
    "cut_order_value" -> (cutOrderValue _),
    "qcut_order_value" -> (qcutOrderValue _),
    "pivot_orders" -> (pivotOrders _),
    "unpivot_lineitem" -> (unpivotLineitem _),
    "describe_lineitem" -> (describeLineitem _),
    "w_rolling_avg" -> (wRollingAvg _),
    "w_running_sum" -> (wRunningSum _),
    "events_windowed" -> (eventsWindowed _),
    "events_sessionized" -> (eventsSessionized _),
    "asof_join" -> (asofJoinQ _),
    "asof_join_salted" -> (asofJoinSaltedQ _),
    "stream_upsert" -> (streamUpsert _),
    "events_props" -> (eventsProps _),
    "events_anomaly" -> ((s: SparkSession, d: String) => eventsAnomaly(s, d)),
    "events_mad" -> (eventsMad _),
    "orders_pct_rank" -> (ordersPctRank _),
    "events_new_users" -> (eventsNewUsers _),
    "events_wau" -> (eventsWau _),
    "orders_pareto" -> ((s: SparkSession, d: String) => ordersPareto(s, d)),
    "profile_lineitem" -> (profileLineitem _),
    "profile_wide" -> (profileWide _),
    "latest_per_key" -> (latestPerKeyQ _),
    "ffill_events" -> (ffillEvents _),
    "events_diff" -> (eventsDiff _),
    "events_resample" -> (eventsResample _),
    "distinct_sketch" -> (distinctSketchQ _),
    "quantile_sketch" -> (kmvQuantilesQ _),
    "events_sessionized_salted" -> (eventsSessionizedSalted _),
    "q7_nation_volume" -> (q7NationVolume _),
    "q8_market_share" -> (q8MarketShare _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q16_part_variety" -> (q16PartVariety _),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers _),
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q11_important_parts" -> (q11ImportantParts _),
    "q20_excess_suppliers" -> (q20ExcessSuppliers _),
    "range_join" -> (rangeJoinQ _),
    "hll_sketch" -> (hllSketchQ _),
    "join_salted" -> (joinSaltedQ _),
    "interpolate_events" -> (interpolateEvents _),
    "ffill_events_salted" -> (ffillEventsSalted _),
    "events_diff_salted" -> (eventsDiffSalted _),
    "interpolate_events_salted" -> (interpolateEventsSalted _),
    "events_twa" -> (eventsTwa _),
    "hll_cumulative" -> (hllCumulativeQ _),
    "hll_sliding" -> (hllSlidingQ _),
    "asof_forward" -> (asofForward _),
    "asof_nearest" -> (asofNearest _),
    "events_retention" -> (eventsRetention _),
    "events_funnel" -> (eventsFunnel _),
    "events_attribution" -> (eventsAttribution _),
    "events_markov" -> (eventsMarkov _),
    "skew_profile" -> (skewProfile _),
    "join_size_estimate" -> (joinSizeEstimate _),
    "events_changepoint" -> (eventsChangepoint _),
    "events_seasonality" -> (eventsSeasonality _),
    "orders_rfm" -> (ordersRfm _),
    "events_hazard" -> (eventsHazard _),
    "events_path_prefix" -> ((s: SparkSession, d: String) => eventsPathPrefix(s, d)),
    "events_gap_histogram" -> (eventsGapHistogram _),
    "orders_top_per_priority" -> (ordersTopPerPriority _),
    "events_crosstab" -> (eventsCrosstab _),
    "w_rolling_std" -> (wRollingStd _),
    "events_session_stats" -> (eventsSessionStats _),
    "asof_tolerance" -> (asofToleranceQ _),
    "events_daily_percentiles" -> (eventsDailyPercentiles _),
    "part_affinity" -> ((s: SparkSession, d: String) => partAffinity(s, d)),
    "user_split" -> (userSplit _),
    "events_ewm" -> (eventsEwm _),
    "corr_price_qty" -> (corrPriceQty _),
    "median_order_value" -> (medianOrderValue _),
  )

  private val oraclesBase: Map[String, String] = Map(
    // the ewm float recursion replayed EXACTLY: DuckDB's recursive CTE
    // advances each user's sequence one row per iteration with the
    // same IEEE expression shape (v + (1.0-0.3)*num, 1.0 + (1.0-0.3)*den)
    // and the same (µs, event_id) order as the secondary-sort pass —
    // bit-identical, so the one formerly rows-only gate is now hashed
    // every literal is CAST to DOUBLE: DuckDB parses 1.0/0.3 as
    // DECIMALs and the recursive CTE pins its column types from the
    // base case — a decimal-typed recursion silently truncates. The
    // decay is written as the same double SUBTRACTION Scala performs
    // (1.0d - 0.3d ≠ the double nearest to decimal 0.7)
    "events_ewm" -> """
      WITH RECURSIVE e AS (
        SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
        FROM events),
      r AS (
        SELECT user_id, event_id, rn,
               v AS num,
               CAST(1.0 AS DOUBLE) AS den
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.event_id, e.rn,
               e.v + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * r.num,
               CAST(1.0 AS DOUBLE) + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * r.den
        FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      SELECT event_id, user_id, num / den AS ewm FROM r""".trim,
    "q7_nation_volume" -> """
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             year(l_shipdate)::BIGINT AS l_year,
             round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        AND ((sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_7') OR
             (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_2'))
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".trim,
    "q8_market_share" -> """
      SELECT year(l_shipdate)::BIGINT AS o_year,
             floor((sum(CASE WHEN s_nationkey = 2
                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END)::DOUBLE
                   / sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))::DOUBLE) * 10000 + 0.5) / 10000 AS mkt_share
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1 ORDER BY 1""".trim,
    "q15_top_supplier" -> """
      WITH r AS (SELECT l_suppkey,
                   sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) total_rev
                 FROM lineitem
                 WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
                 GROUP BY 1)
      SELECT s_suppkey, s_name, round(total_rev, 2)::DOUBLE AS total_revenue
      FROM r JOIN supplier ON l_suppkey = s_suppkey
      WHERE total_rev = (SELECT max(total_rev) FROM r)
      ORDER BY s_suppkey""".trim,
    "q16_part_variety" -> """
      SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE p_brand != 'Brand#13'
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY 1, 2
      ORDER BY supplier_cnt DESC, p_brand, p_type""".trim,
    "q21_waiting_suppliers" -> """
      WITH j AS (SELECT l_orderkey, l_suppkey,
                   max(CASE WHEN l_shipdate >= o_orderdate + INTERVAL 90 DAY
                       THEN 1 ELSE 0 END) AS is_late
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 GROUP BY 1, 2),
      o AS (SELECT l_orderkey FROM j GROUP BY 1
            HAVING count(*) >= 2 AND sum(is_late) = 1)
      SELECT s_name, count(*) AS numwait
      FROM j JOIN o USING (l_orderkey) JOIN supplier ON l_suppkey = s_suppkey
      WHERE is_late = 1
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 10""".trim,
    "q2_min_cost_supplier" -> """
      WITH sr AS (SELECT s_suppkey, s_name, s_acctbal, n_name
                  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
                  WHERE r_name = 'EUROPE'),
      o AS (SELECT l_partkey, l_suppkey, min(l_extendedprice) AS offer_price
            FROM lineitem JOIN sr ON l_suppkey = s_suppkey
            GROUP BY 1, 2),
      mc AS (SELECT l_partkey, min(offer_price) AS min_price FROM o GROUP BY 1)
      SELECT s_acctbal, s_name, n_name, p_partkey, offer_price
      FROM o
      JOIN mc ON o.l_partkey = mc.l_partkey AND o.offer_price = mc.min_price
      JOIN part ON o.l_partkey = p_partkey
      JOIN sr ON o.l_suppkey = sr.s_suppkey
      WHERE p_type = 'LARGE'
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      LIMIT 100""".trim,
    "q9_product_profit" -> """
      SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year,
             round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                     - CAST(0.1 * p_retailprice * l_quantity AS DECIMAL(18,6))), 2)::DOUBLE AS sum_profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      WHERE p_name LIKE '%widget%'
      GROUP BY 1, 2 ORDER BY 1, 2 DESC""".trim,
    "q11_important_parts" -> """
      WITH sup AS (SELECT s_suppkey FROM supplier
                   JOIN nation ON s_nationkey = n_nationkey
                   JOIN region ON n_regionkey = r_regionkey
                   WHERE r_name = 'ASIA'),
      bp AS (SELECT l_partkey, sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS pv
             FROM lineitem JOIN sup ON l_suppkey = s_suppkey
             GROUP BY 1)
      SELECT l_partkey AS p_partkey, round(pv, 2)::DOUBLE AS part_value
      FROM bp
      WHERE pv * 1000 > (SELECT sum(pv) FROM bp)
      ORDER BY part_value DESC, p_partkey""".trim,
    "q20_excess_suppliers" -> """
      WITH li AS (SELECT l_partkey, l_suppkey, l_quantity, l_shipdate
                  FROM lineitem JOIN part ON l_partkey = p_partkey
                  WHERE p_name LIKE '%bolt%'),
      r AS (SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,6))) AS rq
            FROM li WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
            GROUP BY 1, 2),
      t AS (SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,6))) AS tq
            FROM li GROUP BY 1, 2),
      q AS (SELECT DISTINCT r.l_suppkey FROM r
            JOIN t ON r.l_partkey = t.l_partkey AND r.l_suppkey = t.l_suppkey
            WHERE rq * 2 > tq)
      SELECT s_name, s_acctbal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'AMERICA'
        AND s_suppkey IN (SELECT l_suppkey FROM q)
      ORDER BY s_name""".trim,
    "q4_priority_count" -> """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders o
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""".trim,
    "q12_shipping_delay" -> """
      SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) >= 60
                  THEN 'late' ELSE 'ontime' END AS delay_bucket,
             sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_priority_lines,
             sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS low_priority_lines
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1""".trim,
    "q13_order_distribution" -> """
      SELECT c_count, count(*) AS custdist
      FROM (SELECT c_custkey, count(o_orderkey) c_count
            FROM customer LEFT OUTER JOIN
              (SELECT o_orderkey, o_custkey FROM orders
               WHERE o_orderpriority != '1-URGENT') o
              ON c_custkey = o_custkey
            GROUP BY c_custkey)
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""".trim,
    "q17_small_quantity" -> """
      WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
                  FROM lineitem JOIN part ON l_partkey = p_partkey
                  WHERE p_brand = 'Brand#13'),
      a AS (SELECT l_partkey,
              sum(CAST(l_quantity AS DECIMAL(18,6))) sum_qty, count(*) cnt
            FROM li GROUP BY 1)
      SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,6))) / 7, 2)::DOUBLE AS avg_yearly
      FROM li JOIN a USING (l_partkey)
      WHERE CAST(l_quantity AS DECIMAL(18,6)) * cnt * 2 < sum_qty""".trim,
    "q22_dormant_customers" -> """
      WITH a AS (SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) sum_bal, count(*) cnt
                 FROM customer WHERE c_acctbal > 0)
      SELECT c_nationkey, count(*) AS numcust,
             round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2)::DOUBLE AS totacctbal
      FROM customer, a
      WHERE CAST(c_acctbal AS DECIMAL(18,6)) * cnt > sum_bal
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      GROUP BY c_nationkey
      ORDER BY c_nationkey""".trim,
    "q3_shipping_priority" -> s"""
      SELECT l_orderkey,
             round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue,
             o_orderdate, o_orderpriority
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '$cutoff 00:00:00'
        AND l_shipdate > TIMESTAMP '$cutoff 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""".trim,
    "q5_local_supplier" -> """
      SELECT n_name,
             round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""".trim,
    "q6_forecast_revenue" -> """
      SELECT round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""".trim,
    "q10_returned_items" -> """
      SELECT c_custkey, c_name,
             round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue,
             c_acctbal, n_name
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""".trim,
    "q14_promo_revenue" -> """
      SELECT floor((100.0 * sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END)::DOUBLE
                   / sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))::DOUBLE) * 10000 + 0.5) / 10000 AS promo_share
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".trim,
    "q18_large_volume" -> """
      WITH big AS (SELECT l_orderkey,
                     round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2)::DOUBLE AS total_qty
                   FROM lineitem GROUP BY 1 HAVING total_qty > 150)
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
      FROM orders
      JOIN big ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 100""".trim,
    "q19_discounted_revenue" -> """
      SELECT round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
         OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
         OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)""".trim,
    "merge_indicator" -> """
      SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_orders,
             CASE WHEN c_custkey IS NULL THEN 'right_only'
                  WHEN o_custkey IS NULL THEN 'left_only'
                  ELSE 'both' END AS merge_side
      FROM customer
      FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders
                       FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1) r
        ON c_custkey = o_custkey""".trim,
    "cut_order_value" -> """
      SELECT CASE WHEN o_totalprice < 50000 THEN 'lt_50k'
                  WHEN o_totalprice < 150000 THEN '50k_150k'
                  WHEN o_totalprice < 300000 THEN '150k_300k'
                  ELSE 'ge_300k' END AS bin,
             count(*) AS n_orders
      FROM orders GROUP BY 1""".trim,
    "qcut_order_value" -> """
      SELECT bin, count(*) AS n_orders,
             min(o_totalprice) AS min_value, max(o_totalprice) AS max_value
      FROM (SELECT o_totalprice,
              ntile(4) OVER (ORDER BY o_totalprice, o_orderkey)::BIGINT AS bin
            FROM orders)
      GROUP BY bin ORDER BY bin""".trim,
    "rollup_revenue" -> """
      SELECT l_returnflag, l_linestatus,
             round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue,
             count(*) AS n_rows,
             GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)""".trim,
    "pivot_orders" -> """
      SELECT o_orderpriority,
             count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
             count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
             count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
      FROM orders GROUP BY o_orderpriority""".trim,
    "unpivot_lineitem" -> """
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".trim,
    "describe_lineitem" -> {
      def one(m: String) = s"""
        SELECT '$m' AS metric, count(*) AS n,
               floor((sum(CAST($m AS DECIMAL(18,6)))::DOUBLE / count(*)) * 10000 + 0.5) / 10000 AS mean,
               floor((sqrt((sum(CAST($m * $m AS DECIMAL(38,6)))::DOUBLE
                           - sum(CAST($m AS DECIMAL(18,6)))::DOUBLE
                             * sum(CAST($m AS DECIMAL(18,6)))::DOUBLE / count(*))
                          / (count(*) - 1))) * 10000 + 0.5) / 10000 AS std,
               min($m)::DOUBLE AS min_val, max($m)::DOUBLE AS max_val
        FROM lineitem"""
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(one).mkString(" UNION ALL ")
    },
    "w_rolling_avg" -> """
      SELECT o_orderkey, o_custkey,
             floor((sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER w::DOUBLE
                   / count(*) OVER w) * 10000 + 0.5) / 10000 AS rolling_avg_spend
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".trim,
    "w_running_sum" -> """
      SELECT o_orderkey, o_custkey,
             row_number() OVER w AS order_seq,
             round(sum(o_totalprice) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS UNBOUNDED PRECEDING), 2) AS running_spend
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".trim,
    "events_windowed" -> """
      SELECT date_trunc('hour', ts) AS win_start, event_type,
             count(*) AS n_events,
             round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
      FROM events
      GROUP BY 1, 2""".trim,
    // the streaming-ingested store table must converge to the batch agg
    "stream_upsert" -> """
      SELECT date_trunc('hour', ts) AS win_start, event_type,
             count(*) AS n_events,
             round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
      FROM events
      GROUP BY 1, 2""".trim,
    // ns→µs truncation note: the window ORDER BY uses epoch_ns // 1000
    // (µs — what Spark reads), gaps use epoch_ns // 1e9 (whole seconds,
    // same floor Spark's cast-to-long takes), session_start is the
    // epoch-second BIGINT itself — no TIMESTAMP reconstruction, so no
    // µs-vs-ns representation gap for the driver's hash
    "events_sessionized" -> """
      WITH e AS (SELECT event_id, user_id, value,
                   epoch_ns(ts) // 1000 AS us,
                   epoch_ns(ts) // 1000000000 AS s
                 FROM events),
      g AS (SELECT *,
              CASE WHEN s - lag(s) OVER w IS NULL OR s - lag(s) OVER w > 1800
                   THEN 1 ELSE 0 END AS new_session
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      n AS (SELECT *, sum(new_session) OVER
              (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
              ::BIGINT AS session_no
            FROM g)
      SELECT user_id, session_no,
             min(s) AS session_start,
             count(*) AS n_events,
             round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
      FROM n GROUP BY user_id, session_no""".trim,
    // the PLAIN sessionization in SQL — the salted two-phase operator
    // must reproduce it exactly (that equality IS its contract)
    "events_sessionized_salted" -> """
      WITH e AS (SELECT event_id, user_id,
                   epoch_ns(ts) // 1000 AS us,
                   epoch_ns(ts) // 1000000000 AS s
                 FROM events),
      g AS (SELECT *,
              CASE WHEN s - lag(s) OVER w IS NULL OR s - lag(s) OVER w > 1800
                   THEN 1 ELSE 0 END AS new_session
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      n AS (SELECT *, sum(new_session) OVER
              (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
              ::BIGINT AS session_no
            FROM g)
      SELECT user_id, session_no,
             min(s) AS session_start,
             max(s) AS session_end,
             count(*) AS n_events
      FROM n GROUP BY user_id, session_no""".trim,
    "asof_join" -> """
      WITH od AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders)
      SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
      FROM events e
      ASOF LEFT JOIN (SELECT * FROM od WHERE rn = 1) o
        ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".trim,
    // the salted variant must be indistinguishable from the plain one
    "asof_join_salted" -> """
      WITH od AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders)
      SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
      FROM events e
      ASOF LEFT JOIN (SELECT * FROM od WHERE rn = 1) o
        ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".trim,
    "latest_per_key" -> """
      SELECT user_id, event_id, event_type, value
      FROM (SELECT user_id, event_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1""".trim,
    // deltas in DECIMAL(9,2) then ::DOUBLE (exact — values carry two
    // true decimals); gap in whole seconds; window orders by the µs
    // timestamp (what Spark reads) with the event_id tie-break
    "events_diff" -> """
      WITH e AS (SELECT event_id, user_id, value::DECIMAL(9,2) AS v,
                   epoch_ns(ts) // 1000 AS us,
                   epoch_ns(ts) // 1000000000 AS s
                 FROM events)
      SELECT event_id, user_id,
             (lag(v) OVER w)::DOUBLE AS prev_value,
             (v - lag(v) OVER w)::DOUBLE AS delta_value,
             s - lag(s) OVER w AS gap_seconds
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)""".trim,
    // open/close picked by (µs, event_id) row_number — the same total
    // order Spark's min_by/max_by struct keys impose; raw doubles are
    // selected, never computed on
    "events_resample" -> """
      WITH e AS (SELECT user_id, event_id, value,
                   epoch_ns(date_trunc('hour', ts)) // 1000000000 AS bucket_s,
                   epoch_ns(ts) // 1000 AS us
                 FROM events),
      r AS (SELECT *,
              row_number() OVER (PARTITION BY user_id, bucket_s
                                 ORDER BY us, event_id) AS rn_a,
              row_number() OVER (PARTITION BY user_id, bucket_s
                                 ORDER BY us DESC, event_id DESC) AS rn_d
            FROM e)
      SELECT user_id, bucket_s, count(*) AS n_events,
             max(value) FILTER (WHERE rn_a = 1) AS open_v,
             max(value) AS high_v,
             min(value) AS low_v,
             max(value) FILTER (WHERE rn_d = 1) AS close_v
      FROM r GROUP BY 1, 2""".trim,
    // whole-second epoch times: the range predicate must evaluate
    // identically at ns (DuckDB) and µs (Spark) precision, so both
    // sides floor to seconds before comparing; sums ride DECIMAL(9,2)
    "range_join" -> """
      WITH e AS (SELECT event_id, user_id, event_type,
                   epoch_ns(ts) // 1000000000 AS t_s,
                   value::DECIMAL(9,2) AS v
                 FROM events),
      a AS (SELECT event_id, user_id, t_s FROM e WHERE event_type = 'purchase'),
      m AS (SELECT a.event_id, count(*) AS n_follow,
                   round(sum(f.v), 2)::DOUBLE AS sum_value
            FROM a JOIN e f ON f.user_id = a.user_id
                           AND f.t_s > a.t_s AND f.t_s <= a.t_s + 900
            GROUP BY 1)
      SELECT a.event_id, a.user_id, a.t_s AS anchor_s,
             coalesce(m.n_follow, 0) AS n_follow, m.sum_value
      FROM a LEFT JOIN m USING (event_id)""".trim,
    // md5 register geometry replayed exactly: first 8 hex digits pick
    // the register, the next 13 (52 bits) give rho = 53 - length(bin x)
    // — both engines print bin() without leading zeros, no float log.
    // The estimator (float) is spec-gated, not oracled.
    "hll_sketch" -> """
      WITH h AS (SELECT event_type,
                   ('0x' || substr(md5('hll:' || user_id::VARCHAR), 1, 8))::BIGINT % 256 AS register,
                   ('0x' || substr(md5('hll:' || user_id::VARCHAR), 9, 13))::BIGINT AS x
                 FROM events)
      SELECT event_type, register,
             max(CASE WHEN x = 0 THEN 53 ELSE 53 - length(bin(x)) END) AS rho_max
      FROM h GROUP BY 1, 2 ORDER BY 1, 2""".trim,
    // the salted join's correctness claim: identical to the plain join
    "join_salted" -> """
      SELECT o_orderpriority, count(*) AS n_items,
             round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1""".trim,
    // every 5th value nulled then linearly interpolated; the window
    // orders by (µs, event_id) and the fill formula is the identical
    // single-division IEEE-double shape on both sides
    "interpolate_events" -> """
      WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
                   CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
                 FROM events),
      w AS (SELECT event_id, user_id, us, v,
              last_value(v IGNORE NULLS) OVER pb AS pv,
              first_value(v IGNORE NULLS) OVER fb AS nv,
              last_value(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS) OVER pb AS pt,
              first_value(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS) OVER fb AS nt
            FROM e
            WINDOW pb AS (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   fb AS (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT event_id, user_id,
             CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NULL THEN NULL
                  WHEN nv IS NULL THEN pv
                  ELSE pv + (nv - pv) * ((us - pt)::DOUBLE / (nt - pt)::DOUBLE)
             END AS value_interp
      FROM w""".trim,
    // inclusive forward match; right (key,time) ties dedup by max id —
    // ORDER BY p_us ASC, p_id DESC replays the union+window pick
    "asof_forward" -> """
      WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS e_us FROM events),
      p AS (SELECT user_id AS p_user, event_id AS p_id, epoch_ns(ts) // 1000 AS p_us
            FROM events WHERE event_type = 'purchase'),
      j AS (SELECT e.event_id, p.p_id, p.p_us - e.e_us AS gap_us,
              row_number() OVER (PARTITION BY e.event_id
                                 ORDER BY p.p_us, p.p_id DESC) AS rn
            FROM e JOIN p ON p.p_user = e.user_id AND p.p_us >= e.e_us)
      SELECT e.event_id, e.user_id, j.p_id AS next_purchase_id, j.gap_us
      FROM e LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (event_id)""".trim,
    // global min |gap|; ties prefer the earlier (backward) candidate —
    // ORDER BY abs, p_us, p_id DESC mirrors the nearest pick
    "asof_nearest" -> """
      WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS e_us FROM events),
      p AS (SELECT user_id AS p_user, event_id AS p_id, epoch_ns(ts) // 1000 AS p_us
            FROM events WHERE event_type = 'purchase'),
      j AS (SELECT e.event_id, p.p_id, p.p_us - e.e_us AS gap_us,
              row_number() OVER (PARTITION BY e.event_id
                                 ORDER BY abs(p.p_us - e.e_us), p.p_us, p.p_id DESC) AS rn
            FROM e JOIN p ON p.p_user = e.user_id)
      SELECT e.event_id, e.user_id, j.p_id AS nearest_purchase_id, j.gap_us
      FROM e LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (event_id)""".trim,
    // five exact DECIMAL moment sums cast to double once, then the
    // identical IEEE formula (+,x,/,sqrt are all correctly rounded)
    "corr_price_qty" -> """
      WITH m AS (SELECT count(*) AS n,
                   sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sx,
                   sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sy,
                   sum(l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2))::DOUBLE AS sxx,
                   sum(l_extendedprice::DECIMAL(18,2) * l_extendedprice::DECIMAL(18,2))::DOUBLE AS syy,
                   sum(l_quantity::DECIMAL(18,2) * l_extendedprice::DECIMAL(18,2))::DOUBLE AS sxy
                 FROM lineitem)
      SELECT n,
             (n * sxy - sx * sy) /
               (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS pearson_r,
             (sxy - sx * sy / n) / (n - 1) AS sample_cov
      FROM m""".trim,
    // same rank-selected middle rows as the Spark side — never an
    // engine's own median() interpolation
    "median_order_value" -> """
      WITH r AS (SELECT o_orderpriority, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey) AS rn,
                   count(*) OVER (PARTITION BY o_orderpriority) AS cnt
                 FROM orders)
      SELECT o_orderpriority,
             sum(o_totalprice::DECIMAL(18,2))::DOUBLE / count(*) AS median_value
      FROM r
      WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
      GROUP BY 1""".trim,
    // all-integer: epoch-day buckets, integer offsets, distinct-row counts
    "events_retention" -> """
      WITH a AS (SELECT DISTINCT user_id,
                   (epoch_ns(ts) // 1000000000) - ((epoch_ns(ts) // 1000000000) % 86400) AS day_s
                 FROM events),
      c AS (SELECT user_id, min(day_s) AS cohort_s FROM a GROUP BY 1)
      SELECT c.cohort_s, (a.day_s - c.cohort_s) // 86400 AS offset_days,
             count(*) AS n_users
      FROM a JOIN c USING (user_id)
      GROUP BY 1, 2""".trim,
    // two chained backward as-of picks, each replayed as a
    // row_number-over-candidates; 1-hour windows in epoch µs
    "events_funnel" -> """
      WITH b AS (SELECT event_id AS buy_id, user_id, epoch_ns(ts) // 1000 AS buy_us
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id AS c_user, event_id AS click_id, epoch_ns(ts) // 1000 AS click_us
            FROM events WHERE event_type = 'click'),
      v AS (SELECT user_id AS v_user, event_id AS view_id, epoch_ns(ts) // 1000 AS view_us
            FROM events WHERE event_type = 'view'),
      s1 AS (SELECT b.buy_id, b.user_id, b.buy_us, c.click_id, c.click_us,
               row_number() OVER (PARTITION BY b.buy_id
                                  ORDER BY c.click_us DESC, c.click_id DESC) AS rn
             FROM b LEFT JOIN c ON c.c_user = b.user_id AND c.click_us <= b.buy_us),
      s1p AS (SELECT buy_id, user_id,
                CASE WHEN click_us IS NOT NULL AND buy_us - click_us <= 3600000000
                     THEN click_id END AS click_id,
                CASE WHEN click_us IS NOT NULL AND buy_us - click_us <= 3600000000
                     THEN click_us END AS click_us
              FROM s1 WHERE rn = 1),
      s2 AS (SELECT s1p.buy_id, s1p.user_id, s1p.click_id, s1p.click_us,
               v.view_id, v.view_us,
               row_number() OVER (PARTITION BY s1p.buy_id
                                  ORDER BY v.view_us DESC, v.view_id DESC) AS rn2
             FROM s1p LEFT JOIN v
               ON s1p.click_id IS NOT NULL AND v.v_user = s1p.user_id
                  AND v.view_us <= s1p.click_us)
      SELECT buy_id, user_id, click_id,
             CASE WHEN view_us IS NOT NULL AND click_us - view_us <= 3600000000
                  THEN view_id END AS view_id,
             CASE WHEN click_id IS NULL THEN 1
                  WHEN view_us IS NULL OR click_us - view_us > 3600000000 THEN 2
                  ELSE 3 END AS funnel_stage
      FROM s2 WHERE rn2 = 1""".trim,
    // last-touch attribution: latest click/view <= purchase, 1 h window;
    // (user, us) ties keep max touch_id to mirror the as-of dedup
    "events_attribution" -> """
      WITH b AS (SELECT event_id AS buy_id, user_id,
                   epoch_ns(ts) // 1000 AS buy_us, value
                 FROM events WHERE event_type = 'purchase'),
      t AS (SELECT user_id AS t_user, event_type AS ch,
              event_id AS touch_id, epoch_ns(ts) // 1000 AS touch_us
            FROM events WHERE event_type IN ('click', 'view')),
      j AS (SELECT b.buy_id, b.value, t.ch, t.touch_us, b.buy_us,
              row_number() OVER (PARTITION BY b.buy_id
                                 ORDER BY t.touch_us DESC, t.touch_id DESC) AS rn
            FROM b LEFT JOIN t
              ON t.t_user = b.user_id AND t.touch_us <= b.buy_us),
      a AS (SELECT buy_id, value,
              CASE WHEN touch_us IS NOT NULL AND buy_us - touch_us <= 3600000000
                   THEN ch ELSE 'direct' END AS channel
            FROM j WHERE rn = 1)
      SELECT channel, count(*)::BIGINT AS n_purchases,
             round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
      FROM a GROUP BY 1""".trim,
    // first-order Markov: P(to | from) over per-user lead() sequences;
    // denominators count outgoing transitions so each row sums to 1
    "events_markov" -> """
      WITH seq AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events),
      pair AS (SELECT from_type, to_type, count(*) n FROM seq
               WHERE to_type IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT from_type, sum(n) n_out FROM pair GROUP BY 1)
      SELECT p.from_type, p.to_type, p.n::BIGINT AS n,
             floor((CAST(p.n AS DOUBLE) / CAST(t.n_out AS DOUBLE))
                   * 10000 + 0.5) / 10000 AS p
      FROM pair p JOIN tot t USING (from_type)""".trim,
    // log2-bin key-skew histogram: bucket = bit length of the per-key
    // count, exact integer stats per bin
    "skew_profile" -> """
      WITH c AS (SELECT l_orderkey, count(*) c FROM lineitem GROUP BY 1)
      SELECT len(bin(c))::INT AS bucket, count(*)::BIGINT AS n_keys,
             sum(c)::BIGINT AS n_rows,
             min(c)::BIGINT AS min_rows_per_key,
             max(c)::BIGINT AS max_rows_per_key
      FROM c GROUP BY 1""".trim,
    // whole-second gaps via epoch division; len(bin()) log2 buckets
    // (gap floored at 1 for the bin only — a 0-gap user bins with 1s)
    "orders_top_per_priority" -> """
      SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)::BIGINT AS rank
        FROM orders) WHERE rank <= 3""".trim,
    // DuckDB dayofweek is 0-6 (Sun=0); Spark's is 1-7 (Sun=1)
    "events_crosstab" -> """
      SELECT event_type,
             count(*) FILTER (dayofweek(ts) + 1 = 1) AS dow_1,
             count(*) FILTER (dayofweek(ts) + 1 = 2) AS dow_2,
             count(*) FILTER (dayofweek(ts) + 1 = 3) AS dow_3,
             count(*) FILTER (dayofweek(ts) + 1 = 4) AS dow_4,
             count(*) FILTER (dayofweek(ts) + 1 = 5) AS dow_5,
             count(*) FILTER (dayofweek(ts) + 1 = 6) AS dow_6,
             count(*) FILTER (dayofweek(ts) + 1 = 7) AS dow_7
      FROM events GROUP BY 1""".trim,
    // same IEEE op sequence as the Spark side: exact decimal window
    // moments cast to double once, then mult/sub/div/sqrt/round.
    // DECIMAL(19,6) (not 18) in the square: width ≤ 18 stores as INT64
    // in DuckDB and the raw multiplication overflows it — width 19
    // forces INT128 while 19+19 = 38 stays a legal result width.
    // Values are identical either way (both representations exact).
    "w_rolling_std" -> """
      SELECT o_orderkey, o_custkey,
             CASE WHEN count(*) OVER w > 1 THEN
               floor(sqrt(greatest(
                 (count(*) OVER w
                    * (sum(CAST(o_totalprice AS DECIMAL(19,6))
                           * CAST(o_totalprice AS DECIMAL(19,6))) OVER w)::DOUBLE
                  - (sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER w)::DOUBLE
                    * (sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER w)::DOUBLE)
                 / (count(*) OVER w * (count(*) OVER w - 1)), 0)) * 10000 + 0.5)
               / 10000
             END AS rolling_std
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".trim,
    "events_session_stats" -> """
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s, event_id
                 FROM events),
      g AS (SELECT user_id, ts_s, event_id,
              ts_s - lag(ts_s) OVER (PARTITION BY user_id
                                     ORDER BY ts_s, event_id) AS gap_s
            FROM e),
      sflag AS (SELECT user_id,
              CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END AS ns,
              ts_s, event_id
            FROM g),
      snum AS (SELECT user_id,
              (sum(ns) OVER (PARTITION BY user_id
                             ORDER BY ts_s, event_id))::BIGINT AS session_no
            FROM sflag),
      sess AS (SELECT user_id, session_no, count(*)::BIGINT AS n_events
               FROM snum GROUP BY 1, 2)
      SELECT len(bin(n_events))::INT AS bucket,
             count(*)::BIGINT AS n_sessions,
             min(n_events)::BIGINT AS min_events,
             max(n_events)::BIGINT AS max_events,
             sum(n_events)::BIGINT AS total_events
      FROM sess GROUP BY 1""".trim,
    // basket-bounded pair fanout; lift from exact integers + one
    // portable-rounded division; ties (lift, p_a, p_b) deterministic
    "part_affinity" -> """
      WITH li AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
      n AS (SELECT count(DISTINCT o) nb FROM li),
      pc AS (SELECT p, count(*) np FROM li GROUP BY 1),
      pairs AS (SELECT a.p pa, b.p pb, count(*) nab
                FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
      sc AS (SELECT pa, pb, nab,
               floor(((nab * nb)::DOUBLE / (x.np * y.np)::DOUBLE) * 10000 + 0.5)
                 / 10000 AS lift
             FROM pairs CROSS JOIN n
             JOIN pc x ON x.p = pairs.pa JOIN pc y ON y.p = pairs.pb)
      SELECT pa AS p_a, pb AS p_b, nab AS n_ab, lift,
             rn::BIGINT AS rank
      FROM (SELECT *, row_number() OVER (ORDER BY lift DESC, pa, pb) rn
            FROM sc)
      WHERE rn <= 20""".trim,
    // exact rank picks: same (value, event_id) order, same ceil(p*n)
    // double targets (identical IEEE product on both engines)
    "events_daily_percentiles" -> """
      WITH e AS (SELECT epoch_ns(ts) // 1000000000 AS t_s, value, event_id
                 FROM events),
      d AS (SELECT t_s - (t_s % 86400) AS day, value, event_id FROM e),
      r AS (SELECT day, value,
              row_number() OVER (PARTITION BY day ORDER BY value, event_id) rn,
              count(*) OVER (PARTITION BY day) cnt
            FROM d)
      SELECT day, max(CASE WHEN rn = ceil(cnt * 0.5) THEN value END) AS p50,
             max(CASE WHEN rn = ceil(cnt * 0.95) THEN value END) AS p95
      FROM r GROUP BY 1""".trim,
    // the plain backward as-of match, then the tolerance applied as a
    // projection: matches older than 7 days null out, rows remain
    "asof_tolerance" -> """
      WITH od AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders),
      m AS (
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey, o.o_totalprice, o.o_orderdate
        FROM events e
        ASOF LEFT JOIN (SELECT * FROM od WHERE rn = 1) o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate)
      SELECT event_id, user_id,
             CASE WHEN o_orderdate IS NOT NULL
                   AND ts <= o_orderdate + INTERVAL 7 DAY
                  THEN o_orderkey END AS o_orderkey,
             CASE WHEN o_orderdate IS NOT NULL
                   AND ts <= o_orderdate + INTERVAL 7 DAY
                  THEN o_totalprice END AS o_totalprice
      FROM m""".trim,
    "events_gap_histogram" -> """
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s, event_id
                 FROM events),
      g AS (SELECT user_id,
              ts_s - lag(ts_s) OVER (PARTITION BY user_id
                                     ORDER BY ts_s, event_id) AS gap_s
            FROM e),
      m AS (SELECT user_id, max(gap_s) AS max_gap_s FROM g
            WHERE gap_s IS NOT NULL GROUP BY 1)
      SELECT len(bin(greatest(max_gap_s, 1)))::INT AS bucket,
             count(*)::BIGINT AS n_users,
             min(max_gap_s)::BIGINT AS min_gap_s,
             max(max_gap_s)::BIGINT AS max_gap_s
      FROM m GROUP BY 1""".trim,
    // positional min-CASE picks per slot; top-20 by (count desc, path)
    "events_path_prefix" -> """
      WITH e AS (SELECT user_id, event_type,
              row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
            FROM events),
      p AS (SELECT user_id,
              concat_ws('>',
                min(CASE WHEN rn = 1 THEN event_type END),
                min(CASE WHEN rn = 2 THEN event_type END),
                min(CASE WHEN rn = 3 THEN event_type END)) AS path
            FROM e WHERE rn <= 3 GROUP BY 1),
      c AS (SELECT path, count(*) n_users FROM p GROUP BY 1)
      SELECT path, n_users::BIGINT AS n_users, rank::INT AS rank FROM (
        SELECT path, n_users,
               row_number() OVER (ORDER BY n_users DESC, path) rank
        FROM c) WHERE rank <= 20""".trim,
    // KM-style right-censoring: last event within 7 days of the corpus
    // end counts at-risk but never churned; reverse running sum = the
    // at-risk curve
    "events_hazard" -> """
      WITH e AS (SELECT user_id, date_trunc('day', ts) dday FROM events),
      lf AS (SELECT user_id, min(dday) f, max(dday) l FROM e GROUP BY 1),
      m AS (SELECT max(l) m FROM lf),
      per AS (SELECT datediff('day', f, l) AS lifetime_days,
                datediff('day', l, (SELECT m FROM m)) < 7 AS censored
              FROM lf),
      byl AS (SELECT lifetime_days, count(*) n_ending,
                sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) n_churned
              FROM per GROUP BY 1),
      r AS (SELECT lifetime_days, n_churned,
              sum(n_ending) OVER (ORDER BY lifetime_days DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_risk
            FROM byl)
      SELECT lifetime_days::BIGINT AS lifetime_days, at_risk::BIGINT AS at_risk,
             n_churned::BIGINT AS n_churned,
             floor((n_churned::DOUBLE / at_risk::DOUBLE) * 10000 + 0.5) / 10000
               AS hazard
      FROM r""".trim,
    // whole-day recency against the corpus max date; thresholds are
    // fixed constants so the segment CASE is a pure projection
    "orders_rfm" -> """
      WITH mx AS (SELECT max(o_orderdate) md FROM orders),
      rfm AS (SELECT o_custkey, max(o_orderdate) lo, count(*) frequency,
                round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS monetary
              FROM orders GROUP BY 1)
      SELECT o_custkey,
             datediff('day', lo, (SELECT md FROM mx))::BIGINT AS recency_days,
             frequency::BIGINT AS frequency, monetary,
             CASE WHEN datediff('day', lo, (SELECT md FROM mx)) <= 90 AND frequency >= 10 THEN 'champion'
                  WHEN datediff('day', lo, (SELECT md FROM mx)) <= 90 AND frequency >= 5 THEN 'loyal'
                  WHEN datediff('day', lo, (SELECT md FROM mx)) <= 365 THEN 'active'
                  WHEN frequency >= 10 THEN 'lapsed_whale'
                  ELSE 'dormant' END AS segment
      FROM rfm""".trim,
    // DuckDB dayofweek is 0=Sunday; +1 aligns with Spark's 1=Sunday.
    // χ² assembled from the same exact integer sums, one division
    "events_seasonality" -> """
      WITH b AS (SELECT event_type, (dayofweek(ts) + 1)::INT AS dow, count(*) n
                 FROM events GROUP BY 1, 2),
      t AS (SELECT event_type, sum(n) total, sum((7*n)*(7*n)) s7sq,
              count(*) ndows
            FROM b GROUP BY 1)
      SELECT b.event_type, b.dow, b.n::BIGINT AS n,
             floor((b.n::DOUBLE / t.total::DOUBLE) * 10000 + 0.5) / 10000 AS share,
             floor(((s7sq - 14*total*total + ndows*total*total)::DOUBLE
                    / (7*total)::DOUBLE) * 10000 + 0.5) / 10000 AS chi2_scaled
      FROM b JOIN t USING (event_type)""".trim,
    // the n-scaled integer CUSUM replayed as a per-type recursive CTE
    // in (day) order; greatest() is the max-reset, all arithmetic
    // integer (HUGEINT intermediates cast to BIGINT at the edge)
    "events_changepoint" -> """
      WITH RECURSIVE d AS (
        SELECT event_type AS t, date_trunc('day', ts) AS dday, count(*) AS x
        FROM events GROUP BY 1, 2),
      stats AS (SELECT t, count(*) n, sum(x) s FROM d GROUP BY 1),
      seq AS (SELECT t, dday, x,
                row_number() OVER (PARTITION BY t ORDER BY dday) rn FROM d),
      rec(t, rn, dday, x, cu, cd) AS (
        SELECT s.t, s.rn, s.dday, s.x,
               greatest(0, st.n * s.x - st.s),
               greatest(0, -(st.n * s.x - st.s))
        FROM seq s JOIN stats st USING (t) WHERE s.rn = 1
        UNION ALL
        SELECT s.t, s.rn, s.dday, s.x,
               greatest(0, r.cu + st.n * s.x - st.s),
               greatest(0, r.cd - (st.n * s.x - st.s))
        FROM rec r
        JOIN seq s ON s.t = r.t AND s.rn = r.rn + 1
        JOIN stats st ON st.t = s.t)
      SELECT rec.t AS event_type, rec.dday AS day, rec.x::BIGINT AS n_events,
             rec.cu::BIGINT AS cusum_up, rec.cd::BIGINT AS cusum_dn,
             2 * rec.cu > st.s AS alarm_up, 2 * rec.cd > st.s AS alarm_dn
      FROM rec JOIN stats st ON st.t = rec.t""".trim,
    // exact |A join B| from the two per-key count frames; sums stay
    // integer (DuckDB HUGEINT → BIGINT cast), one final division
    "join_size_estimate" -> """
      WITH ca AS (SELECT user_id k, count(*) ca FROM events GROUP BY 1),
      cb AS (SELECT o_custkey k, count(*) cb FROM orders GROUP BY 1),
      p AS (SELECT ca.k, ca.ca * cb.cb AS pairs FROM ca JOIN cb USING (k))
      SELECT count(*)::BIGINT AS n_matched_keys,
             sum(pairs)::BIGINT AS est_rows,
             max(pairs)::BIGINT AS max_key_pairs,
             floor((max(pairs)::DOUBLE / sum(pairs)::DOUBLE) * 1000000 + 0.5)
               / 1000000 AS max_key_share
      FROM p""".trim,
    // same md5-prefix bucket hash as the Spark side: user → bucket 0-9,
    // <8 train / =8 valid / else test; aggregates prove the partition
    "user_split" -> """
      WITH s AS (SELECT event_type, user_id, value,
              CASE WHEN ('0x' || substr(md5('split:' || user_id::VARCHAR), 1, 8))::BIGINT % 10 < 8 THEN 'train'
                   WHEN ('0x' || substr(md5('split:' || user_id::VARCHAR), 1, 8))::BIGINT % 10 = 8 THEN 'valid'
                   ELSE 'test' END AS split
            FROM events)
      SELECT split, event_type, count(*)::BIGINT AS n_events,
             count(DISTINCT user_id)::BIGINT AS n_users,
             round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
      FROM s GROUP BY 1, 2""".trim,
    // whole-second intervals × DECIMAL(9,2) values: the weighted sum is
    // exact integer arithmetic, one final double division
    "events_twa" -> """
      WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ts_s,
                   value::DECIMAL(9,2) AS v
                 FROM events),
      w AS (SELECT user_id, ts_s, v,
              lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) - ts_s AS dt_s
            FROM e)
      SELECT user_id, min(ts_s) AS t_first, max(ts_s) AS t_last,
             count(*) AS n_events,
             CASE WHEN max(ts_s) > min(ts_s)
                  THEN sum(v * dt_s)::DOUBLE / (max(ts_s) - min(ts_s))::DOUBLE
                  ELSE NULL END AS twa
      FROM w GROUP BY 1""".trim,
    // daily register states merged by running max per register — the
    // dense day×register frame is bounded by the sketch geometry
    // same md5 register geometry as hll_cumulative; the merge window is
    // the trailing 7 day buckets, realized as a bounded x7 vote explode
    "hll_sliding" -> """
      WITH e AS (SELECT epoch_ns(ts) // 1000000000 AS t_s, user_id FROM events),
      d AS (SELECT t_s - (t_s % 86400) AS bucket_s,
              ('0x' || substr(md5('hll:' || user_id::VARCHAR), 1, 8))::BIGINT % 256 AS register,
              ('0x' || substr(md5('hll:' || user_id::VARCHAR), 9, 13))::BIGINT AS x
            FROM e),
      daily AS (SELECT bucket_s, register,
                  max(CASE WHEN x = 0 THEN 53 ELSE 53 - length(bin(x)) END) AS rho_day
                FROM d GROUP BY 1, 2),
      votes AS (SELECT bucket_s + o.off * 86400 AS target_s, register, rho_day
                FROM daily, (SELECT unnest(range(7)) AS off) o),
      real_days AS (SELECT DISTINCT bucket_s AS target_s FROM daily)
      SELECT v.target_s, v.register, max(v.rho_day) AS rho_max
      FROM votes v JOIN real_days USING (target_s)
      GROUP BY 1, 2""".trim,
    "hll_cumulative" -> """
      WITH e AS (SELECT epoch_ns(ts) // 1000000000 AS t_s, user_id FROM events),
      d AS (SELECT t_s - (t_s % 86400) AS bucket_s,
              ('0x' || substr(md5('hll:' || user_id::VARCHAR), 1, 8))::BIGINT % 256 AS register,
              ('0x' || substr(md5('hll:' || user_id::VARCHAR), 9, 13))::BIGINT AS x
            FROM e),
      daily AS (SELECT bucket_s, register,
                  max(CASE WHEN x = 0 THEN 53 ELSE 53 - length(bin(x)) END) AS rho_day
                FROM d GROUP BY 1, 2),
      dense AS (SELECT ds.bucket_s, r.register, daily.rho_day
                FROM (SELECT DISTINCT bucket_s FROM daily) ds
                CROSS JOIN (SELECT unnest(range(256)) AS register) r
                LEFT JOIN daily USING (bucket_s, register)),
      cum AS (SELECT bucket_s, register,
                max(rho_day) OVER (PARTITION BY register ORDER BY bucket_s
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rho_max
              FROM dense)
      SELECT bucket_s, register, rho_max FROM cum WHERE rho_max IS NOT NULL""".trim,
    // exact-integer sketch state only: the float estimator stays out
    // of the oracle hash (libm ln differs across engines)
    "distinct_sketch" -> """
      SELECT event_type,
             count(DISTINCT user_id) AS n_exact,
             4096 AS sketch_m,
             count(DISTINCT ('0x' || substr(md5('lc:' || user_id::VARCHAR), 1, 8))::BIGINT % 4096)
               AS sketch_occupied
      FROM events GROUP BY 1 ORDER BY 1""".trim,
    // the float-free z-test: (x*n - Sx)^2 > z0^2 * (n*Sxx - Sx^2) —
    // exact integers end to end, same epoch-second hour buckets
    "orders_pct_rank" -> """
      WITH r AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
          row_number() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice, o_orderkey) rn,
          count(*) OVER (PARTITION BY o_orderpriority) cnt FROM orders)
      SELECT o_orderkey, o_orderpriority, rn::BIGINT AS rank_in_group,
             floor((CAST(rn AS DOUBLE) / CAST(cnt AS DOUBLE)) * 10000 + 0.5) / 10000 AS pct_rank
      FROM r""".trim,
    "profile_lineitem" -> Seq("l_quantity", "l_extendedprice",
        "l_returnflag", "l_linestatus")
      .map(c => s"""
        SELECT '$c' AS column_name, count(*)::BIGINT n,
               sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT n_null,
               count(DISTINCT $c)::BIGINT n_distinct,
               CAST(min($c) AS VARCHAR) min_str, CAST(max($c) AS VARCHAR) max_str
        FROM lineitem""").mkString(" UNION ALL ").trim,
    "profile_wide" -> (ProfileWideCols
      .map(c => s"""
        SELECT '$c' AS column_name, count(*)::BIGINT n,
               sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT n_null,
               CAST(min($c) AS VARCHAR) min_str, CAST(max($c) AS VARCHAR) max_str
        FROM lineitem""").mkString(" UNION ALL ") + " ORDER BY column_name").trim,
    "events_wau" -> """
      WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) d FROM events),
      days AS (SELECT DISTINCT d FROM ud),
      contrib AS (SELECT DISTINCT ud.user_id, days.d
        FROM ud JOIN days ON days.d >= ud.d AND days.d <= ud.d + INTERVAL 6 DAY),
      dau AS (SELECT d, count(*) dau FROM ud GROUP BY 1)
      SELECT c.d AS day, count(*)::BIGINT wau, any_value(dau.dau)::BIGINT dau
      FROM contrib c JOIN dau ON dau.d = c.d GROUP BY 1""".trim,
    // exact decimal cumulative revenue in (rev desc, custkey) order;
    // the oracle may window globally — the engine shards (bounded data)
    "orders_pareto" -> """
      WITH cr AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) rev
                  FROM orders GROUP BY 1),
      tot AS (SELECT sum(rev) t FROM cr),
      r AS (SELECT o_custkey, rev,
              sum(rev) OVER (ORDER BY rev DESC, o_custkey) crev FROM cr)
      SELECT o_custkey, rev::DOUBLE AS revenue,
             floor((crev::DOUBLE / (SELECT t FROM tot)::DOUBLE) * 10000 + 0.5) / 10000 AS cum_share,
             CASE WHEN crev::DOUBLE / (SELECT t FROM tot)::DOUBLE <= 0.8 THEN 'A'
                  WHEN crev::DOUBLE / (SELECT t FROM tot)::DOUBLE <= 0.95 THEN 'B'
                  ELSE 'C' END AS tier
      FROM r""".trim,
    // first-touch attribution: each user counts once, on min(day)
    "events_new_users" -> """
      WITH f AS (SELECT user_id, min(date_trunc('day', ts)) d0 FROM events GROUP BY 1),
      nu AS (SELECT d0, count(*) n FROM f GROUP BY 1),
      days AS (SELECT DISTINCT date_trunc('day', ts) d FROM events)
      SELECT d AS day, coalesce(nu.n, 0)::BIGINT AS new_users,
             (sum(coalesce(nu.n, 0)) OVER (ORDER BY d))::BIGINT AS users_to_date
      FROM days LEFT JOIN nu ON nu.d0 = days.d""".trim,
    // median/MAD by explicit rank selection (NOT DuckDB's median(),
    // whose interpolation shape isn't guaranteed to match); the two
    // middle values sum in either order to the same IEEE bits
    "events_mad" -> """
      WITH r1 AS (SELECT event_type, value, event_id,
          row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) rn,
          count(*) OVER (PARTITION BY event_type) cnt FROM events),
      med AS (SELECT event_type, sum(value) / count(*) AS med
              FROM r1 WHERE rn IN (floor((cnt+1)/2), floor((cnt+2)/2)) GROUP BY 1),
      dev AS (SELECT e.event_type, abs(e.value - m.med) ad, e.event_id
              FROM events e JOIN med m ON m.event_type = e.event_type),
      r2 AS (SELECT event_type, ad, event_id,
          row_number() OVER (PARTITION BY event_type ORDER BY ad, event_id) rn,
          count(*) OVER (PARTITION BY event_type) cnt FROM dev),
      mad AS (SELECT event_type, sum(ad) / count(*) AS mad
              FROM r2 WHERE rn IN (floor((cnt+1)/2), floor((cnt+2)/2)) GROUP BY 1)
      SELECT d.event_type, count(*)::BIGINT n,
             floor(any_value(m2.med) * 10000 + 0.5) / 10000 AS median_value,
             floor(any_value(m.mad) * 10000 + 0.5) / 10000 AS mad,
             sum(CASE WHEN d.ad > 4.4478 * m.mad THEN 1 ELSE 0 END)::BIGINT n_outliers
      FROM dev d JOIN mad m ON m.event_type = d.event_type
                JOIN med m2 ON m2.event_type = d.event_type
      GROUP BY d.event_type""".trim,
    "events_anomaly" -> """
      WITH b AS (SELECT event_type,
                   (epoch_ns(ts) // 1000000000) -
                     ((epoch_ns(ts) // 1000000000) % 3600) AS bucket_s,
                   count(*)::BIGINT n_events
                 FROM events GROUP BY 1, 2),
      m AS (SELECT event_type, count(*)::BIGINT nb, sum(n_events)::BIGINT sx,
              sum(n_events * n_events)::BIGINT sxx
            FROM b GROUP BY 1)
      SELECT b.event_type, b.bucket_s, b.n_events,
             ((b.n_events * m.nb - m.sx) * (b.n_events * m.nb - m.sx)
              > 9 * (m.nb * m.sxx - m.sx * m.sx)) AS is_anomaly
      FROM b JOIN m USING (event_type)""".trim,
    // json_extract_string -> BIGINT matches Spark's string-path
    // get_json_object + cast (both yield NULL on missing/malformed)
    "events_props" -> """
      SELECT event_type, count(*) AS n,
             sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_bad,
             min(k) AS min_k, max(k) AS max_k, sum(k)::BIGINT AS sum_k
      FROM (SELECT event_type,
              json_extract_string(props, '$.k')::BIGINT AS k FROM events)
      GROUP BY 1""".trim,
    // bottom-256 md5 sample per group, then exact rank picks off the
    // sample in (value, key) order — replays kmvQuantiles bit-for-bit
    "quantile_sketch" -> """
      WITH s AS (SELECT event_type grp, event_id k, value v,
                   md5('kmv:' || event_id::VARCHAR) hr FROM events),
      samp AS (SELECT * FROM
                 (SELECT grp, k, v,
                         row_number() OVER (PARTITION BY grp ORDER BY hr, k) r
                  FROM s) WHERE r <= 256),
      sized AS (SELECT grp, max(r)::BIGINT n FROM samp GROUP BY 1),
      vr AS (SELECT grp, v,
               row_number() OVER (PARTITION BY grp ORDER BY v, k) vrank
             FROM samp)
      SELECT grp AS event_type, p, n AS n_sample, v AS est
      FROM vr JOIN sized USING (grp)
      JOIN (VALUES (0.5), (0.9), (0.99)) ps(p)
        ON vrank = greatest(1, ceil(p * n)::BIGINT)""".trim,
    // every 7th value nulled then forward-filled; window orders by the
    // µs timestamp (what Spark sees) with the event_id tie-break
    "ffill_events" -> """
      WITH e AS (SELECT event_id, user_id,
                   epoch_ns(ts) // 1000 AS us,
                   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
                 FROM events)
      SELECT event_id, user_id,
             last_value(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
      FROM e""".trim,
  )

  /** The salted gap-repair gates assert equality with the PLAIN forms:
    * identical oracle SQL, so a salted variant that diverges by one
    * row or one bit fails its hash. */
  val oracles: Map[String, String] = oraclesBase ++ Map(
    "ffill_events_salted" -> oraclesBase("ffill_events"),
    "events_diff_salted" -> oraclesBase("events_diff"),
    "interpolate_events_salted" -> oraclesBase("interpolate_events"))
}
