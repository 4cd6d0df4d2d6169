package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession
import EntryExprs.revenue

/** Multi-join analytical workload shapes (TPC-H Q3/Q5 style) — the
  * star-join paths a warehouse engine must plan well: selective dim
  * filters reduce before the fact join, small sides broadcast, the one
  * genuinely large join (orders ⋈ lineitem) shuffles on its key, and
  * aggregation is partial map-side before the group-key exchange.
  *
  * The reference never joins more than 3 tables at once (SURVEY §2.3),
  * but a complete engine has to handle the 6-table chain; Catalyst's
  * join reorder + AQE pick the physical order, we only declare it.
  *
  * Determinism: DECIMAL revenue sums, total ORDER BY with unique
  * tiebreakers (see RelationalQueries header).
  */
object WorkloadQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q3 shape: selective dim filter (1/5 of customers) broadcast
    // into the orders scan, then one shuffle join to lineitem on
    // l_orderkey, grouped revenue per order. At 100 TB: customer-filter
    // broadcast prunes orders before the big join; group key (orderkey)
    // reuses the join partitioning so the aggregate adds no exchange.
    "q56_star_join_3way" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < "1998-07-01")
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > "1998-07-01")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(revenue.as("revenue"))
        .select(col("l_orderkey"), col("o_orderdate").cast("date")
          .as("o_orderdate"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
    }),

    // TPC-H Q5 shape: 6-table chain region→nation→customer→orders→
    // lineitem→supplier with the "local supplier" re-correlation
    // (c_nationkey = s_nationkey). region/nation/supplier broadcast;
    // customer⋈orders⋈lineitem carry the data volume.
    "q57_star_join_6way" -> ((s, dir) => {
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nat = t(s, dir, "nation")
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1998-01-01")
        .select("o_orderkey", "o_custkey")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }))

  val oracleSql: Map[String, String] = Map(
    "q56_star_join_3way" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |              AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, l_orderkey""".stripMargin,
    "q57_star_join_6way" ->
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |              AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM region, nation, customer, orders, lineitem, supplier
        |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
        |  AND c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND s_nationkey = c_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)
}
