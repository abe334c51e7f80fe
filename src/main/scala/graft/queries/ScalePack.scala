package graft.queries

import graft.{QueryPack, Tables}
import graft.ops.ScaleJoins
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shuffle-shape gates for [[graft.ops.ScaleJoins]]: the salted skew join
  * and the bucketed co-located join must be row-for-row equal to the plain
  * equi-join the oracle computes — the primitives only change WHERE rows
  * meet, never WHICH rows meet. Plan shapes (salt spread, exchange-free
  * bucketed join) are pinned in ScaleJoinsSpec.
  */
object ScalePack extends QueryPack {

  private def dsum(c: Column): Column =
    sum(c.cast("decimal(28,6)")).cast("double")

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // salted skew join: ~75% of lineitem collapses onto key 1 (the hot-key
    // shape AQE's skew split handles only across partitions, not within a
    // reduce task); saltedJoin scatters it across 8 buckets and must still
    // equal the plain join the oracle runs
    "q143_salted_join" -> ((s, d) => {
      val big = Tables.lineitem(s, d).select(
        when(col("l_orderkey") % 4 =!= 0, lit(1L))
          .otherwise(pmod(col("l_orderkey"), lit(100L))).as("k"),
        col("l_quantity"))
      val dim = Tables.supplier(s, d)
        .groupBy(pmod(col("s_suppkey"), lit(100L)).as("k"))
        .agg(max(col("s_acctbal")).as("weight"))
      ScaleJoins.saltedJoin(big, dim, "k", salts = 8)
        .groupBy("k")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_quantity") * col("weight")).as("wsum"))
        .orderBy("k")
    }),

    // bucketed co-located join: both sides persisted bucketed+sorted on the
    // order key (the pre-shuffled-on-disk layout for joins re-run per
    // training epoch); the join itself plans with no exchange on either
    // side (pinned in ScaleJoinsSpec) and must equal the oracle's plain join
    "q144_bucketed_join" -> ((s, d) => {
      val (lt, ot) = ("graft_li_b_q144", "graft_ord_b_q144")
      Scratch.run(s, lt, ot) { tmp =>
        ScaleJoins.writeBucketed(
          Tables.lineitem(s, d).select("l_orderkey", "l_quantity", "l_extendedprice"),
          lt, "l_orderkey", buckets = 8, path = tmp.resolve("li").toString)
        ScaleJoins.writeBucketed(
          Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
            col("o_orderpriority")),
          ot, "l_orderkey", buckets = 8, path = tmp.resolve("ord").toString)
        ScaleJoins.bucketedJoin(s, lt, ot, "l_orderkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("revenue"))
          .orderBy("o_orderpriority")
      }
    }),

    // CUSTOM Catalyst operator (logical node + strategy + exec pair):
    // per-supplier top-3 lineitems by price — the partial heap bounds the
    // exchange at k rows per (group, partition) where the oracle's window
    // form shuffles every row; results must be row-identical anyway
    "q350_topk_pergroup" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      graft.ops.TopK.perGroup(li, Seq("l_suppkey"),
          Seq(("l_extendedprice", false), ("l_orderkey", true),
            ("l_linenumber", true)), k = 3)
        .orderBy(col("l_suppkey"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q143_salted_join" ->
      """WITH big AS (
        |  SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 1
        |              ELSE l_orderkey % 100 END AS k,
        |         l_quantity
        |  FROM lineitem),
        |dim AS (
        |  SELECT s_suppkey % 100 AS k, MAX(s_acctbal) AS weight
        |  FROM supplier GROUP BY 1)
        |SELECT k, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity * weight AS DECIMAL(28,6))) AS DOUBLE) AS wsum
        |FROM big JOIN dim USING (k)
        |GROUP BY k ORDER BY k""".stripMargin,
    "q144_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the window form IS the oracle: row_number over the same total order
    "q350_topk_pergroup" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |WHERE rn <= 3
        |ORDER BY l_suppkey, l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin
  )
}
