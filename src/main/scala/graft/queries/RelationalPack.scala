package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}

/** Relational-layer correctness-gate queries (SURVEY.md §2.2/§2.4/§2.5 subset
  * that is directly SQL-expressible over the driver test tables).
  *
  * Numeric discipline shared with the DuckDB oracles: every double aggregate is
  * summed through an exact decimal wide enough to represent the mathematical
  * value (source doubles carry <=4 decimal digits), then cast back to double —
  * identical bits on both engines regardless of partial-aggregation order.
  */
object RelationalPack extends QueryPack {

  /** Exact decimal sum of a <=4-decimal-digit double metric, as double. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(28,6)")).cast("double")

  private def davg(c: Column, n: Column): Column =
    sum(c.cast("decimal(28,6)")).cast("double") / n

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // market-basket association rules over order baskets: items = parts
    // folded to a 97-value vocabulary so co-occurrence is dense at every
    // SF; top-20 pairs by lift
    "q333_assoc_rules" -> ((s, d) => {
      graft.pipeline.GraphOps.assocRules(
        Tables.lineitem(s, d).select(col("l_orderkey"),
          (col("l_partkey") % 97).as("item")),
        "l_orderkey", "item", minPairCount = 3, topK = 20)
    }),

    // Pricing summary (groupBy + exact-decimal sums; mirrors
    // aggregate(agg_func=sum/mean/count) over the table layer,
    // reference aggregate.py:439-452).
    "q01_pricing_summary" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty",
          round(col("sum_qty") / col("count_order"), 6))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // OLAP ROLLUP (hierarchical subtotals: (priority, status), (priority),
    // grand total — one pass, Expand under the hood, exact decimal sums;
    // the report shape a 100 TB analytics user expects for free)
    "q234_rollup_totals" -> ((s, d) => {
      Tables.orders(s, d)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    }),

    // PIVOT to a wide per-user event-type count matrix (explicit value
    // list so the plan is one pass — no distinct-values pre-scan; absent
    // cells filled 0 to match SQL conditional-count semantics)
    "q303_pivot_counts" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    }),

    // OLAP CUBE: all four grouping sets in one Expand pass — the
    // completion of the rollup/pivot/unpivot report family
    "q311_cube" -> ((s, d) => {
      Tables.orders(s, d)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    }),

    // UNPIVOT (melt) three aggregate measures back to long form — the
    // Expand-based inverse of q303's pivot, one pass, no join
    "q304_unpivot" -> ((s, d) => {
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(dsum(col("l_quantity")).as("qty"),
          dsum(col("l_extendedprice")).as("price"),
          dsum(col("l_discount")).as("disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price"), col("disc")),
          "measure", "value")
        .orderBy(col("l_returnflag"), col("measure"))
    }),

    // Five-way join family seed: inner equi-join element(lineitem) x
    // obs(orders) + groupBy (reference relational_query.py:337-395).
    "q02_join_inner_agg" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_lines"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // left_semi: element rows that have annotation (relational_query.py:434).
    "q03_join_semi" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      o.join(c, o("o_custkey") === c("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // left_anti == left_exclusive join (relational_query.py:398-431):
    // orders with no high-quantity line.
    "q04_join_anti" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val hi = Tables.lineitem(s, d).filter(col("l_quantity") >= 45)
      o.join(hi, o("o_orderkey") === hi("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // get_extent over a points element (x,y from lineitem metrics);
    // min/max aggregate (data_extent.py:78-82).
    "q05_extent_points" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.agg(
        min(col("l_extendedprice")).as("xmin"),
        max(col("l_extendedprice")).as("xmax"),
        min(col("l_quantity")).as("ymin"),
        max(col("l_quantity")).as("ymax"))
    }),

    // get_element_instances: distinct instance ids, background dropped
    // (relational_query.py:62-120: labels drop id 0).
    // filter_by_table_query: obs predicate pushdown re-masks the annotated
    // element through left-semi instance joins (relational_query.py:835-910)
    "q88_filter_table_query" -> ((s, d) => {
      import graft.geom.st._
      import graft.model._
      val shp = Models.ShapesModel.parse(Tables.supplier(s, d).select(
        col("s_suppkey").as("index"),
        ((col("s_suppkey") * 7) % 50).cast("double").as("x0"),
        ((col("s_suppkey") * 3) % 40).cast("double").as("y0"))
        .withColumn("geometry", st_make_box(col("x0"), col("y0"),
          col("x0") + 4.0, col("y0") + 2.0))
        .withColumn("geom_type", lit("polygon")).drop("x0", "y0"))
      val obs = Tables.supplier(s, d).select(
        col("s_suppkey").as("instance_id"), lit("shp").as("region"),
        (col("s_suppkey") * 0.25).as("score"))
      val sd = SpatialDataset(s, Seq(
        SpatialElement(Models.ShapesModel.meta("shp"), shp),
        SpatialElement(Models.TableModel.meta("tab",
          Some(TableAnnotation(Seq("shp"), "region", "instance_id"))), obs)))
      val out = graft.query.RelationalQuery.filterByTableQuery(
        sd, "tab", col("score") > 12.5)
      val a = out("shp").agg(count(lit(1)).as("n"),
        dsum(st_area(col("geometry"))).as("total")).withColumn("k", lit("shapes"))
      val b = out.element("tab").obs.agg(count(lit(1)).as("n"),
        dsum(col("score")).as("total")).withColumn("k", lit("obs"))
      a.select("k", "n", "total").unionByName(b.select("k", "n", "total"))
        .orderBy("k")
    }),

    // engine-layout container round trip (parquet-per-element + manifest,
    // spatialdata.py:1108-1203) + subset with table cascade
    "q90_container_roundtrip" -> ((s, d) => {
      import graft.geom.st._
      import graft.model._
      Scratch.run(s) { tmp =>
        val dir = tmp.resolve("ctr").toString
        val shp = Models.ShapesModel.parse(Tables.supplier(s, d).select(
          col("s_suppkey").as("index"),
          ((col("s_suppkey") * 7) % 50).cast("double").as("x0"),
          ((col("s_suppkey") * 3) % 40).cast("double").as("y0"))
          .withColumn("geometry", st_make_box(col("x0"), col("y0"),
            col("x0") + 4.0, col("y0") + 2.0))
          .withColumn("geom_type", lit("polygon")).drop("x0", "y0"))
        val pts = Models.PointsModel.parse(Tables.supplier(s, d).select(
          (((col("s_suppkey") * 7) % 50) + 0.5).cast("double").as("x"),
          ((col("s_suppkey") * 3) % 40).cast("double").as("y")))
        val obs = Tables.supplier(s, d).select(
          col("s_suppkey").as("instance_id"), lit("shp").as("region"),
          (col("s_suppkey") * 0.25).as("score"))
        SpatialDataset(s, Seq(
          SpatialElement(Models.ShapesModel.meta("shp"), shp),
          SpatialElement(Models.PointsModel.meta("pts"), pts),
          SpatialElement(Models.TableModel.meta("tab",
            Some(TableAnnotation(Seq("shp"), "region", "instance_id"))), obs)))
          .write(dir)
        val back = SpatialDataset.read(s, dir)
        val a = back("shp").agg(count(lit(1)).as("n"),
          dsum(st_area(col("geometry"))).as("total")).withColumn("k", lit("shapes"))
        val b = back.element("tab").obs.agg(count(lit(1)).as("n"),
          dsum(col("score")).as("total")).withColumn("k", lit("obs"))
        val c = back("pts").agg(count(lit(1)).as("n"),
          dsum(col("x")).as("total")).withColumn("k", lit("pts"))
        // subset to pts only: the shp-annotating table cascades away
        val sub = back.subset(Seq("pts"))
        val e = s.range(1).select(
          lit(sub.manifest.elements.size.toLong).as("n"),
          lit(0.0).as("total"), lit("subset_size").as("k"))
        a.select("k", "n", "total").unionByName(b.select("k", "n", "total"))
          .unionByName(c.select("k", "n", "total"))
          .unionByName(e.select("k", "n", "total"))
          .orderBy("k")
      }
    }),

    "q06_distinct_instances" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_suppkey").as("instance_id"))
        .filter(col("instance_id") =!= 0)
        .distinct()
        .orderBy(col("instance_id"))
    }),

    // write_element + delete_element_from_disk (spatialdata.py:1286-1753):
    // write a 2-element container, delete one element from disk, add and
    // write a NEW element into the live store, re-read — the returned
    // inventory proves the manifest and the data dirs stayed consistent
    // through the in-place mutations
    "q175_element_lifecycle" -> ((s, d) => {
      import graft.model._
      Scratch.run(s) { tmp =>
        val dir = tmp.resolve("lifecycle").toString
        def pts(df: DataFrame) = Models.PointsModel.parse(df)
        val sd = SpatialDataset(s, Seq(
          SpatialElement(Models.PointsModel.meta("ptsA"), pts(
            Tables.supplier(s, d).select(col("s_suppkey").cast("double").as("x"),
              (col("s_suppkey") * 2).cast("double").as("y")))),
          SpatialElement(Models.PointsModel.meta("ptsB"), pts(
            Tables.customer(s, d).select(col("c_custkey").cast("double").as("x"),
              (col("c_custkey") * 3).cast("double").as("y"))))))
        sd.write(dir)
        val afterDel = SpatialDataset.read(s, dir)
          .deleteElementFromDisk("ptsB", dir)
        val withNew = afterDel.withElement(
          SpatialElement(Models.PointsModel.meta("ptsC"), pts(
            Tables.nation(s, d).select(col("n_nationkey").cast("double").as("x"),
              (col("n_nationkey") * 5).cast("double").as("y")))))
        withNew.writeElement("ptsC", dir)
        val back = SpatialDataset.read(s, dir)
        val perElement = back.manifest.elements.map(_.name).sorted.map { n =>
          back(n).agg(count(lit(1)).as("n"),
              sum(col("x").cast("decimal(28,6)")).cast("double").as("total_x"))
            .select(lit(n).as("k"), col("n"), col("total_x"))
        }.reduce(_.unionByName(_))
        perElement.orderBy(col("k"))
      }
    }),

    // blobs synthetic dataset (datasets.py:37-101): the deterministic
    // generator's per-element inventory, pinned against golden counts
    // (constants are legitimate here — the generator is seed-fixed by
    // contract, so any drift IS the regression); the nation row binds the
    // gate to the sf dir like every other query
    "q195_blobs_inventory" -> ((s, d) => {
      import graft.model._
      val sd = Datasets.blobs(s)
      val rows = sd.manifest.elements.map(_.name).sorted.map { n =>
        val df = if (sd.element(n).meta.kind == ElementKind.Tables)
          sd.element(n).obs else sd(n)
        df.agg(count(lit(1)).as("n_rows"))
          .select(lit(n).as("element"), col("n_rows"))
      }.reduce(_.unionByName(_))
      rows.unionByName(Tables.nation(s, d)
          .agg(count(lit(1)).as("n_rows"))
          .select(lit("nation").as("element"), col("n_rows")))
        .orderBy(col("element"))
    }),

    // get_element_annotators (relational_query.py:38-59): which tables
    // annotate which element — tabX annotates both points elements (split
    // by supplier key parity), tabY only ptsB; per (element, annotator)
    // the count of obs rows actually targeting that element binds the
    // manifest lookup to real data
    "q170_element_annotators" -> ((s, d) => {
      import graft.model._
      def pts(mult: Int) = Models.PointsModel.parse(
        Tables.supplier(s, d).select(
          (col("s_suppkey") * mult).cast("double").as("x"),
          col("s_suppkey").cast("double").as("y")))
      val obsX = Tables.supplier(s, d).select(
        col("s_suppkey").as("instance_id"),
        when(col("s_suppkey") % 2 === 0, "ptsA").otherwise("ptsB").as("region"))
      val obsY = Tables.customer(s, d).select(
        col("c_custkey").as("instance_id"), lit("ptsB").as("region"))
      val sd = SpatialDataset(s, Seq(
        SpatialElement(Models.PointsModel.meta("ptsA"), pts(1)),
        SpatialElement(Models.PointsModel.meta("ptsB"), pts(2)),
        SpatialElement(Models.TableModel.meta("tabX",
          Some(TableAnnotation(Seq("ptsA", "ptsB"), "region", "instance_id"))), obsX),
        SpatialElement(Models.TableModel.meta("tabY",
          Some(TableAnnotation(Seq("ptsB"), "region", "instance_id"))), obsY)))
      val pairs = for {
        el <- Seq("ptsA", "ptsB")
        ann <- graft.query.RelationalQuery.elementAnnotators(sd, el)
      } yield sd.element(ann).obs
        .filter(col("region") === el)
        .agg(count(lit(1)).as("n_obs"))
        .select(lit(el).as("element"), lit(ann).as("annotator"), col("n_obs"))
      pairs.reduce(_.unionByName(_)).orderBy(col("element"), col("annotator"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    // basket-keyed pair counts + per-item basket counts; no basket at
    // any SF approaches the 256 size cap, so the cap filter is identity
    "q333_assoc_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey % 97 AS i FROM lineitem),
        |sz AS (SELECT g, COUNT(*) AS n FROM b GROUP BY 1),
        |bk AS (SELECT b.g, b.i FROM b JOIN sz USING (g) WHERE sz.n <= 256),
        |nb AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS n FROM bk),
        |ci AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM bk GROUP BY 1),
        |p AS (
        |  SELECT l.i AS a, r.i AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM bk l JOIN bk r ON l.g = r.g AND l.i < r.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT p.a, p.b, p.n_ab, ca.c AS n_a, cb.c AS n_b,
        |  FLOOR(CAST(p.n_ab AS DOUBLE) / nb.n * 1e6 + 0.5) / 1e6 AS support,
        |  FLOOR(CAST(p.n_ab AS DOUBLE) / ca.c * 1e6 + 0.5) / 1e6 AS conf_ab,
        |  FLOOR(CAST(p.n_ab AS DOUBLE) / cb.c * 1e6 + 0.5) / 1e6 AS conf_ba,
        |  FLOOR(CAST(p.n_ab * nb.n AS DOUBLE) / (ca.c * cb.c) * 1e6 + 0.5) / 1e6 AS lift
        |FROM p
        |JOIN ci ca ON ca.i = p.a
        |JOIN ci cb ON cb.i = p.b, nb
        |ORDER BY lift DESC, a, b LIMIT 20""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // native ROLLUP on both sides; NULL group rows are the subtotals
    "q234_rollup_totals" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    // conditional-count mirror of the one-pass PIVOT
    "q303_pivot_counts" ->
      """SELECT user_id,
        |  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS "view"
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q311_cube" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,

    // UNION-ALL mirror of the Expand-based unpivot
    "q304_unpivot" ->
      """WITH w AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS price,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) AS disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'qty' AS measure, qty AS value FROM w
        |UNION ALL
        |SELECT l_returnflag, 'price', price FROM w
        |UNION ALL
        |SELECT l_returnflag, 'disc', disc FROM w
        |ORDER BY l_returnflag, measure""".stripMargin,

    "q02_join_inner_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q03_join_semi" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,
    "q04_join_anti" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45)
        |ORDER BY o_orderkey""".stripMargin,
    "q05_extent_points" ->
      """SELECT min(l_extendedprice) AS xmin, max(l_extendedprice) AS xmax,
        |  min(l_quantity) AS ymin, max(l_quantity) AS ymax FROM lineitem""".stripMargin,
    "q90_container_roundtrip" ->
      """SELECT 'obs' AS k, COUNT(*) AS n,
        |  CAST(SUM(CAST(s_suppkey * 0.25 AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM supplier
        |UNION ALL SELECT 'pts', COUNT(*),
        |  CAST(SUM(CAST((s_suppkey * 7) % 50 + 0.5 AS DECIMAL(28,6))) AS DOUBLE)
        |FROM supplier
        |UNION ALL SELECT 'shapes', COUNT(*),
        |  CAST(SUM(CAST(8.0 AS DECIMAL(28,6))) AS DOUBLE) FROM supplier
        |UNION ALL SELECT 'subset_size', 1, 0.0
        |ORDER BY k""".stripMargin,
    "q88_filter_table_query" ->
      """SELECT 'obs' AS k, COUNT(*) AS n,
        |  CAST(SUM(CAST(s_suppkey * 0.25 AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM supplier WHERE s_suppkey * 0.25 > 12.5
        |UNION ALL SELECT 'shapes', COUNT(*),
        |  CAST(SUM(CAST(8.0 AS DECIMAL(28,6))) AS DOUBLE)
        |FROM supplier WHERE s_suppkey * 0.25 > 12.5
        |ORDER BY k""".stripMargin,
    "q06_distinct_instances" ->
      """SELECT DISTINCT l_suppkey AS instance_id FROM lineitem
        |WHERE l_suppkey <> 0 ORDER BY instance_id""".stripMargin,
    "q195_blobs_inventory" ->
      """SELECT * FROM (
        |  SELECT 'blobs_circles' AS element, CAST(32 AS BIGINT) AS n_rows
        |  UNION ALL SELECT 'blobs_image', 1
        |  UNION ALL SELECT 'blobs_labels', 65536
        |  UNION ALL SELECT 'blobs_points', 1600
        |  UNION ALL SELECT 'blobs_table', 32
        |  UNION ALL SELECT 'nation', (SELECT COUNT(*) FROM nation))
        |ORDER BY element""".stripMargin,
    "q175_element_lifecycle" ->
      """SELECT 'ptsA' AS k, COUNT(*) AS n,
        |  CAST(SUM(CAST(s_suppkey AS DECIMAL(28,6))) AS DOUBLE) AS total_x
        |FROM supplier
        |UNION ALL SELECT 'ptsC', COUNT(*),
        |  CAST(SUM(CAST(n_nationkey AS DECIMAL(28,6))) AS DOUBLE)
        |FROM nation
        |ORDER BY k""".stripMargin,
    "q170_element_annotators" ->
      """SELECT 'ptsA' AS element, 'tabX' AS annotator,
        |  (SELECT COUNT(*) FROM supplier WHERE s_suppkey % 2 = 0) AS n_obs
        |UNION ALL SELECT 'ptsB', 'tabX',
        |  (SELECT COUNT(*) FROM supplier WHERE s_suppkey % 2 <> 0)
        |UNION ALL SELECT 'ptsB', 'tabY', (SELECT COUNT(*) FROM customer)
        |ORDER BY element, annotator""".stripMargin
  )
}
