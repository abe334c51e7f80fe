package graft.queries

import graft.QueryPack
import graft.geom.st._
import graft.sources.ZarrStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-store interop gates: ingest the python-written fixture at
  * `src/test/resources/refstore` — a container in the REFERENCE's on-disk
  * layouts (ShapesFormatV01 ragged arrays, ShapesFormatV02 GeoParquet,
  * AnnData zarr tables with dense + CSR X, reference points; see
  * `tools/make_ref_fixture.py`) — and verify exact values. Fixture content
  * is a pure function of the row index, so the DuckDB oracles recompute it
  * from `range()` without reading zarr.
  */
object RefStorePack extends QueryPack {

  private def fixtureRoot: String =
    Seq("src/test/resources/refstore", "/root/repo/src/test/resources/refstore")
      .map(new java.io.File(_)).find(_.isDirectory).map(_.getAbsolutePath)
      .getOrElse(sys.error("refstore fixture not found — run tools/make_ref_fixture.py"))

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(28,6)")).cast("double")

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // all four shapes layouts (ragged POINT/POLYGON/MULTIPOLYGON + GeoParquet):
    // count + exact measure per element (radius sum for circles, area sum
    // for polygons — holes included, io_shapes.py:42-67)
    "q73_ref_ragged_shapes" -> ((s, _) => {
      val sd = ZarrStore.read(s, fixtureRoot,
        selection = Some(Seq("circles_v01", "ga_v03", "gp_v02", "mpolys_v01", "polys_v01")))
      def stats(name: String, measure: DataFrame => org.apache.spark.sql.Column) = {
        val df = sd(name)
        df.agg(count(lit(1)).as("n"), dsum(measure(df)).as("total"))
          .withColumn("element", lit(name))
      }
      stats("circles_v01", _ => col("radius"))
        .unionByName(stats("ga_v03", d => st_area(d("geometry"))))
        .unionByName(stats("gp_v02", d => st_area(d("geometry"))))
        .unionByName(stats("mpolys_v01", d => st_area(d("geometry"))))
        .unionByName(stats("polys_v01", d => st_area(d("geometry"))))
        .select("element", "n", "total")
        .orderBy("element")
    }),

    // AnnData dense X -> nonzero long form, joined back to a categorical
    // obs column through instance ids (io_table.py:22-49 + anndata encodings)
    "q74_ref_table_dense" -> ((s, _) => {
      val sd = ZarrStore.read(s, fixtureRoot, selection = Some(Seq("t_dense")))
      val el = sd.element("t_dense")
      val grp = el.obs.select(col("instance_id"), col("grp"))
      el.x.join(grp, "instance_id")
        .filter(col("grp") === "b")
        .groupBy("var_name")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("var_name")
    }),

    // AnnData CSR X (data/indices/indptr) -> exact per-var totals
    "q75_ref_table_csr" -> ((s, _) => {
      val sd = ZarrStore.read(s, fixtureRoot, selection = Some(Seq("t_csr")))
      sd.element("t_csr").x
        .groupBy("var_name")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("var_name")
    }),

    // WRITE-side interop: build a container from testdata, write it in the
    // REFERENCE's layouts (AnnData zarr table, single-file GeoParquet), read
    // it back through the reference-layout dispatch, verify values survived
    // the foreign format round trip
    "q79_ref_write_roundtrip" -> ((s, d) => {
      import graft.model._
      Scratch.run(s) { tmp =>
        val dir = tmp.resolve("refw").toString
        val shp = Models.ShapesModel.parse(graft.Tables.supplier(s, d).select(
          col("s_suppkey").as("index"),
          ((col("s_suppkey") * 7) % 50).cast("double").as("x0"),
          ((col("s_suppkey") * 3) % 40).cast("double").as("y0"))
          .withColumn("geometry", st_make_box(col("x0"), col("y0"),
            col("x0") + 4.0, col("y0") + 2.0))
          .withColumn("geom_type", lit("polygon")).drop("x0", "y0"))
        val obs = graft.Tables.supplier(s, d).select(
          col("s_suppkey").as("instance_id"), lit("shp").as("region"),
          (col("s_suppkey") * 0.25).as("score"))
        val x = graft.Tables.supplier(s, d).select(
          col("s_suppkey").as("instance_id"), lit("shp").as("region"),
          concat(lit("v"), (col("s_suppkey") % 2).cast("string")).as("var_name"),
          (col("s_suppkey") % 7 + 1).cast("double").as("value"))
        val sd = SpatialDataset(s, Seq(
          SpatialElement(Models.ShapesModel.meta("shp"), shp),
          SpatialElement(Models.TableModel.meta("tab",
            Some(TableAnnotation(Seq("shp"), "region", "instance_id"))), obs,
            Map("X" -> x))))
        graft.sources.RefStoreWriter.write(sd, dir)
        val back = graft.sources.ZarrStore.read(s, dir)
        val areas = back("shp")
          .agg(count(lit(1)).as("n"), dsum(st_area(col("geometry"))).as("total"))
          .withColumn("k", lit("area"))
        val scores = back.element("tab").obs
          .agg(count(lit(1)).as("n"), dsum(col("score")).as("total"))
          .withColumn("k", lit("score"))
        val xs = back.element("tab").x
          .groupBy(col("var_name").as("k"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        areas.select("k", "n", "total")
          .unionByName(scores.select("k", "n", "total"))
          .unionByName(xs.select("k", "n", "total"))
          .orderBy("k")
      }
    }),

    // AnnData CSC X (indptr over columns, indices = row ids) -> same
    // per-var totals contract as the CSR gate
    "q80_ref_table_csc" -> ((s, _) => {
      val sd = ZarrStore.read(s, fixtureRoot, selection = Some(Seq("t_csc")))
      sd.element("t_csc").x
        .groupBy("var_name")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("var_name")
    }),

    // numpy bool ('|b1') obs columns in reference-written AnnData groups
    "q81_ref_bool_obs" -> ((s, _) => {
      val sd = ZarrStore.read(s, fixtureRoot, selection = Some(Seq("t_csc", "t_dense")))
      val a = sd.element("t_csc").obs
        .groupBy(col("ok").as("flag"))
        .agg(count(lit(1)).as("n"), dsum(col("instance_id")).as("total"))
        .withColumn("element", lit("t_csc"))
      val b = sd.element("t_dense").obs
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"), dsum(col("score")).as("total"))
        .withColumn("element", lit("t_dense"))
      a.unionByName(b).select("element", "flag", "n", "total")
        .orderBy("element", "flag")
    }),

    // WRITE-side categorical + bool obs: low-cardinality strings round-trip
    // through the anndata `categorical` encoding, booleans through '|b1'
    "q82_ref_write_catbool" -> ((s, d) => {
      import graft.model._
      Scratch.run(s) { tmp =>
        val dir = tmp.resolve("refcb").toString
        val shp = Models.ShapesModel.parse(graft.Tables.supplier(s, d).select(
          col("s_suppkey").as("index"),
          ((col("s_suppkey") * 7) % 50).cast("double").as("x0"),
          ((col("s_suppkey") * 3) % 40).cast("double").as("y0"))
          .withColumn("geometry", st_make_box(col("x0"), col("y0"),
            col("x0") + 4.0, col("y0") + 2.0))
          .withColumn("geom_type", lit("polygon")).drop("x0", "y0"))
        val obs = graft.Tables.supplier(s, d).select(
          col("s_suppkey").as("instance_id"), lit("shp").as("region"),
          concat(lit("g"), (col("s_suppkey") % 3).cast("string")).as("grp"),
          (col("s_suppkey") % 2 === 0).as("flag"),
          (col("s_suppkey") * 0.25).as("score"))
        val sd = SpatialDataset(s, Seq(
          SpatialElement(Models.ShapesModel.meta("shp"), shp),
          SpatialElement(Models.TableModel.meta("tab",
            Some(TableAnnotation(Seq("shp"), "region", "instance_id"))), obs)))
        graft.sources.RefStoreWriter.write(sd, dir)
        val back = graft.sources.ZarrStore.read(s, dir)
        back.element("tab").obs
          .groupBy("grp", "flag")
          .agg(count(lit(1)).as("n"), dsum(col("score")).as("total"))
          .orderBy("grp", "flag")
      }
    }),

    // obsm write-side round trip: spatial coordinates written as an
    // (n x 2) dense zarr array under obsm/ come back through the wide
    // aux frame with exact values
    "q112_ref_write_obsm" -> ((s, d) => {
      import graft.model._
      Scratch.run(s) { tmp =>
        val dir = tmp.resolve("refobsm").toString
        val shp = Models.ShapesModel.parse(graft.Tables.supplier(s, d).select(
          col("s_suppkey").as("index"),
          ((col("s_suppkey") * 7) % 50).cast("double").as("x0"),
          ((col("s_suppkey") * 3) % 40).cast("double").as("y0"))
          .withColumn("geometry", st_make_box(col("x0"), col("y0"),
            col("x0") + 4.0, col("y0") + 2.0))
          .withColumn("geom_type", lit("polygon")).drop("x0", "y0"))
        val obs = graft.Tables.supplier(s, d).select(
          col("s_suppkey").as("instance_id"), lit("shp").as("region"))
        val spatial = graft.Tables.supplier(s, d).select(
          col("s_suppkey").as("instance_id"),
          (col("s_suppkey") * 2.0).as("spatial_0"),
          (col("s_suppkey") % 13 + 0.25).as("spatial_1"))
        val sd = SpatialDataset(s, Seq(
          SpatialElement(Models.ShapesModel.meta("shp"), shp),
          SpatialElement(Models.TableModel.meta("tab",
            Some(TableAnnotation(Seq("shp"), "region", "instance_id"))), obs,
            Map("obsm:spatial" -> spatial))))
        graft.sources.RefStoreWriter.write(sd, dir)
        val back = graft.sources.ZarrStore.read(s, dir)
        back.element("tab").aux("obsm:spatial")
          .groupBy((col("instance_id") % 4).as("bucket"))
          .agg(count(lit(1)).as("n"), dsum(col("spatial_0")).as("sum_x"),
            dsum(col("spatial_1")).as("sum_y"))
          .orderBy("bucket")
      }
    }),

    // obsp pairwise graphs: the CSR (n_obs x n_obs) neighbor matrix under
    // obsp/ resolves to long-form (instance_a, instance_b, weight) with
    // both axes mapped through the obs row index
    "q113_ref_obsp" -> ((s, _) => {
      val sd = ZarrStore.read(s, fixtureRoot, selection = Some(Seq("t_dense")))
      sd.element("t_dense").aux("obsp:knn")
        .groupBy((col("instance_id_a").cast("long") % 5).as("bucket"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("sum_w"),
          sum(col("instance_id_b").cast("long")).as("sum_b"))
        .orderBy("bucket")
    }),

    // varm matrices (PCA loadings): exact values keyed by var name
    "q114_ref_varm" -> ((s, _) => {
      val sd = ZarrStore.read(s, fixtureRoot, selection = Some(Seq("t_dense")))
      sd.element("t_dense").aux("varm:loadings")
        .select(col("var_name"), col("loadings_0"), col("loadings_1"),
          col("loadings_2"))
        .orderBy("var_name")
    }),

    // pandas extension dtypes: nullable-integer / nullable-boolean obs
    // columns (values+mask groups) resolve with true nulls
    "q86_ref_nullable_obs" -> ((s, _) => {
      val sd = ZarrStore.read(s, fixtureRoot, selection = Some(Seq("t_csc")))
      sd.element("t_csc").obs.agg(
        count(lit(1)).as("n"), count(col("nn")).as("n_nn"),
        dsum(coalesce(col("nn"), lit(0L))).as("sum_nn"),
        count(when(col("nb"), 1)).as("n_nb_true"))
    }),

    // AnnData layers: per-name matrices beside X, served through the
    // get_values table_layer surface (relational_query.py:1078-1086)
    "q85_ref_table_layer" -> ((s, _) => {
      val sd = ZarrStore.read(s, fixtureRoot,
        selection = Some(Seq("polys_v01", "t_dense")))
      val viaLayer = graft.query.RelationalQuery.getValues(
        sd, "g1", "polys_v01", tableLayer = Some("counts"))
        .agg(count(lit(1)).as("n"), dsum(col("g1")).as("total"))
        .withColumn("k", lit("get_values:g1"))
      val totals = sd.element("t_dense").aux("layer:counts")
        .groupBy(col("var_name").as("k"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      viaLayer.select("k", "n", "total")
        .unionByName(totals.select("k", "n", "total"))
        .orderBy("k")
    }),

    // GeoJSON ingest (reference ShapesModel.parse(path): GeometryCollection /
    // FeatureCollection docs + the ndjson scale path), values exact
    "q83_geojson_shapes" -> ((s, _) => {
      import graft.model.Models
      val root = new java.io.File(fixtureRoot).getParent + "/geojson"
      val gc = Models.ShapesModel.parseGeoJson(s, s"$root/gc.json")
      val pts = Models.ShapesModel.parseGeoJson(s, s"$root/points.json",
        radius = Some(2.0))
      val nd = Models.ShapesModel.parseGeoJsonLines(s, s"$root/features.ndjson")
      def stats(name: String, df: DataFrame, m: DataFrame => org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).as("n"), dsum(m(df)).as("total"))
          .withColumn("element", lit(name))
      stats("gc", gc, d => st_area(d("geometry")))
        .unionByName(stats("ndjson", nd, d => st_area(d("geometry"))))
        .unionByName(stats("points", pts, d => d("radius")))
        .select("element", "n", "total")
        .orderBy("element")
    }),

    // reference points element (points.parquet + V01 attrs)
    "q76_ref_points" -> ((s, _) => {
      val sd = ZarrStore.read(s, fixtureRoot, selection = Some(Seq("pts_v01")))
      sd.element("pts_v01").data
        .agg(count(lit(1)).as("n"), dsum(col("x")).as("sum_x"),
          dsum(col("y")).as("sum_y"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q73_ref_ragged_shapes" ->
      """SELECT 'circles_v01' AS element, COUNT(*) AS n,
        |  CAST(SUM(CAST(1.0 + (i % 5) AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM range(40) t(i)
        |UNION ALL SELECT 'ga_v03', COUNT(*),
        |  CAST(SUM(CAST(3.0 AS DECIMAL(28,6))) AS DOUBLE) FROM range(15) t(i)
        |UNION ALL SELECT 'gp_v02', COUNT(*),
        |  CAST(SUM(CAST(2.0 AS DECIMAL(28,6))) AS DOUBLE) FROM range(20) t(i)
        |UNION ALL SELECT 'mpolys_v01', COUNT(*),
        |  CAST(SUM(CAST(2.0 AS DECIMAL(28,6))) AS DOUBLE) FROM range(10) t(i)
        |UNION ALL SELECT 'polys_v01', COUNT(*),
        |  CAST(SUM(CAST((3 + i % 4) * (2 + i % 3)
        |    - CASE WHEN i = 3 THEN 1 ELSE 0 END AS DECIMAL(28,6))) AS DOUBLE)
        |FROM range(30) t(i)
        |ORDER BY element""".stripMargin,
    "q74_ref_table_dense" ->
      """SELECT 'g' || CAST(j AS VARCHAR) AS var_name, COUNT(*) AS n,
        |  CAST(SUM(CAST((i * 4 + j) % 7 AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM range(50) t(i), range(4) u(j)
        |WHERE (i * 4 + j) % 7 <> 0 AND i % 3 = 1
        |GROUP BY 1 ORDER BY var_name""".stripMargin,
    "q75_ref_table_csr" ->
      """WITH e AS (
        |  SELECT i % 3 AS j, CAST(i + 0.5 AS DOUBLE) AS v FROM range(30) t(i)
        |  UNION ALL
        |  SELECT (i + 1) % 3, CAST(2 * i + 0.25 AS DOUBLE) FROM range(30) t(i))
        |SELECT 'v' || CAST(j AS VARCHAR) AS var_name, COUNT(*) AS n,
        |  CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY 1 ORDER BY var_name""".stripMargin,
    "q79_ref_write_roundtrip" ->
      """SELECT 'area' AS k, COUNT(*) AS n,
        |  CAST(SUM(CAST(8.0 AS DECIMAL(28,6))) AS DOUBLE) AS total FROM supplier
        |UNION ALL SELECT 'score', COUNT(*),
        |  CAST(SUM(CAST(s_suppkey * 0.25 AS DECIMAL(28,6))) AS DOUBLE) FROM supplier
        |UNION ALL SELECT 'v' || CAST(s_suppkey % 2 AS VARCHAR), COUNT(*),
        |  CAST(SUM(CAST(s_suppkey % 7 + 1 AS DECIMAL(28,6))) AS DOUBLE)
        |FROM supplier GROUP BY 1
        |ORDER BY k""".stripMargin,
    "q80_ref_table_csc" ->
      """SELECT 'v' || CAST(j AS VARCHAR) AS var_name, COUNT(*) AS n,
        |  CAST(SUM(CAST((i + 2 * j) % 5 AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM range(24) t(i), range(3) u(j)
        |WHERE (i + 2 * j) % 5 <> 0
        |GROUP BY 1 ORDER BY var_name""".stripMargin,
    "q81_ref_bool_obs" ->
      """SELECT 't_csc' AS element, (i % 3 = 0) AS flag, COUNT(*) AS n,
        |  CAST(SUM(CAST(i AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM range(24) t(i) GROUP BY 2
        |UNION ALL
        |SELECT 't_dense', (i % 2 = 0), COUNT(*),
        |  CAST(SUM(CAST(i * 0.5 AS DECIMAL(28,6))) AS DOUBLE)
        |FROM range(50) t(i) GROUP BY 2
        |ORDER BY element, flag""".stripMargin,
    "q82_ref_write_catbool" ->
      """SELECT 'g' || CAST(s_suppkey % 3 AS VARCHAR) AS grp,
        |  (s_suppkey % 2 = 0) AS flag, COUNT(*) AS n,
        |  CAST(SUM(CAST(s_suppkey * 0.25 AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM supplier GROUP BY 1, 2 ORDER BY grp, flag""".stripMargin,
    "q114_ref_varm" ->
      """SELECT 'g' || CAST(j AS VARCHAR) AS var_name,
        |  j * 1.5 + 0.5 AS loadings_0,
        |  CAST(10 - j AS DOUBLE) AS loadings_1,
        |  j * j * 0.25 AS loadings_2
        |FROM range(4) t(j) ORDER BY var_name""".stripMargin,
    "q113_ref_obsp" ->
      """WITH e AS (
        |  SELECT k, (k + 1) % 50 AS b, k + 0.5 AS w FROM range(50) t(k)
        |  UNION ALL
        |  SELECT k, (k + 7) % 50 AS b, k * 0.25 + 1.0 AS w FROM range(50) t(k))
        |SELECT k % 5 AS bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS sum_w,
        |  CAST(SUM(b) AS BIGINT) AS sum_b
        |FROM e GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q112_ref_write_obsm" ->
      """SELECT s_suppkey % 4 AS bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(s_suppkey * 2.0 AS DECIMAL(28,6))) AS DOUBLE) AS sum_x,
        |  CAST(SUM(CAST(s_suppkey % 13 + 0.25 AS DECIMAL(28,6))) AS DOUBLE) AS sum_y
        |FROM supplier GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q86_ref_nullable_obs" ->
      """WITH o AS (
        |  SELECT i,
        |    CASE WHEN i % 5 = 0 THEN NULL ELSE i * 2 END AS nn,
        |    CASE WHEN i % 7 = 0 THEN NULL ELSE (i % 2 = 1) END AS nb
        |  FROM range(24) t(i))
        |SELECT COUNT(*) AS n, COUNT(nn) AS n_nn,
        |  CAST(SUM(CAST(COALESCE(nn, 0) AS DECIMAL(28,6))) AS DOUBLE) AS sum_nn,
        |  COUNT(CASE WHEN nb THEN 1 END) AS n_nb_true
        |FROM o""".stripMargin,
    "q85_ref_table_layer" ->
      """WITH e AS (
        |  SELECT i, j, CAST((i + 2 * j) % 4 AS DOUBLE) AS v
        |  FROM range(50) t(i), range(4) u(j))
        |SELECT 'get_values:g1' AS k, COUNT(*) AS n,
        |  CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM e WHERE j = 1 AND v <> 0
        |UNION ALL
        |SELECT 'g' || CAST(j AS VARCHAR), COUNT(*),
        |  CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
        |FROM e WHERE v <> 0 GROUP BY j
        |ORDER BY k""".stripMargin,
    "q83_geojson_shapes" ->
      """SELECT 'gc' AS element, COUNT(*) AS n,
        |  CAST(SUM(CAST((2.0 + i % 3) * (1.0 + i % 2)
        |    - CASE WHEN i = 5 THEN 0.25 ELSE 0 END AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM range(18) t(i)
        |UNION ALL SELECT 'ndjson', COUNT(*),
        |  CAST(SUM(CAST(6.0 AS DECIMAL(28,6))) AS DOUBLE) FROM range(12) t(i)
        |UNION ALL SELECT 'points', COUNT(*),
        |  CAST(SUM(CAST(2.0 AS DECIMAL(28,6))) AS DOUBLE) FROM range(10) t(i)
        |ORDER BY element""".stripMargin,
    "q76_ref_points" ->
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(i * 1.5 AS DECIMAL(28,6))) AS DOUBLE) AS sum_x,
        |  CAST(SUM(CAST(i * 0.5 AS DECIMAL(28,6))) AS DOUBLE) AS sum_y
        |FROM range(25) t(i)""".stripMargin
  )
}
