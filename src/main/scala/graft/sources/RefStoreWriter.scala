package graft.sources

import graft.model._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Write a container in the REFERENCE's on-disk layouts, so a spatialdata
  * user can hand results straight back to the python stack:
  *
  *  - shapes: single-file GeoParquet with the `geo` footer metadata
  *    geopandas requires (ShapesFormatV02, io_shapes.py:152-183) — written
  *    through parquet-mr with explicit key-value metadata, streamed via
  *    toLocalIterator (a single file serializes through one writer by
  *    definition; the reference's own writer has the same constraint).
  *  - tables: AnnData zarr groups (io_table.py:52-72 + the anndata zarr v2
  *    encodings): `dataframe` obs/var with numeric and vlen-utf8 string
  *    columns, dense f8 X, spatialdata annotation attrs. Column and X
  *    chunks are written task-parallel from `foreachPartition`.
  *  - points: parquet + reference-style attrs (io_points.py:50-99).
  *  - images/labels: [[NgffRaster.write]] output is already NGFF. It is
  *    one Spark job per raster (the chunk tasks return the array extents),
  *    so a labels element's `pixelsToTiles` exchange runs once.
  *
  * Transforms are serialized as reference-style NGFF dicts with
  * input/output coordinate-system objects (ngff_transformations.py
  * `_update_dict_with_input_output_cs`), which both this engine and the
  * reference parse. `tools/check_ref_store.py` validates a written store
  * with an independent pure-python reader.
  */
object RefStoreWriter {

  private val ChunkRows = 1024

  // ---- reference-style NGFF transform dicts ----

  private def csObj(name: String, axes: Seq[String]): JValue =
    ("name" -> name) ~ ("axes" -> axes.map(a =>
      (("name" -> a) ~ ("type" -> (if (a == "c") "channel" else "space"))): JValue))

  private[sources] def toRefNgff(cs: String, t: Transform, axes: Seq[String]): JValue = {
    val base = NgffRaster.transformToNgff(cs, t).asInstanceOf[JObject]
    JObject(base.obj.filterNot(_._1 == "output")) ~
      ("input" -> csObj("intrinsic", axes)) ~ ("output" -> csObj(cs, axes))
  }

  private def refAttrs(meta: ElementMeta, groupType: String, axes: Seq[String],
      sdAttrs: JObject): String = {
    val o: JObject =
      ("encoding-type" -> groupType) ~
        ("axes" -> axes) ~
        ("coordinateTransformations" -> meta.transforms.toSeq.sortBy(_._1)
          .map { case (cs, t) => toRefNgff(cs, t, axes) }) ~
        ("spatialdata_attrs" -> sdAttrs)
    JsonMethods.pretty(JsonMethods.render(o))
  }

  private def writeText(fs: org.apache.hadoop.fs.FileSystem, p: String, text: String): Unit = {
    val out = fs.create(new Path(p), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  // ---- GeoParquet (parquet-mr, geo footer metadata; WKB or geoarrow) ----

  /** Above this row count the shapes export switches from the
    * reference-exact SINGLE GeoParquet file (which serializes through one
    * driver-side writer by definition of the layout) to a partitioned
    * dataset directory of part files written task-parallel — pyarrow /
    * geopandas read parquet directories transparently, so the store stays
    * reference-readable while the write scales with the cluster.
    */
  private[sources] val SingleFileMaxRows = 1L << 20

  private def geoParquetSchemaString(encoding: String, geoarrowKind: String,
      hasRadius: Boolean): String = {
    val radius = if (hasRadius) " optional double radius;" else ""
    val geom = encoding match {
      case "WKB" => "required binary geometry;"
      // GeoParquet 1.1 native (geoarrow) encodings — the physical layouts
      // pyarrow produces for struct<x,y> / list<list<struct>> /
      // list<list<list<struct>>> (reference io_shapes.py:152-183)
      case "geoarrow" => geoarrowKind match {
        case "point" =>
          "optional group geometry { required double x; required double y; }"
        case "polygon" =>
          """optional group geometry (LIST) { repeated group list {
            | optional group element (LIST) { repeated group list {
            |  optional group element { required double x; required double y; } } } } }""".stripMargin
        case "multipolygon" =>
          """optional group geometry (LIST) { repeated group list {
            | optional group element (LIST) { repeated group list {
            |  optional group element (LIST) { repeated group list {
            |   optional group element { required double x; required double y; } } } } } } }""".stripMargin
        case other => sys.error(s"unsupported geoarrow kind '$other'")
      }
      case other => sys.error(s"unsupported geometry_encoding '$other' (WKB, geoarrow)")
    }
    s"message spatialdata { required int64 index; $geom$radius }"
  }

  private def geoMetaJson(encoding: String, geoarrowKind: String,
      geomTypes: Seq[String]): String =
    JsonMethods.compact(JsonMethods.render(
      ("version" -> (if (encoding == "WKB") "1.0.0" else "1.1.0")) ~
        ("primary_column" -> "geometry") ~
        ("columns" -> (("geometry" ->
          (("encoding" -> (if (encoding == "WKB") "WKB" else geoarrowKind)) ~
            ("geometry_types" -> geomTypes))): JObject))))

  /** Build one parquet-mr record from `(index, geometry WKB[, radius])`;
    * geoarrow encodings decode the WKB and emit nested list/struct groups.
    */
  private def geoRow(factory: org.apache.parquet.example.data.simple.SimpleGroupFactory,
      encoding: String, geoarrowKind: String, hasRadius: Boolean,
      r: Row): org.apache.parquet.example.data.Group = {
    import graft.geom.{GMultiPolygon, GPoint, GPolygon, WKB}
    import org.apache.parquet.example.data.Group
    val g = factory.newGroup().append("index", r.getLong(0))
    if (encoding == "WKB")
      g.append("geometry", org.apache.parquet.io.api.Binary
        .fromConstantByteArray(r.getAs[Array[Byte]](1)))
    else {
      def ringInto(ringEl: Group, ring: Array[Double]): Unit = {
        var i = 0
        while (i < ring.length) {
          val pt = ringEl.addGroup("list").addGroup("element")
          pt.add("x", ring(i)); pt.add("y", ring(i + 1))
          i += 2
        }
      }
      def polyInto(polyEl: Group, p: GPolygon): Unit =
        p.rings.foreach(ring => ringInto(polyEl.addGroup("list").addGroup("element"), ring))
      (WKB.read(r.getAs[Array[Byte]](1)), geoarrowKind) match {
        case (pt: GPoint, "point") =>
          val pg = g.addGroup("geometry"); pg.add("x", pt.x); pg.add("y", pt.y)
        case (p: GPolygon, "polygon") => polyInto(g.addGroup("geometry"), p)
        case (p: GPolygon, "multipolygon") => // mixed elements promote
          polyInto(g.addGroup("geometry").addGroup("list").addGroup("element"), p)
        case (mp: GMultiPolygon, "multipolygon") =>
          val mg = g.addGroup("geometry")
          mp.polys.foreach(p => polyInto(mg.addGroup("list").addGroup("element"), p))
        case (other, k) =>
          sys.error(s"geometry ${other.getClass.getSimpleName} does not fit geoarrow '$k'")
      }
    }
    if (hasRadius && !r.isNullAt(2)) g.append("radius", r.getDouble(2))
    g
  }

  /** Write `(index, geometry WKB[, radius])` as GeoParquet at `pathStr`:
    * one file below [[SingleFileMaxRows]] (reference-exact layout, bounded
    * memory via toLocalIterator), a directory of task-parallel part files —
    * each carrying the full `geo` footer — above it.
    */
  private[sources] def writeGeoParquet(spark: SparkSession, df: DataFrame,
      pathStr: String, encoding: String = "WKB",
      maxSingleFileRows: Long = SingleFileMaxRows): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser

    val hasRadius = df.columns.contains("radius")
    val kinds = df.select("geom_type").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val geomTypes = kinds.map {
      case "circle" | "point" => "Point"
      case "polygon" => "Polygon"
      case "multipolygon" => "MultiPolygon"
      case other => other.capitalize
    }.distinct
    val geoarrowKind =
      if (kinds.forall(k => k == "circle" || k == "point")) "point"
      else if (kinds.contains("multipolygon")) "multipolygon"
      else "polygon"
    // geoarrow is a single-kind physical layout (points can't promote into
    // a polygon list column) — reject mixed elements on the driver, before
    // any part file exists, instead of erroring mid-job on executors
    if (encoding != "WKB" && kinds.exists(k => k == "circle" || k == "point") &&
        kinds.exists(k => k == "polygon" || k == "multipolygon"))
      sys.error(s"geoarrow encoding needs a homogeneous geometry kind, " +
        s"got ${kinds.mkString(", ")}; write this element as WKB instead")
    val schemaStr = geoParquetSchemaString(encoding, geoarrowKind, hasRadius)
    val geoMeta = geoMetaJson(encoding, geoarrowKind, geomTypes)
    val cols = Seq(col("index").cast("long"), col("geometry")) ++
      (if (hasRadius) Seq(col("radius")) else Nil)
    val projected = df.select(cols: _*)
    val conf = spark.sparkContext.hadoopConfiguration

    def newWriter(p: String, c: org.apache.hadoop.conf.Configuration) = {
      val schema = MessageTypeParser.parseMessageType(schemaStr)
      (schema, ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(new Path(p), c))
        .withType(schema)
        .withExtraMetaData(java.util.Map.of("geo", geoMeta))
        .withCompressionCodec(CompressionCodecName.ZSTD)
        .build())
    }

    if (projected.count() <= maxSingleFileRows) {
      val (schema, writer) = newWriter(pathStr, conf)
      val factory = new SimpleGroupFactory(schema)
      try {
        val it = projected.toLocalIterator()
        while (it.hasNext)
          writer.write(geoRow(factory, encoding, geoarrowKind, hasRadius, it.next()))
      } finally writer.close()
    } else {
      val fs = new Path(pathStr).getFileSystem(conf)
      fs.mkdirs(new Path(pathStr))
      val confB = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(conf))
      projected.foreachPartition { rows: Iterator[Row] =>
        if (rows.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val (schema, writer) = newWriter(
            f"$pathStr/part-$pid%05d.parquet", confB.value.value)
          val factory = new SimpleGroupFactory(schema)
          try rows.foreach(r =>
            writer.write(geoRow(factory, encoding, geoarrowKind, hasRadius, r)))
          finally writer.close()
        }
      }
    }
  }

  // ---- AnnData zarr table ----

  private def arrayAttrs(encoding: String): String =
    JsonMethods.compact(JsonMethods.render(
      ("encoding-type" -> encoding) ~ ("encoding-version" -> "0.2.0")))

  private def vectorMeta(n: Long, dtype: String): Zarr.ArrayMeta =
    Zarr.ArrayMeta(Seq(n.toInt), Seq(ChunkRows), dtype,
      Some(Zarr.Compressor("zlib", clevel = 1)), 0.0, "C", ".",
      filters = if (dtype == "|O") Seq("vlen-utf8") else Nil)

  /** Driver-side `.zarray`/`.zattrs` for a 1-D vector at `dir`. */
  private def writeVectorMeta(dir: String, n: Long, dtype: String,
      fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val isStr = dtype == "|O"
    val m = vectorMeta(n, dtype)
    fs.mkdirs(new Path(dir))
    val metaJson =
      if (!isStr) Zarr.arrayMetaJson(m)
      else JsonMethods.pretty(JsonMethods.render(
        ("zarr_format" -> 2) ~ ("shape" -> Seq(n)) ~ ("chunks" -> Seq(ChunkRows)) ~
          ("dtype" -> "|O") ~
          ("compressor" -> (("id" -> "zlib") ~ ("level" -> 1))) ~
          ("fill_value" -> JNull) ~ ("order" -> "C") ~
          ("filters" -> Seq(("id" -> "vlen-utf8"): JValue)) ~
          ("dimension_separator" -> ".")))
    writeText(fs, s"$dir/.zarray", metaJson)
    writeText(fs, s"$dir/.zattrs", arrayAttrs(if (isStr) "string-array" else "array"))
  }

  /** Encode one full-extent chunk for a 1-D vector. `entries` are
    * `(i, value)` within-chunk positions; strings pad with "", numeric
    * nulls become NaN (float) or 0 (int/bool) — zarr v2 stores edge chunks
    * at full nominal extent (zarr-python reshapes to `chunks`).
    */
  private def encodeVectorChunk(dtype: String, n: Long,
      entries: Seq[Row], j: Int): Array[Byte] =
    if (dtype == "|O") {
      val arr = Array.fill[String](ChunkRows)("")
      entries.foreach { e =>
        val vals = e.getStruct(1)
        if (!vals.isNullAt(j)) arr(e.getInt(0)) = vals.getString(j)
      }
      Zarr.compress(Zarr.vlenUtf8Encode(arr), vectorMeta(n, dtype).compressor)
    } else {
      val isFloat = dtype.charAt(1) == 'f'
      val arr = new Array[Double](ChunkRows)
      entries.foreach { e =>
        val vals = e.getStruct(1)
        if (!vals.isNullAt(j)) arr(e.getInt(0)) = vals.getAs[Number](j).doubleValue()
        else if (isFloat) arr(e.getInt(0)) = Double.NaN
      }
      Zarr.encodeChunk(arr, vectorMeta(n, dtype))
    }

  /** Write MANY 1-D obs vectors in ONE shuffle pass: chunk-group the rows
    * once, carry every column's value in a struct, emit every column's
    * chunk file from the same task. C columns cost one shuffle, not C.
    * `specs` are `(dir, dtype, valueColumn)`.
    */
  private def writeVectorsOnePass(df: DataFrame,
      specs: Seq[(String, String, org.apache.spark.sql.Column)], n: Long,
      fs: org.apache.hadoop.fs.FileSystem,
      confB: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration]): Unit = {
    specs.foreach { case (d, dtype, _) => writeVectorMeta(d, n, dtype, fs) }
    val dirsAndTypes = specs.map { case (d, t, _) => (d, t) }
    val nB = n
    df.select((col("__row") / ChunkRows).cast("int").as("__chunk"),
        (col("__row") % ChunkRows).cast("int").as("i"),
        struct(specs.zipWithIndex.map { case ((_, _, v), j) => v.as(s"v$j") }: _*).as("vals"))
      .groupBy("__chunk")
      .agg(collect_list(struct(col("i"), col("vals"))).as("entries"))
      .foreachPartition { rows: Iterator[Row] =>
        val fsT = new Path(dirsAndTypes.head._1).getFileSystem(confB.value.value)
        rows.foreach { r =>
          val ci = r.getInt(0)
          val entries = r.getSeq[Row](1)
          dirsAndTypes.zipWithIndex.foreach { case ((d, dtype), j) =>
            val bytes = encodeVectorChunk(dtype, nB, entries, j)
            val out = fsT.create(new Path(s"$d/$ci"), true)
            try out.write(bytes) finally out.close()
          }
        }
      }
  }

  /** Chunk-parallel 1-D zarr array write from `(row LONG, value)` rows.
    * `n` rows, [[ChunkRows]] per chunk; numeric dtypes encode via
    * [[Zarr.encodeChunk]], strings as vlen-utf8. Used for the small
    * side arrays (var `_index`, categorical `categories`); obs columns go
    * through [[writeVectorsOnePass]].
    */
  private def writeVector(df: DataFrame, n: Long, dir: String, dtype: String,
      fs: org.apache.hadoop.fs.FileSystem,
      confB: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration]): Unit = {
    val isStr = dtype == "|O"
    val m = vectorMeta(n, dtype)
    writeVectorMeta(dir, n, dtype, fs)
    val dirB = dir
    val nB = n
    df.withColumn("__chunk", (col("row") / ChunkRows).cast("int"))
      .groupBy("__chunk")
      .agg(collect_list(struct((col("row") % ChunkRows).cast("int").as("i"),
        col("value"))).as("vals"))
      .foreachPartition { rows: Iterator[Row] =>
        val fsT = new Path(dirB).getFileSystem(confB.value.value)
        rows.foreach { r =>
          val ci = r.getInt(0)
          val entries = r.getSeq[Row](1)
          val bytes =
            if (isStr) {
              // zarr v2 stores EDGE chunks at full nominal extent: zarr-python
              // reshapes the decoded object array to `chunks`, so the final
              // chunk must carry ChunkRows items, padded with ""
              val arr = Array.fill[String](ChunkRows)("")
              entries.foreach(e => if (!e.isNullAt(1)) arr(e.getInt(0)) = e.getString(1))
              Zarr.compress(Zarr.vlenUtf8Encode(arr), m.compressor)
            } else {
              val isFloat = m.dtype.charAt(1) == 'f'
              val arr = new Array[Double](ChunkRows)
              // nullable obs columns: float null -> NaN (pandas missing),
              // int/bool null -> fill 0 — never an executor NPE
              entries.foreach { e =>
                if (!e.isNullAt(1)) arr(e.getInt(0)) = e.getAs[Number](1).doubleValue()
                else if (isFloat) arr(e.getInt(0)) = Double.NaN
              }
              Zarr.encodeChunk(arr, m)
            }
          val out = fsT.create(new Path(s"$dirB/$ci"), true)
          try out.write(bytes) finally out.close()
        }
      }
  }

  /** Max distinct values for a string obs column to round-trip as the
    * anndata `categorical` encoding rather than vlen-utf8.
    */
  private val MaxCategories = 128

  /** Dense X write: `(row, col, value)` -> chunks `(ChunkRows, nVar)`. */
  private def writeDenseX(coo: DataFrame, n: Long, nVar: Int, dir: String,
      fs: org.apache.hadoop.fs.FileSystem,
      confB: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration]): Unit = {
    val m = Zarr.ArrayMeta(Seq(n.toInt, nVar), Seq(ChunkRows, nVar), "<f8",
      Some(Zarr.Compressor("zlib", clevel = 1)), 0.0, "C", ".")
    fs.mkdirs(new Path(dir))
    writeText(fs, s"$dir/.zarray", Zarr.arrayMetaJson(m))
    writeText(fs, s"$dir/.zattrs", arrayAttrs("array"))
    val dirB = dir
    coo.withColumn("__chunk", (col("row") / ChunkRows).cast("int"))
      .groupBy("__chunk")
      .agg(collect_list(struct(
        ((col("row") % ChunkRows) * nVar + col("col")).cast("int").as("i"),
        col("value").cast("double").as("v"))).as("vals"))
      .foreachPartition { rows: Iterator[Row] =>
        val fsT = new Path(dirB).getFileSystem(confB.value.value)
        rows.foreach { r =>
          val ci = r.getInt(0)
          val arr = new Array[Double](ChunkRows * nVar)
          r.getSeq[Row](1).foreach(e => arr(e.getInt(0)) = e.getDouble(1))
          val out = fsT.create(new Path(s"$dirB/$ci.0"), true)
          try out.write(Zarr.encodeChunk(arr, m)) finally out.close()
        }
      }
  }

  /** Write one table element as an AnnData zarr group. obs rows order by the
    * instance key (explicit, deterministic — there is no implicit row order
    * in a distributed table); X comes from the engine's long form.
    */
  private[sources] def writeAnnData(spark: SparkSession, el: SpatialElement,
      dir: String, fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val ann = el.meta.table
    val ik = ann.map(_.instanceKey)

    // explicit row index: sort by instance key (fallback: first column)
    val sortCol = ik.filter(el.obs.columns.contains)
      .getOrElse(el.obs.columns.head)
    val obsSorted = el.obs.orderBy(col(sortCol))
    val schema0 = obsSorted.schema
    val withRow = spark.createDataFrame(
      obsSorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      StructType(schema0.fields :+ StructField("__row", LongType, nullable = false)))
    withRow.persist()
    val n = withRow.count()

    val gattrs: JObject =
      ("encoding-type" -> "anndata") ~ ("encoding-version" -> "0.1.0") ~
        ("spatialdata-encoding-type" -> "ngff:regions_table") ~
        ("region" -> ann.map(a =>
          if (a.region.length == 1) JString(a.region.head): JValue
          else JArray(a.region.toList.map(JString(_))): JValue)) ~
        ("region_key" -> ann.map(_.regionKey)) ~
        ("instance_key" -> ann.map(_.instanceKey)) ~
        ("version" -> "0.1")
    fs.mkdirs(new Path(dir))
    writeText(fs, s"$dir/.zgroup", """{"zarr_format": 2}""")
    writeText(fs, s"$dir/.zattrs", JsonMethods.pretty(JsonMethods.render(gattrs)))

    // ---- obs group ----
    val obsDir = s"$dir/obs"
    fs.mkdirs(new Path(obsDir))
    writeText(fs, s"$obsDir/.zgroup", """{"zarr_format": 2}""")
    writeText(fs, s"$obsDir/.zattrs", JsonMethods.pretty(JsonMethods.render(
      ("encoding-type" -> "dataframe") ~ ("encoding-version" -> "0.2.0") ~
        ("_index" -> "_index") ~ ("column-order" -> schema0.fieldNames.toSeq))))
    // Every obs vector — _index, numeric/bool columns, categorical CODES —
    // writes from ONE shuffle pass (writeVectorsOnePass); only the tiny
    // per-column `categories` arrays get their own writes. Low-cardinality
    // string columns round-trip as the anndata `categorical` encoding the
    // reference emits for pandas categoricals; the probe collects at most
    // MaxCategories+1 distinct values, never the full column.
    var enriched = withRow
    val specs = scala.collection.mutable.ArrayBuffer[
      (String, String, org.apache.spark.sql.Column)]()
    specs += ((s"$obsDir/_index", "|O", col(sortCol).cast("string")))
    schema0.fields.foreach { f =>
      f.dataType match {
        case StringType =>
          val sample = withRow.select(col(f.name)).filter(col(f.name).isNotNull)
            .distinct().limit(MaxCategories + 1).collect().map(_.getString(0))
          if (sample.length <= MaxCategories && sample.length < n) {
            val cats = sample.sorted
            val cdir = s"$obsDir/${f.name}"
            fs.mkdirs(new Path(cdir))
            writeText(fs, s"$cdir/.zgroup", """{"zarr_format": 2}""")
            writeText(fs, s"$cdir/.zattrs", JsonMethods.compact(JsonMethods.render(
              ("encoding-type" -> "categorical") ~ ("encoding-version" -> "0.2.0") ~
                ("ordered" -> false))))
            writeVector(spark.createDataFrame(cats.zipWithIndex.toSeq
              .map { case (v, i) => (i.toLong, v) }).toDF("row", "value"),
              cats.length.toLong, s"$cdir/categories", "|O", fs, confB)
            val catCol = s"__cat_${f.name}"; val codeCol = s"__code_${f.name}"
            val catDf = spark.createDataFrame(cats.zipWithIndex.toSeq
              .map { case (v, i) => (v, i.toLong) }).toDF(catCol, codeCol)
            enriched = enriched.join(catDf,
              enriched(f.name) === col(catCol), "left").drop(catCol)
            specs += ((s"$cdir/codes", "<i8",
              coalesce(col(codeCol), lit(-1L)).cast("double")))
          } else specs += ((s"$obsDir/${f.name}", "|O", col(f.name)))
        case BooleanType =>
          specs += ((s"$obsDir/${f.name}", "|b1", col(f.name).cast("double")))
        case IntegerType | LongType =>
          specs += ((s"$obsDir/${f.name}", "<i8", col(f.name).cast("double")))
        case FloatType | DoubleType =>
          specs += ((s"$obsDir/${f.name}", "<f8", col(f.name).cast("double")))
        case other => sys.error(s"obs column '${f.name}': unsupported type $other")
      }
    }
    writeVectorsOnePass(enriched, specs.toSeq, n, fs, confB)

    // ---- var + X + layers (all matrices share the var space) ----
    val mats: Seq[(String, DataFrame)] = el.aux.toSeq
      .filter { case (k, _) => k == "X" || k.startsWith("layer:") }
      .sortBy(_._1)
    if (mats.nonEmpty) {
      val varNames = mats.map(_._2.select("var_name")).reduce(_ union _)
        .distinct().collect().map(_.getString(0)).sorted
      val varDir = s"$dir/var"
      fs.mkdirs(new Path(varDir))
      writeText(fs, s"$varDir/.zgroup", """{"zarr_format": 2}""")
      writeText(fs, s"$varDir/.zattrs", JsonMethods.pretty(JsonMethods.render(
        ("encoding-type" -> "dataframe") ~ ("encoding-version" -> "0.2.0") ~
          ("_index" -> "_index") ~ ("column-order" -> Seq.empty[String]))))
      writeVector(
        spark.createDataFrame(varNames.zipWithIndex.toSeq
          .map { case (v, i) => (i.toLong, v) }).toDF("row", "value"),
        varNames.length.toLong, s"$varDir/_index", "|O", fs, confB)

      val ikCol = ik.getOrElse(sortCol)
      val rowMap = withRow.select(col(ikCol).cast("long").as("__ik"), col("__row"))
      val varMap = spark.createDataFrame(varNames.zipWithIndex.toSeq
        .map { case (v, i) => (v, i) }).toDF("var_name", "__col")
      if (mats.exists(_._1.startsWith("layer:"))) {
        fs.mkdirs(new Path(s"$dir/layers"))
        writeText(fs, s"$dir/layers/.zgroup", """{"zarr_format": 2}""")
        writeText(fs, s"$dir/layers/.zattrs", JsonMethods.compact(JsonMethods.render(
          ("encoding-type" -> "dict") ~ ("encoding-version" -> "0.1.0"))))
      }
      mats.foreach { case (k, x) =>
        val target =
          if (k == "X") s"$dir/X" else s"$dir/layers/${k.stripPrefix("layer:")}"
        val coo = x.join(rowMap, x("instance_id").cast("long") === col("__ik"))
          .join(varMap, "var_name")
          .select(col("__row").as("row"), col("__col").as("col"), col("value"))
        writeDenseX(coo, n, varNames.length, target, fs, confB)
      }
    }

    // ---- obsm: per-key (n x k) dense arrays from the wide aux frames the
    // reader produces ((instance_id, <key>_0 .. <key>_{k-1}) — dropping
    // them would silently lose spatial/PCA/embedding matrices on a
    // write round-trip) ----
    val obsms: Seq[(String, DataFrame)] = el.aux.toSeq
      .filter(_._1.startsWith("obsm:")).sortBy(_._1)
    if (obsms.nonEmpty) {
      val obsmDir = s"$dir/obsm"
      fs.mkdirs(new Path(obsmDir))
      writeText(fs, s"$obsmDir/.zgroup", """{"zarr_format": 2}""")
      writeText(fs, s"$obsmDir/.zattrs", JsonMethods.compact(JsonMethods.render(
        ("encoding-type" -> "dict") ~ ("encoding-version" -> "0.1.0"))))
      val ikCol = ik.getOrElse(sortCol)
      val rowMap = withRow.select(col(ikCol).cast("long").as("__ik"), col("__row"))
      obsms.foreach { case (auxKey, wide) =>
        val key = auxKey.stripPrefix("obsm:")
        val valueCols = wide.columns.filter(_.startsWith(s"${key}_"))
          .sortBy(_.stripPrefix(s"${key}_").toInt)
        require(valueCols.nonEmpty,
          s"obsm '$key': no ${key}_<j> columns in ${wide.columns.mkString(", ")}")
        val coo = wide
          .join(rowMap, wide("instance_id").cast("long") === col("__ik"))
          .select(col("__row"), posexplode(
            array(valueCols.map(c => col(c).cast("double")): _*))
            .as(Seq("col", "value")))
          .select(col("__row").as("row"), col("col"), col("value"))
        writeDenseX(coo, n, valueCols.length, s"$obsmDir/$key", fs, confB)
      }
    }
    withRow.unpersist()
  }

  // ---- container ----

  /** Write the container in reference-compatible layouts. Raster elements
    * reuse the NGFF writer (already compatible). The geometry-encoding
    * default follows [[graft.model.Settings.shapesGeometryEncoding]]
    * (config.py:23 parity — "WKB" or "geoarrow").
    */
  def write(sd: SpatialDataset, root: String,
      tileSize: Int = Models.ImageModel.TileSize,
      geometryEncoding: String = graft.model.Settings.shapesGeometryEncoding,
      maxSingleFileRows: Long = SingleFileMaxRows): Unit = {
    val spark = sd.spark
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rp)) fs.delete(rp, true)
    fs.mkdirs(rp)
    writeText(fs, s"$root/.zgroup", """{"zarr_format": 2}""")
    writeText(fs, s"$root/.zattrs",
      """{"spatialdata_attrs": {"version": "0.1", "spatialdata_software_version": "graft"}}""")
    ElementKind.all.foreach { kind =>
      if (sd.manifest.ofKind(kind).nonEmpty) {
        fs.mkdirs(new Path(s"$root/${kind.dirName}"))
        writeText(fs, s"$root/${kind.dirName}/.zgroup", """{"zarr_format": 2}""")
      }
    }
    sd.manifest.elements.foreach { meta =>
      val el = sd.element(meta.name)
      val dir = s"$root/${meta.kind.dirName}/${meta.name}"
      meta.kind match {
        case ElementKind.Images =>
          val ts = el.meta.tileSize
          NgffRaster.write(el.data, dir, meta.name, ts,
            transforms = meta.transforms, channels = meta.channelNames)
        case ElementKind.Labels =>
          import graft.ops.RasterOps
          val tiles = RasterOps.pixelsToTiles(
            el.data.select(lit(0).as("c"), col("y"), col("x"),
              col("label").cast("double").as("value")), tileSize)
          NgffRaster.write(tiles, dir, meta.name, tileSize,
            axes = Seq("y", "x"), dtype = "<i8", transforms = meta.transforms,
            isLabels = true)
        case ElementKind.Points =>
          el.data.write.mode("overwrite").option("compression", "zstd")
            .parquet(s"$dir/points.parquet")
          val ikField: List[JField] =
            meta.attrs.get("instance_key").map(v => JField("instance_key", JString(v))).toList
          val fkField: List[JField] =
            meta.attrs.get("feature_key").map(v => JField("feature_key", JString(v))).toList
          val sdAttrs: JObject =
            JObject(ikField ++ fkField :+ JField("version", JString("0.1")))
          writeText(fs, s"$dir/.zattrs",
            refAttrs(meta, "ngff:points", Seq("x", "y"), sdAttrs))
          // the reference enumerates elements by zarr group iteration, which
          // only yields children carrying .zgroup (io_zarr.py) — without this
          // the points element is silently invisible to the python stack
          writeText(fs, s"$dir/.zgroup", """{"zarr_format": 2}""")
        case ElementKind.Shapes =>
          fs.mkdirs(new Path(dir))
          writeGeoParquet(spark, el.data, s"$dir/shapes.parquet",
            geometryEncoding, maxSingleFileRows)
          writeText(fs, s"$dir/.zattrs",
            refAttrs(meta, "ngff:shapes", Seq("x", "y"),
              ("version" -> (if (geometryEncoding == "geoarrow") "0.3" else "0.2")): JObject))
          writeText(fs, s"$dir/.zgroup", """{"zarr_format": 2}""")
        case ElementKind.Tables =>
          writeAnnData(spark, el, dir, fs)
      }
    }
  }
}
