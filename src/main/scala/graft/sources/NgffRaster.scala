package graft.sources

import graft.model._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** OME-NGFF (zarr v2) multiscale raster ingest and write, Spark-first.
  *
  * The reference reads a multiscale group into a dask-backed DataTree
  * (`reference/src/spatialdata/_io/io_raster.py:162-233`: multiscales
  * metadata -> per-scale arrays -> transformations from the ngff dict) and
  * writes one zarr array per pyramid level plus multiscales/omero attrs
  * (`io_raster.py:261-573`, transform attrs via
  * `_io/_utils.py:83-138`). Here the same store maps onto the engine's
  * tiled layout `(scale, c, tile_y, tile_x, h, w, px)`:
  *
  *  - READ: the driver parses only JSON metadata (`.zattrs`, `.zarray`);
  *    the chunk grid becomes a DataFrame of chunk descriptors and each
  *    TASK reads + decodes its chunks — at 100 TB the store is scanned by
  *    a thousand executors in parallel, no driver materialization.
  *    Chunks absent from the store are `fill_value` (zarr semantics) and
  *    are skipped, keeping sparse rasters sparse.
  *  - WRITE: one Spark job; each task writes one zarr chunk per tile row
  *    and returns the array extents it wrote, and the driver writes only
  *    the group/array JSON, last.
  *
  * Supported: `(c, y, x)` / `(c, z, y, x)` images and `(y, x)` / `(z, y, x)`
  * labels (the reference's Image2D/3D and Labels2D/3D dims,
  * models.py:409-447), any zarr numeric dtype, blosc (reference default) /
  * zlib / zstd write compression, blosc/zlib/gzip/zstd read compression.
  * 3D stores add a `z` plane column to the tile rows.
  */
object NgffRaster {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** models.py:357-399 parity (`_check_chunk_size_not_too_large`): a chunk
    * bigger than [[graft.model.Settings.largeChunkThresholdBytes]] returns
    * a warning message (and [[write]] logs it loudly) — oversized chunks
    * mean low performance, memory pressure, and int32 compression-frame
    * overflows. None when the chunk is fine.
    */
  private[graft] def chunkSizeWarning(chunks: Seq[Int], dtype: String): Option[String] = {
    val usage = chunks.map(_.toLong).product * Zarr.bytesPerElement(dtype)
    val threshold = graft.model.Settings.largeChunkThresholdBytes
    if (usage > threshold)
      Some(s"Detected chunks larger than: $usage > $threshold bytes. This can lead to low " +
        "performance and memory issues downstream, and compression errors when writing " +
        "(int32 frame limits). Consider 1) smaller tiles (tileSize) and/or 2) a multiscale " +
        "representation; raise graft.model.Settings.largeChunkThresholdBytes to suppress.")
    else None
  }

  /** Per-scale store info surfaced to callers. */
  final case class ScaleInfo(path: String, meta: Zarr.ArrayMeta, scaleFactors: Seq[Double])

  /** Parsed group metadata (the driver-side planning surface). */
  final case class NgffMeta(
      name: String,
      axes: Seq[String],
      scales: Seq[ScaleInfo],
      transforms: Map[String, Transform],
      channels: Seq[String],
      isLabels: Boolean)

  val TileSchema: StructType = StructType(Seq(
    StructField("scale", IntegerType, nullable = false),
    StructField("c", IntegerType, nullable = false),
    StructField("tile_y", IntegerType, nullable = false),
    StructField("tile_x", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("w", IntegerType, nullable = false),
    StructField("px", ArrayType(DoubleType, containsNull = false), nullable = false)))

  // ---- transforms <-> NGFF dicts (transformations in multiscales[0]) ----

  private[sources] def transformToNgff(cs: String, t: Transform): JValue = t match {
    case IdentityT => ("type" -> "identity") ~ ("output" -> (("name" -> cs): JObject))
    case ScaleT(v, ax) =>
      ("type" -> "scale") ~ ("scale" -> v) ~ ("axes" -> ax) ~
        ("output" -> (("name" -> cs): JObject))
    case TranslationT(v, ax) =>
      ("type" -> "translation") ~ ("translation" -> v) ~ ("axes" -> ax) ~
        ("output" -> (("name" -> cs): JObject))
    case AffineT(m, in, out) =>
      ("type" -> "affine") ~
        ("affine" -> (0 until m.rows).map(r =>
          (0 until m.cols).map(c => m.data(r * m.cols + c)).toSeq).toSeq) ~
        ("input_axes" -> in) ~ ("output_axes" -> out) ~
        ("output" -> (("name" -> cs): JObject))
    case MapAxisT(m) =>
      ("type" -> "mapAxis") ~ ("map" -> m) ~ ("output" -> (("name" -> cs): JObject))
    case SequenceT(ts) =>
      ("type" -> "sequence") ~ ("transformations" -> ts.map(transformToNgff(cs, _))) ~
        ("output" -> (("name" -> cs): JObject))
  }

  private[sources] def transformFromNgff(j: JValue, spatialAxes: Seq[String]): Transform = {
    implicit val fmt: Formats = DefaultFormats
    // Axis lists appear either as plain string arrays (this engine's write
    // form) or as the reference's NgffCoordinateSystem dicts on "input"/
    // "output" — `[{"name": "x", "type": "space", ...}, ...]`
    // (ngff_transformations.py `_update_dict_with_input_output_cs`).
    def axisNames(v: JValue): Option[Seq[String]] = v match {
      case JArray(a) if a.nonEmpty => Some(a.map {
        case JString(s) => s
        case o => (o \ "name").extract[String]
      })
      case _ => None
    }
    def axesOf(field: String, csField: String): Seq[String] =
      axisNames(j \ field)
        .orElse(axisNames(j \ csField \ "axes"))
        .getOrElse(spatialAxes)
    (j \ "type").extract[String] match {
      case "identity" => IdentityT
      case "scale" => ScaleT((j \ "scale").extract[Seq[Double]], axesOf("axes", "input"))
      case "translation" =>
        TranslationT((j \ "translation").extract[Seq[Double]], axesOf("axes", "input"))
      case "affine" =>
        val raw = (j \ "affine").extract[Seq[Seq[Double]]]
        // the reference omits the last homogeneous row (NgffAffine.to_dict);
        // Matrix is full homogeneous, so append [0,...,0,1] when missing
        val rows =
          if (raw.length == raw.head.length - 1)
            raw :+ (Seq.fill(raw.head.length - 1)(0.0) :+ 1.0)
          else raw
        AffineT(Matrix(rows.length, rows.head.length, rows.flatten.toArray),
          axesOf("input_axes", "input"), axesOf("output_axes", "output"))
      case "mapAxis" =>
        // this engine writes "map"; the reference writes "mapAxis"
        val m = (j \ "map") match {
          case JNothing | JNull => (j \ "mapAxis").extract[Map[String, String]]
          case v => v.extract[Map[String, String]]
        }
        MapAxisT(m)
      case "sequence" =>
        SequenceT((j \ "transformations").asInstanceOf[JArray].arr
          .map(transformFromNgff(_, spatialAxes)))
      case other => sys.error(s"unknown ngff transform type '$other'")
    }
  }

  // ---- write ----

  private val SupportedAxes = Set(
    Seq("c", "y", "x"), Seq("y", "x"), Seq("z", "y", "x"), Seq("c", "z", "y", "x"))

  /** Write a tiled raster DataFrame as an OME-NGFF zarr v2 group.
    *
    * `tiles` must follow the engine layout (`scale,c,tile_y,tile_x,h,w,px`,
    * plus a `z` column when `axes` contains `z`) with one tile per
    * (scale, c, z, tile_y, tile_x); chunking is one (y, x) tile per chunk
    * with unit extent on the leading `c`/`z` axes. Supported axes:
    * `(c,y,x)`, `(y,x)`, `(z,y,x)`, `(c,z,y,x)` — the reference's
    * Image2D/3D and Labels2D/3D dims (models.py:409-447, io_raster.py
    * reads/writes the same rank-2..4 arrays). Absent tiles become absent
    * chunks (= `fill_value` 0 on read): sparse in, sparse stored.
    *
    * One Spark job, like the reference's single dask compute: each task
    * writes its tiles' chunks through a [[ChunkWriter]] and returns the
    * per-scale extents it wrote; the driver folds them into the `.zarray`
    * shapes and writes the group metadata last. An empty raster or a gap
    * in the scales is refused after the chunks are written, so a refused
    * store has no metadata and does not read.
    */
  def write(tiles: DataFrame, groupDir: String, name: String,
      tileSize: Int, axes: Seq[String] = Seq("c", "y", "x"),
      transforms: Map[String, Transform] = Map("global" -> IdentityT),
      channels: Seq[String] = Nil, dtype: String = "<f8",
      compressorId: String = "blosc", isLabels: Boolean = false): Unit = {
    require(SupportedAxes.contains(axes), s"unsupported axes $axes")
    val layout = ChunkLayout(groupDir, tileSize, axes, dtype, compressorId)
    chunkSizeWarning(layout.chunks, dtype).foreach(logger.warn(_))
    val sc = tiles.sparkSession.sparkContext
    val gd = new Path(groupDir)
    val fs = gd.getFileSystem(sc.hadoopConfiguration)
    if (fs.exists(gd)) fs.delete(gd, true)
    fs.mkdirs(gd)

    val schema = if (axes.contains("z")) Tile3DSchema else TileSchema
    val qe = tiles.select(schema.fieldNames.toSeq.map(tiles.col): _*).queryExecution
    val confB = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    // an SQL execution, so QueryExecutionListeners (CacheScope) see the
    // write as one action, as they see a Dataset action
    val extents = SQLExecution.withNewExecutionId(qe, Some("ngffWrite")) {
      qe.toRdd.mapPartitions { rows =>
        val w = new ChunkWriter(layout, confB.value.value)
        rows.foreach(w.write)
        w.extents.iterator
      }.collect()
    }
    writeGroupMetadata(fs, layout, extents.toSeq, name, transforms, channels, isLabels)
  }

  /** `scale -> (maxc, maxz, maxY, maxX)`: the extents of the tiles written. */
  private[sources] type Extents = Seq[(Int, (Int, Int, Int, Int))]

  /** Where and how a store's chunks are encoded: the chunk extent, dtype and
    * compressor, which is all [[Zarr.encodeChunk]] reads — never the array
    * shape, so chunks are written before the shapes are known.
    */
  private[sources] final case class ChunkLayout(dir: String, tileSize: Int,
      axes: Seq[String], dtype: String, compressorId: String) {
    val chunks: Seq[Int] = axes.map { case "y" | "x" => tileSize; case _ => 1 }
    def meta(maxc: Int, maxz: Int, maxy: Int, maxx: Int): Zarr.ArrayMeta = {
      val extent = Map("c" -> (maxc + 1), "z" -> (maxz + 1), "y" -> maxy, "x" -> maxx)
      // default matches the reference writers: numcodecs Blosc with zstd
      // inner codec + byte-shuffle (io_raster.py:383-393)
      val comp = compressorId match {
        case "blosc" => Zarr.Compressor("blosc", cname = "zstd", clevel = 5, shuffle = 1)
        case id => Zarr.Compressor(id, clevel = 3)
      }
      Zarr.ArrayMeta(axes.map(extent), chunks, dtype, Some(comp), 0.0, "C", ".")
    }
  }

  /** One task's chunk writer, shared by [[write]] and the DSv2 writer: pads
    * each tile row ([[TileSchema]], or [[Tile3DSchema]] when the axes have
    * `z`) into the full chunk, writes it under its zarr key — one file per
    * tile, no two tasks share a file — and keeps the extents it wrote.
    */
  private[sources] final class ChunkWriter(layout: ChunkLayout,
      conf: org.apache.hadoop.conf.Configuration) {
    import layout.{dir, tileSize => ts}
    private val (hasC, hasZ) = (layout.axes.contains("c"), layout.axes.contains("z"))
    private val fs = new Path(dir).getFileSystem(conf)
    private val enc = layout.meta(0, 0, 0, 0)
    private val seen = scala.collection.mutable.Map.empty[Int, (Int, Int, Int, Int)]

    def write(r: InternalRow): Unit = {
      val i = if (hasZ) 3 else 2
      val (s, c, z) = (r.getInt(0), r.getInt(1), if (hasZ) r.getInt(2) else 0)
      val (ty, tx, h, w) = (r.getInt(i), r.getInt(i + 1), r.getInt(i + 2), r.getInt(i + 3))
      require(hasC || c == 0, s"axes without c require c == 0, got $c")
      require(h <= ts && w <= ts, s"tile ${h}x$w exceeds the chunk extent $ts — tiles " +
        "must be built with the same tileSize the store is written with")
      val px = r.getArray(i + 4).toDoubleArray()
      val full = new Array[Double](ts * ts) // the (h, w) payload, fill 0
      (0 until h).foreach(yy => System.arraycopy(px, yy * w, full, yy * ts, w))
      val key = ((if (hasC) Seq(c) else Nil) ++ (if (hasZ) Seq(z) else Nil) ++ Seq(ty, tx))
      val out = fs.create(new Path(s"$dir/$s/${key.mkString(".")}"), true)
      try out.write(Zarr.encodeChunk(full, enc)) finally out.close()
      val (mc, mz, my, mx) = seen.getOrElse(s, (0, 0, 0, 0))
      seen(s) = (mc max c, mz max z, my max (ty * ts + h), mx max (tx * ts + w))
    }

    def extents: Extents = seen.toSeq
  }

  /** Driver-side group metadata, written after the chunks: .zgroup,
    * per-scale .zarray, group .zattrs (multiscales + transforms +
    * omero/image-label). Folds the chunk tasks' extents into the array
    * shapes; shared by [[write]] and the DataSourceV2 commit.
    */
  private[sources] def writeGroupMetadata(fs: org.apache.hadoop.fs.FileSystem,
      layout: ChunkLayout, extents: Extents, name: String,
      transforms: Map[String, Transform], channels: Seq[String],
      isLabels: Boolean): Unit = {
    val perScale = extents.groupMapReduce(_._1)(_._2) { case ((c, z, y, x), (c2, z2, y2, x2)) =>
      (c max c2, z max z2, y max y2, x max x2)
    }
    require(perScale.nonEmpty, "cannot write an empty raster")
    val scaleIds = perScale.keys.toSeq.sorted
    require(scaleIds == (0 until perScale.size), s"scales must be 0..n, got $scaleIds")
    val metas = scaleIds.map(perScale).map { case (c, z, y, x) => layout.meta(c, z, y, x) }
    val (groupDir, axes) = (layout.dir, layout.axes)
    def writeText(p: String, text: String): Unit = {
      val out = fs.create(new Path(p), true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    writeText(s"$groupDir/.zgroup", """{"zarr_format": 2}""")
    scaleIds.foreach { s =>
      fs.mkdirs(new Path(s"$groupDir/$s"))
      writeText(s"$groupDir/$s/.zarray", Zarr.arrayMetaJson(metas(s)))
    }
    val axesJson: Seq[JValue] = axes.map {
      case "c" => ("name" -> "c") ~ ("type" -> "channel")
      case a => ("name" -> a) ~ ("type" -> "space")
    }
    val datasets: Seq[JValue] = scaleIds.map { s =>
      val f = math.pow(2.0, s)
      // pyramids coarsen the in-plane axes only (z/c keep full resolution,
      // matching the reference's 2D blocked scale factors)
      val factors = axes.map { case "y" | "x" => f; case _ => 1.0 }
      ("path" -> s.toString) ~
        ("coordinateTransformations" -> Seq(
          (("type" -> "scale") ~ ("scale" -> factors)): JValue))
    }
    val multiscales: JValue =
      ("version" -> "0.4") ~ ("name" -> name) ~ ("axes" -> axesJson) ~
        ("datasets" -> datasets) ~
        ("coordinateTransformations" ->
          transforms.toSeq.sortBy(_._1).map { case (cs, t) => transformToNgff(cs, t) })
    var attrs: JObject = ("multiscales" -> Seq(multiscales))
    if (isLabels) attrs = attrs ~ ("image-label" -> (("version" -> "0.4"): JObject))
    else if (channels.nonEmpty)
      attrs = attrs ~ ("omero" -> (("channels" ->
        channels.map(l => (("label" -> l): JObject))): JObject))
    attrs = attrs ~ ("spatialdata_attrs" -> (("version" -> "0.3"): JObject))
    writeText(s"$groupDir/.zattrs", JsonMethods.pretty(JsonMethods.render(attrs)))
  }

  // ---- read ----

  /** Parse the group metadata (driver-side, JSON only). `metaReader`
    * overrides how group-relative metadata documents are fetched —
    * [[ZarrStore.read]] passes the store's consolidated `.zmetadata`
    * index through it, so a container read does no per-element metadata
    * round trips.
    */
  def readMeta(spark: SparkSession, groupDir: String,
      metaReader: Option[String => String] = None): NgffMeta = {
    implicit val fmt: Formats = DefaultFormats
    val gd = new Path(groupDir)
    val fs = gd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readText(p: String): String = {
      val in = fs.open(new Path(p))
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        new String(bos.toByteArray, "UTF-8")
      } finally in.close()
    }
    def metaText(rel: String): String = metaReader match {
      case Some(f) => f(rel)
      case None => readText(s"$groupDir/$rel")
    }
    val attrs = JsonMethods.parse(metaText(".zattrs"))
    val ms = (attrs \ "multiscales").asInstanceOf[JArray].arr.head
    val axes = (ms \ "axes").asInstanceOf[JArray].arr
      .map(a => (a \ "name").extract[String])
    val spatialAxes = axes.filterNot(_ == "c")
    val scales = (ms \ "datasets").asInstanceOf[JArray].arr.map { d =>
      val path = (d \ "path").extract[String]
      val meta = Zarr.parseArrayMeta(metaText(s"$path/.zarray"))
      val factors = (d \ "coordinateTransformations") match {
        case JArray(ts) => ts.collectFirst {
          case t if (t \ "type") == JString("scale") => (t \ "scale").extract[Seq[Double]]
        }.getOrElse(meta.shape.map(_ => 1.0))
        case _ => meta.shape.map(_ => 1.0)
      }
      ScaleInfo(path, meta, factors)
    }
    val transforms = (ms \ "coordinateTransformations") match {
      case JArray(ts) => ts.flatMap { t =>
        (t \ "output" \ "name") match {
          case JString(cs) => Some(cs -> transformFromNgff(t, spatialAxes))
          case _ => None
        }
      }.toMap
      case _ => Map.empty[String, Transform]
    }
    val channels = (attrs \ "omero" \ "channels") match {
      case JArray(cs) => cs.map(c => (c \ "label").extract[String])
      case _ => Nil
    }
    val isLabels = (attrs \ "image-label") != JNothing
    NgffMeta((ms \ "name").extractOrElse[String](""), axes, scales, transforms,
      channels, isLabels)
  }

  /** [[TileSchema]] plus a `z` plane column — the layout `read` emits for
    * stores whose axes include `z` (Image3D/Labels3D, models.py:409-447).
    */
  val Tile3DSchema: StructType = StructType(
    TileSchema.fields.take(2) ++ Seq(StructField("z", IntegerType, nullable = false)) ++
      TileSchema.fields.drop(2))

  /** Read the multiscale store into the tiled layout (axes with `z` add a
    * `z` column, [[Tile3DSchema]]). Only chunks present in the store produce
    * rows (absent = all-`fill_value`); pass `scaleSelection` to read a
    * subset of pyramid levels (partial read, matching the reference's lazy
    * per-level access).
    */
  def read(spark: SparkSession, groupDir: String,
      scaleSelection: Option[Seq[Int]] = None,
      metaReader: Option[String => String] = None): (DataFrame, NgffMeta) = {
    val meta = readMeta(spark, groupDir, metaReader)
    require(SupportedAxes.contains(meta.axes), s"unsupported axes ${meta.axes}")
    val hasZ = meta.axes.contains("z")
    val axB = meta.axes
    val wanted = scaleSelection.getOrElse(meta.scales.indices)
    // driver-side: the chunk-grid descriptor list (indices only, no data).
    // Grid indices are in (c, z, y, x) order with absent axes pinned to 0.
    val tasks: Seq[(Int, String, Int, Int, Int, Int)] = wanted.flatMap { s =>
      val sc = meta.scales(s)
      val grid = sc.meta.gridShape
      require(grid.length == axB.length,
        s"scale ${sc.path}: rank ${grid.length} != axes $axB")
      // downstream tile->pixel decodes use ONE tile size for both in-plane
      // axes; a rectangular chunk would silently mis-position pixels
      val (cy, cx) = (sc.meta.chunks(axB.indexOf("y")), sc.meta.chunks(axB.indexOf("x")))
      require(cy == cx,
        s"scale ${sc.path}: non-square (y, x) chunks ${cy}x$cx unsupported")
      def g(ax: String) = axB.indexOf(ax) match {
        case -1 => 1
        case i => grid(i)
      }
      for (c <- 0 until g("c"); z <- 0 until g("z");
           ty <- 0 until g("y"); tx <- 0 until g("x"))
        yield (s, sc.path, c, z, ty, tx)
    }
    val groupDirB = groupDir
    val metasB = spark.sparkContext.broadcast(meta.scales.map(s => s.path -> s.meta).toMap)
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    // parallelize with explicit slices: contiguous chunk runs per task (FS
    // locality) and no repartition shuffle in front of every raster read
    val taskRdd = spark.sparkContext.parallelize(tasks,
      math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism)))
    val taskDf = spark.createDataFrame(taskRdd).toDF("scale", "path", "cc", "zz", "ty", "tx")
    val rows = taskDf.rdd.mapPartitions { it =>
      val fsT = new Path(groupDirB).getFileSystem(confB.value.value)
      it.flatMap { r =>
        val (s, path, cc, zz, ty, tx) =
          (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))
        val m = metasB.value(path)
        // axis extents/chunks in canonical (c, z, y, x) positions
        def dim(ax: String, from: Seq[Int], absent: Int) = axB.indexOf(ax) match {
          case -1 => absent
          case i => from(i)
        }
        val (shapeC, shapeZ) = (dim("c", m.shape, 1), dim("z", m.shape, 1))
        val (shapeY, shapeX) = (dim("y", m.shape, 1), dim("x", m.shape, 1))
        val (chC, chZ) = (dim("c", m.chunks, 1), dim("z", m.chunks, 1))
        val (chY, chX) = (dim("y", m.chunks, 1), dim("x", m.chunks, 1))
        val lead = Map("c" -> cc, "z" -> zz, "y" -> ty, "x" -> tx)
        val key = m.chunkKey(axB.map(lead))
        val p = new Path(s"$groupDirB/$path/$key")
        val absent = !fsT.exists(p)
        // absent chunk + fill 0: stay sparse (no rows). Absent chunk with a
        // NONZERO declared fill_value must materialize fill-valued tiles —
        // skipping would silently decode the store as zeros.
        if (absent && m.fillValue == 0.0) Iterator.empty
        else {
          val full: Array[Double] =
            if (absent) null
            else {
              val in = fsT.open(p)
              val stored = try {
                val bos = new java.io.ByteArrayOutputStream()
                val buf = new Array[Byte](65536)
                var n = in.read(buf)
                while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
                bos.toByteArray
              } finally in.close()
              Zarr.decodeChunk(stored, m)
            }
          val h = math.min(chY, shapeY - ty * chY)
          val w = math.min(chX, shapeX - tx * chX)
          for {
            ci <- (0 until chC).iterator if cc * chC + ci < shapeC
            zi <- (0 until chZ).iterator if zz * chZ + zi < shapeZ
          } yield {
            val px = new Array[Double](h * w)
            if (absent) java.util.Arrays.fill(px, m.fillValue)
            else {
              var yy = 0
              while (yy < h) {
                var xx = 0
                while (xx < w) {
                  px(yy * w + xx) = full(((ci * chZ + zi) * chY + yy) * chX + xx)
                  xx += 1
                }
                yy += 1
              }
            }
            if (hasZ) Row(s, cc * chC + ci, zz * chZ + zi, ty, tx, h, w, px.toSeq)
            else Row(s, cc * chC + ci, ty, tx, h, w, px.toSeq)
          }
        }
      }
    }
    (spark.createDataFrame(rows, if (hasZ) Tile3DSchema else TileSchema), meta)
  }
}
