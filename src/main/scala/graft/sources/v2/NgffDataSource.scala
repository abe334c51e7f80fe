package graft.sources.v2

import java.util

import graft.sources.{NgffRaster, Zarr}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 connector for OME-NGFF zarr rasters:
  * `spark.read.format("ngff").load(groupDir)` exposes the multiscale
  * pyramid as the same tile table [[NgffRaster.read]] produces
  * (`scale, c[, z], tile_y, tile_x, h, w, px`) — but through Catalyst's
  * native scan surface, so the optimizer itself prunes work:
  *
  *   - '''chunk pruning''': comparison/equality/IN predicates on
  *     `scale`/`c`/`z`/`tile_y`/`tile_x` reach
  *     [[SupportsPushDownFilters]] and eliminate chunk reads at PLANNING
  *     time — `WHERE scale = 0 AND tile_y = 3` opens only that row of
  *     chunk files. Filters are also left in the post-scan plan
  *     (returned as residuals), so partially-prunable predicates stay
  *     exactly correct.
  *   - '''column pruning''': when `px` is not required
  *     ([[SupportsPushDownRequiredColumns]]), the reader never opens a
  *     chunk file — a `count(*)`/coordinate-only scan touches pure
  *     filesystem metadata.
  *
  * Reuses the v1 reader's wire machinery ([[Zarr.decodeChunk]]: blosc /
  * zlib / gzip / zstd, C-order, fill_value materialization) inside a
  * [[PartitionReader]]; partitions are contiguous chunk runs, mirroring
  * the v1 `parallelize` slicing (FS locality, no shuffle).
  *
  * Mirrors `spatialdata._io.io_raster._read_multiscale`
  * (io_raster.py:162) as a Spark-native source rather than an eager load.
  */
class NgffDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "ngff"

  // writes hand the dataframe's schema straight to getTable, so a write
  // to a not-yet-existing store never needs inferSchema
  override def supportsExternalMetadata(): Boolean = true

  private def dirOf(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).orElse(Option(options.get("group")))
    require(p.isDefined, "ngff: pass the zarr group dir via .load(path)")
    p.get
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val meta = NgffRaster.readMeta(SparkSession.active, dirOf(options))
    if (meta.axes.contains("z")) NgffRaster.Tile3DSchema else NgffRaster.TileSchema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new NgffTable(properties.get("path") match {
      case null => properties.get("group")
      case p => p
    }, Option(schema))
}

final class NgffTable(dir: String, providedSchema: Option[StructType] = None)
    extends Table with SupportsRead with SupportsWrite {
  private lazy val meta = NgffRaster.readMeta(SparkSession.active, dir)

  override def name(): String = s"ngff(`$dir`)"

  override def schema(): StructType = providedSchema.getOrElse {
    if (meta.axes.contains("z")) NgffRaster.Tile3DSchema else NgffRaster.TileSchema
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NgffScanBuilder(dir, meta, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new NgffWriteBuilder(dir, info)
}

/** Write side: each task writes its chunk files through the same
  * [[NgffRaster.ChunkWriter]] as [[NgffRaster.write]] and reports the
  * extents it wrote; the driver-side `commit` folds them into the array
  * shapes with the same [[NgffRaster.writeGroupMetadata]] and writes the
  * group metadata LAST — so the standard DSv2 contract (no readable store
  * until commit, abort leaves no metadata) falls out naturally.
  * `mode("overwrite")` maps to truncate (clear the group dir up front);
  * v2 path writes reject ErrorIfExists/Ignore by Spark's own rules.
  *
  * Options: `tileSize` (required, the y/x chunk extent tiles were built
  * with), `name` (multiscale name, default "image"), `channels`
  * (comma-separated omero labels), `labels` (boolean, image-label store).
  */
final class NgffWriteBuilder(dir: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new NgffWrite(dir, info, doTruncate)
}

final class NgffWrite(dir: String, info: LogicalWriteInfo, doTruncate: Boolean)
    extends Write with BatchWrite {

  private val schema = info.schema()
  private val expected2d = NgffRaster.TileSchema.fieldNames.toSeq
  private val expected3d = NgffRaster.Tile3DSchema.fieldNames.toSeq
  require(schema.fieldNames.toSeq == expected2d ||
    schema.fieldNames.toSeq == expected3d,
    s"ngff write expects the tile schema ${expected2d.mkString("(", ", ", ")")} " +
      s"or its 3D form; got ${schema.fieldNames.mkString("(", ", ", ")")}")
  private val layout = {
    val t = info.options.get("tilesize")
    require(t != null, "ngff write: .option(\"tileSize\", n) is required")
    val axes = if (schema.fieldNames.contains("z")) Seq("c", "z", "y", "x") else Seq("c", "y", "x")
    NgffRaster.ChunkLayout(dir, t.toInt, axes, "<f8", "blosc")
  }

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val gd = new Path(dir)
    val fs = gd.getFileSystem(conf)
    if (doTruncate && fs.exists(gd)) fs.delete(gd, true)
    fs.mkdirs(gd)
    NgffWriterFactory(layout, new SerializableConfiguration(conf))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val opts = info.options
    val channels = Option(opts.get("channels"))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val fs = new Path(dir).getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    NgffRaster.writeGroupMetadata(fs, layout,
      messages.toSeq.collect { case m: NgffExtentsMessage => m.extents }.flatten,
      Option(opts.get("name")).getOrElse("image"), Map("global" -> graft.model.IdentityT),
      channels, Option(opts.get("labels")).exists(_.toBoolean))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // no metadata was written, so the store never became readable; leave
    // partial chunk files for the caller to inspect or truncate on retry
  }
}

final case class NgffWriterFactory(layout: NgffRaster.ChunkLayout,
    conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new NgffDataWriter(new NgffRaster.ChunkWriter(layout, conf.value))
}

/** scale -> (maxc, maxz, maxY, maxX) extents this task wrote. */
final case class NgffExtentsMessage(extents: NgffRaster.Extents) extends WriterCommitMessage

final class NgffDataWriter(chunks: NgffRaster.ChunkWriter) extends DataWriter[InternalRow] {
  override def write(row: InternalRow): Unit = chunks.write(row)
  override def commit(): WriterCommitMessage = NgffExtentsMessage(chunks.extents)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}

final class NgffScanBuilder(dir: String, meta: NgffRaster.NgffMeta,
    fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private val prunable = Set("scale", "c", "z", "tile_y", "tile_x")
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema

  private def colOf(f: Filter): Option[String] = f match {
    case EqualTo(a, _) => Some(a)
    case GreaterThan(a, _) => Some(a)
    case GreaterThanOrEqual(a, _) => Some(a)
    case LessThan(a, _) => Some(a)
    case LessThanOrEqual(a, _) => Some(a)
    case In(a, _) => Some(a)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => colOf(f).exists(prunable.contains))
    // every filter stays a residual: pruning is chunk-granular (a pushed
    // `c = 1` still needs row-level application inside a multi-channel
    // chunk), and non-prunable predicates were never consumed at all
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new NgffScan(dir, meta, required, pushed)
}

final class NgffScan(dir: String, meta: NgffRaster.NgffMeta,
    required: StructType, pushed: Array[Filter]) extends Scan with Batch {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"ngff $dir, PushedChunkFilters: [${pushed.mkString(", ")}]"

  /** [lo, hi] bounds per prunable column, intersected over the pushed
    * conjuncts; IN lists become their min..max envelope plus an exact set.
    */
  private def bounds(name: String): (Long, Long, Option[Set[Long]]) = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var inSet: Option[Set[Long]] = None
    def num(v: Any): Option[Long] = v match {
      case n: Number => Some(n.longValue())
      case _ => None
    }
    pushed.foreach {
      case EqualTo(a, v) if a == name => num(v).foreach { x => lo = lo max x; hi = hi min x }
      case GreaterThan(a, v) if a == name => num(v).foreach { x => lo = lo max (x + 1) }
      case GreaterThanOrEqual(a, v) if a == name => num(v).foreach { x => lo = lo max x }
      case LessThan(a, v) if a == name => num(v).foreach { x => hi = hi min (x - 1) }
      case LessThanOrEqual(a, v) if a == name => num(v).foreach { x => hi = hi min x }
      case In(a, vs) if a == name =>
        val xs = vs.flatMap(num).toSet
        inSet = Some(inSet.fold(xs)(_ intersect xs))
      case _ =>
    }
    (lo, hi, inSet)
  }

  private def rangeOk(name: String, valueLo: Long, valueHi: Long): Boolean = {
    val (lo, hi, inSet) = bounds(name)
    valueHi >= lo && valueLo <= hi &&
      inSet.forall(s => (valueLo to valueHi).exists(s.contains))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val axB = meta.axes
    def dimOf(m: Zarr.ArrayMeta, ax: String, from: Zarr.ArrayMeta => Seq[Int],
        absent: Int) = axB.indexOf(ax) match {
      case -1 => absent
      case i => from(m)(i)
    }
    val tasks = meta.scales.indices.flatMap { s =>
      val sc = meta.scales(s)
      if (!rangeOk("scale", s, s)) Nil
      else {
        val grid = sc.meta.gridShape
        def g(ax: String) = axB.indexOf(ax) match {
          case -1 => 1
          case i => grid(i)
        }
        val chC = dimOf(sc.meta, "c", _.chunks, 1)
        val chZ = dimOf(sc.meta, "z", _.chunks, 1)
        val shC = dimOf(sc.meta, "c", _.shape, 1)
        val shZ = dimOf(sc.meta, "z", _.shape, 1)
        for {
          cc <- 0 until g("c")
          if rangeOk("c", cc.toLong * chC, math.min((cc + 1L) * chC, shC.toLong) - 1)
          zz <- 0 until g("z")
          if rangeOk("z", zz.toLong * chZ, math.min((zz + 1L) * chZ, shZ.toLong) - 1)
          ty <- 0 until g("y") if rangeOk("tile_y", ty, ty)
          tx <- 0 until g("x") if rangeOk("tile_x", tx, tx)
        } yield NgffChunkTask(s, sc.path, cc, zz, ty, tx)
      }
    }
    val spark = SparkSession.active
    val slices = math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism))
    // contiguous runs, like the v1 reader's parallelize slicing
    tasks.zipWithIndex.groupBy(_._2 * slices / math.max(1, tasks.size))
      .toSeq.sortBy(_._1)
      .map { case (_, ts) => NgffInputPartition(ts.map(_._1).toArray): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    NgffReaderFactory(dir, meta.axes,
      meta.scales.map(s => s.path -> s.meta).toMap,
      required.fieldNames,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
  }
}

final case class NgffChunkTask(scale: Int, path: String, cc: Int, zz: Int,
    ty: Int, tx: Int)

final case class NgffInputPartition(tasks: Array[NgffChunkTask]) extends InputPartition

final case class NgffReaderFactory(dir: String, axes: Seq[String],
    metas: Map[String, Zarr.ArrayMeta], fields: Array[String],
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new NgffPartitionReader(dir, axes, metas, fields, conf,
      partition.asInstanceOf[NgffInputPartition].tasks)
}

final class NgffPartitionReader(dir: String, axes: Seq[String],
    metas: Map[String, Zarr.ArrayMeta], fields: Array[String],
    conf: SerializableConfiguration, tasks: Array[NgffChunkTask])
    extends PartitionReader[InternalRow] {

  private val needPx = fields.contains("px")
  private lazy val fs = new Path(dir).getFileSystem(conf.value)

  private val rows: Iterator[InternalRow] = tasks.iterator.flatMap { t =>
    val m = metas(t.path)
    def dim(ax: String, from: Seq[Int], absent: Int) = axes.indexOf(ax) match {
      case -1 => absent
      case i => from(i)
    }
    val (shapeC, shapeZ) = (dim("c", m.shape, 1), dim("z", m.shape, 1))
    val (shapeY, shapeX) = (dim("y", m.shape, 1), dim("x", m.shape, 1))
    val (chC, chZ) = (dim("c", m.chunks, 1), dim("z", m.chunks, 1))
    val (chY, chX) = (dim("y", m.chunks, 1), dim("x", m.chunks, 1))
    val lead = Map("c" -> t.cc, "z" -> t.zz, "y" -> t.ty, "x" -> t.tx)
    val key = m.chunkKey(axes.map(lead))
    val p = new Path(s"$dir/${t.path}/$key")
    val absent = !fs.exists(p)
    if (absent && m.fillValue == 0.0) Iterator.empty
    else {
      val full: Array[Double] =
        if (absent || !needPx) null
        else {
          val in = fs.open(p)
          val stored = try {
            val bos = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](65536)
            var n = in.read(buf)
            while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
            bos.toByteArray
          } finally in.close()
          Zarr.decodeChunk(stored, m)
        }
      val h = math.min(chY, shapeY - t.ty * chY)
      val w = math.min(chX, shapeX - t.tx * chX)
      for {
        ci <- (0 until chC).iterator if t.cc * chC + ci < shapeC
        zi <- (0 until chZ).iterator if t.zz * chZ + zi < shapeZ
      } yield {
        val px: GenericArrayData =
          if (!needPx) null
          else {
            val arr = new Array[Double](h * w)
            if (absent) java.util.Arrays.fill(arr, m.fillValue)
            else {
              var yy = 0
              while (yy < h) {
                var xx = 0
                while (xx < w) {
                  arr(yy * w + xx) = full(((ci * chZ + zi) * chY + yy) * chX + xx)
                  xx += 1
                }
                yy += 1
              }
            }
            new GenericArrayData(arr)
          }
        val values: Array[Any] = fields.map {
          case "scale" => t.scale
          case "c" => t.cc * chC + ci
          case "z" => t.zz * chZ + zi
          case "tile_y" => t.ty
          case "tile_x" => t.tx
          case "h" => h
          case "w" => w
          case "px" => px
          case other => throw new IllegalArgumentException(s"unknown column $other")
        }
        new GenericInternalRow(values): InternalRow
      }
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
