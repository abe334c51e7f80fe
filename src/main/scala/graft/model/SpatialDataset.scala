package graft.model

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOpen
import java.nio.charset.StandardCharsets

/** One element = manifest entry + its DataFrame(s).
  *
  * Data layout per kind (SURVEY.md §1.5):
  *  - points:  x,y[,z]: Double + payload columns (Parquet-backed, lazy)
  *  - shapes:  index: Long, geometry: Binary (WKB), geom_type: String,
  *             radius: Double?, minx,miny,maxx,maxy: Double (precomputed bbox)
  *  - labels:  long-form [z: Int,] y: Int, x: Int, label: Long
  *  - images:  tiled: scale,c,tile_y,tile_x,h,w: Int, px: Array[Double]
  *  - tables:  `data` = obs (regionKey/instanceKey cols + annotations),
  *             `aux("X")` = long-form (instance cols, var_name, value)
  */
final case class SpatialElement(
    meta: ElementMeta,
    data: DataFrame,
    aux: Map[String, DataFrame] = Map.empty) {
  def obs: DataFrame = data
  def x: DataFrame = aux.getOrElse("X",
    sys.error(s"element '${meta.name}' has no X matrix"))
}

/** The container: a lightweight manifest + named lazy DataFrames per element.
  * Spark-native re-expression of the reference's `SpatialData` class
  * (`_core/spatialdata.py:61`): all data stays distributed/lazy; only the
  * manifest lives on the driver.
  */
final class SpatialDataset(
    val spark: SparkSession,
    val manifest: GraftManifest,
    val elementData: Map[String, SpatialElement]) {

  def element(name: String): SpatialElement =
    elementData.getOrElse(name, sys.error(s"no element named '$name'"))

  def apply(name: String): DataFrame = element(name).data

  private def kindMap(kind: ElementKind): Map[String, SpatialElement] =
    elementData.filter(_._2.meta.kind == kind)

  def images: Map[String, SpatialElement] = kindMap(ElementKind.Images)
  def labels: Map[String, SpatialElement] = kindMap(ElementKind.Labels)
  def points: Map[String, SpatialElement] = kindMap(ElementKind.Points)
  def shapes: Map[String, SpatialElement] = kindMap(ElementKind.Shapes)
  def tables: Map[String, SpatialElement] = kindMap(ElementKind.Tables)

  def withElement(el: SpatialElement): SpatialDataset = {
    val newMeta = manifest.elements.filterNot(_.name == el.meta.name) :+ el.meta
    new SpatialDataset(spark, manifest.copy(elements = newMeta),
      elementData + (el.meta.name -> el))
  }

  def withoutElement(name: String): SpatialDataset =
    new SpatialDataset(spark,
      manifest.copy(elements = manifest.elements.filterNot(_.name == name)),
      elementData - name)

  /** Project the container to named elements; tables annotating removed
    * elements are kept but their annotation targets shrink
    * (reference `SpatialData.subset`, spatialdata.py:2269-2309).
    */
  def subset(names: Seq[String], filterTables: Boolean = true): SpatialDataset = {
    val keep = names.toSet
    val kept = manifest.elements.filter(e => keep(e.name))
    val tablesKept = if (filterTables) {
      manifest.ofKind(ElementKind.Tables).flatMap { t =>
        t.table match {
          case Some(ann) =>
            val still = ann.region.filter(keep)
            if (still.isEmpty) None
            else Some(t.copy(table = Some(ann.copy(region = still))))
          case None => Some(t)
        }
      }
    } else manifest.ofKind(ElementKind.Tables)
    val all = (kept.filterNot(_.kind == ElementKind.Tables) ++ tablesKept)
    new SpatialDataset(spark, manifest.copy(elements = all),
      elementData.filter { case (n, e) => all.exists(_.name == n) })
  }

  /** Keep only elements that have a transform into `cs`
    * (reference `filter_by_coordinate_system`, spatialdata.py:591-644).
    */
  def filterByCoordinateSystem(cs: String, filterTables: Boolean = true): SpatialDataset = {
    val names = manifest.elements
      .filter(e => e.kind != ElementKind.Tables && e.transforms.contains(cs))
      .map(_.name)
    subset(names, filterTables)
  }

  /** Resolve the transform of `element` into coordinate system `cs`. */
  def transformTo(element: String, cs: String): Transform =
    CsGraph.elementToCs(manifest, element, cs)

  /** Validate a table's annotation linkage against the container
    * (reference `validate_table_in_spatialdata`, spatialdata.py:173-214):
    * every annotated region must exist, and the instance-key dtype must
    * match the target element's id dtype. Returns the warning messages
    * (the reference warns, it does not raise); empty = valid.
    */
  def validateTableInSpatialData(tableName: String): Seq[String] = {
    val tbl = element(tableName)
    tbl.meta.table.toSeq.flatMap { ann =>
      ann.region.flatMap { r =>
        elementData.get(r) match {
          case None => Seq(s"The table is annotating '$r', which is not " +
            "present in the SpatialData object.")
          case Some(el) =>
            val instDt = tbl.data.schema(ann.instanceKey).dataType
            val targetDt = el.meta.kind match {
              case ElementKind.Shapes => Some(el.data.schema("index").dataType)
              case ElementKind.Labels => Some(el.data.schema("label").dataType)
              case ElementKind.Points => el.meta.attrs.get("instance_key")
                .filter(el.data.columns.contains).map(k => el.data.schema(k).dataType)
              case _ => None
            }
            targetDt match {
              case Some(dt) if dt != instDt =>
                Seq(s"instance_key column dtype ($instDt) of table " +
                  s"'$tableName' and id dtype ($dt) of element '$r' do not match.")
              case _ => Nil
            }
        }
      }
    }
  }

  /** Container-level freeform attrs (the reference's `sdata.attrs`,
    * persisted in the manifest). Returns a new container.
    */
  def withAttr(key: String, value: org.json4s.JValue): SpatialDataset =
    new SpatialDataset(spark, manifest.copy(freeAttrs = org.json4s.JObject(
      manifest.freeAttrs.obj.filterNot(_._1 == key) :+
        org.json4s.JField(key, value))), elementData)

  /** `get_attrs(key, flatten, sep)` (reference spatialdata.py:1755-1830):
    * the attrs entry under `key`, with nested mappings optionally flattened
    * to `parent<sep>child` keys. Missing keys raise (the reference's
    * KeyError). Use `org.json4s.jackson.JsonMethods.compact` for the
    * `return_as="json"` form and [[getAttrsDf]] for the dataframe form.
    */
  def getAttrs(key: String, flatten: Boolean = true,
      sep: String = "_"): org.json4s.JValue = {
    import org.json4s._
    val v = manifest.freeAttrs.obj.collectFirst { case JField(`key`, x) => x }
      .getOrElse(sys.error(s"The key '$key' was not found in sdata.attrs."))
    def flat(o: JObject, prefix: String): List[JField] =
      o.obj.flatMap { case JField(k, x) =>
        val nk = if (prefix.isEmpty) k else s"$prefix$sep$k"
        x match {
          case nested: JObject => flat(nested, nk)
          case leaf => List(JField(nk, leaf))
        }
      }
    v match {
      case o: JObject if flatten => JObject(flat(o, ""))
      case other => other
    }
  }

  /** The `return_as="df"` form: one row whose columns are the (optionally
    * flattened) mapping keys.
    */
  def getAttrsDf(key: String, flatten: Boolean = true,
      sep: String = "_"): DataFrame = {
    import org.json4s.jackson.JsonMethods
    val json = JsonMethods.compact(JsonMethods.render(getAttrs(key, flatten, sep)))
    val ds = spark.createDataset(Seq(json))(org.apache.spark.sql.Encoders.STRING)
    spark.read.json(ds)
  }

  private def withTransforms(name: String,
      f: Map[String, Transform] => Map[String, Transform]): SpatialDataset = {
    val el = element(name)
    val newMeta = el.meta.copy(transforms = f(el.meta.transforms))
    new SpatialDataset(spark,
      manifest.copy(elements = manifest.elements.map(e =>
        if (e.name == name) newMeta else e)),
      elementData + (name -> el.copy(meta = newMeta)))
  }

  /** Set/replace the transform of `element` into `cs` (reference
    * `set_transformation`, transformations/operations.py:21-88; default
    * coordinate system "global").
    */
  def setTransformation(element: String, t: Transform,
      cs: String = "global"): SpatialDataset =
    withTransforms(element, _ + (cs -> t))

  /** The STORED transform of `element` into `cs` — no graph traversal
    * (reference `get_transformation`, operations.py:91-131; missing cs
    * raises like the reference's ValueError). For cross-cs resolution use
    * [[transformTo]].
    */
  def getTransformation(element: String, cs: String = "global"): Transform = {
    val ts = this.element(element).meta.transforms
    ts.getOrElse(cs, sys.error(
      s"Transformation to '$cs' not found in element '$element'"))
  }

  /** Remove the transform of `element` into `cs` (reference
    * `remove_transformation`, operations.py:134-171).
    */
  def removeTransformation(element: String, cs: String = "global"): SpatialDataset = {
    require(this.element(element).meta.transforms.contains(cs),
      s"Transformation to '$cs' not found in element '$element'")
    withTransforms(element, _ - cs)
  }

  /** Drop every element's transform into `cs` (reference
    * `remove_transformations_to_coordinate_system`, operations.py:174-197).
    */
  def removeTransformationsToCoordinateSystem(cs: String): SpatialDataset = {
    val newEls = manifest.elements.map(e => e.copy(transforms = e.transforms - cs))
    new SpatialDataset(spark, manifest.copy(elements = newEls),
      elementData.map { case (n, el) =>
        n -> el.copy(meta = newEls.find(_.name == n).get)
      })
  }

  /** Rename coordinate systems (collision-safe two-phase rename,
    * reference spatialdata.py:721-778).
    */
  def renameCoordinateSystems(renames: Map[String, String]): SpatialDataset = {
    val existing = manifest.coordinateSystems.toSet
    renames.keys.foreach(k => require(existing(k), s"unknown cs '$k'"))
    val newEls = manifest.elements.map { e =>
      e.copy(transforms = e.transforms.map { case (cs, t) =>
        renames.getOrElse(cs, cs) -> t
      })
    }
    new SpatialDataset(spark, manifest.copy(elements = newEls),
      elementData.map { case (n, el) =>
        n -> el.copy(meta = newEls.find(_.name == n).get)
      })
  }

  /** Persist: one parquet dir per element under `root/{kind}/{name}/` +
    * `manifest.json` (zstd parquet, mirroring the reference's compressed
    * Zarr layout, spatialdata.py:1108-1203).
    */
  def write(root: String): Unit = {
    elementData.values.foreach(el => SpatialDataset.writeElement(el, root))
    SpatialDataset.writeManifest(spark, manifest, root)
  }

  /** Incremental per-element write (reference `write_element`,
    * spatialdata.py:1286-1375).
    */
  def writeElement(name: String, root: String): Unit = {
    SpatialDataset.writeElement(element(name), root)
    SpatialDataset.writeManifest(spark, manifest, root)
  }

  /** Metadata-only update: rewrite the manifest without touching data
    * (reference `write_metadata`/`write_transformations`,
    * spatialdata.py:1544-1647).
    */
  def writeMetadata(root: String): Unit =
    SpatialDataset.writeManifest(spark, manifest, root)

  /** Update an image element's channel names (`set_channel_names`,
    * reference models/_utils.py:277-308 / spatialdata.py:289-309) —
    * metadata-only, the data is untouched.
    */
  def setChannelNames(name: String, channels: Seq[String]): SpatialDataset = {
    val el = element(name)
    require(el.meta.kind == ElementKind.Images,
      s"setChannelNames: '$name' is not an image element")
    withElement(el.copy(meta = el.meta.copy(channelNames = channels)))
  }

  /** Remove an element's data directory from a written container and drop
    * it from the persisted manifest (reference `delete_element_from_disk`,
    * spatialdata.py:1376-1464). Returns the container without the element;
    * the in-memory instance this was called on is unchanged.
    */
  def deleteElementFromDisk(name: String, root: String): SpatialDataset = {
    val m = manifest.element(name) // fails fast on unknown names
    val dir = new Path(SpatialDataset.elementDir(root, m))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    val updated = withoutElement(name)
    SpatialDataset.writeManifest(spark, updated.manifest, root)
    updated
  }
}

object SpatialDataset {

  def apply(spark: SparkSession, elements: Seq[SpatialElement],
      attrs: Map[String, String] = Map.empty): SpatialDataset = {
    val manifest = GraftManifest(GraftManifest.CurrentVersion, elements.map(_.meta), attrs)
    new SpatialDataset(spark, manifest, elements.map(e => e.meta.name -> e).toMap)
  }

  private[model] def elementDir(root: String, m: ElementMeta): String =
    s"$root/${m.kind.dirName}/${m.name}"

  private[model] def writeElement(el: SpatialElement, root: String): Unit = {
    val dir = elementDir(root, el.meta)
    val w = el.data.write.mode("overwrite")
      .option("compression", "zstd")
    if (el.meta.kind == ElementKind.Tables) {
      w.parquet(s"$dir/obs")
      el.aux.get("X").foreach(_.write.mode("overwrite")
        .option("compression", "zstd").parquet(s"$dir/X"))
    } else {
      w.parquet(s"$dir/data")
    }
  }

  private[model] def writeManifest(spark: SparkSession, m: GraftManifest, root: String): Unit = {
    val p = new Path(s"$root/manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(GraftManifest.toJson(m).getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a container: manifest parse + lazy parquet open per element
    * (reference `SpatialData.read`, spatialdata.py:1853-1882), with no
    * Spark job: each element's schema comes from one parquet footer read
    * on the driver ([[ParquetOpen.read]]). `selection` restricts to named
    * elements without touching the rest (partial read,
    * `_io/io_zarr.py:33-83`).
    */
  def read(spark: SparkSession, root: String, selection: Option[Seq[String]] = None): SpatialDataset = {
    val p = new Path(s"$root/manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    val manifest0 = GraftManifest.fromJson(json)
    val manifest = selection match {
      case Some(names) =>
        manifest0.copy(elements = manifest0.elements.filter(e => names.contains(e.name)))
      case None => manifest0
    }
    val els = manifest.elements.map { m =>
      val dir = elementDir(root, m)
      val el =
        if (m.kind == ElementKind.Tables) {
          val obs = ParquetOpen.read(spark, s"$dir/obs")
          val xPath = new Path(s"$dir/X")
          val aux =
            if (fs.exists(xPath)) Map("X" -> ParquetOpen.read(spark, s"$dir/X"))
            else Map.empty[String, DataFrame]
          SpatialElement(m, obs, aux)
        } else SpatialElement(m, ParquetOpen.read(spark, s"$dir/data"))
      m.name -> el
    }.toMap
    new SpatialDataset(spark, manifest, els)
  }
}
