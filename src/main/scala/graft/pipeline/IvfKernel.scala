package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** A model table held on the driver: vectors of one `width` sorted by
  * (group, id) and flattened; group g is entries `[start(g), start(g+1))`.
  * The centroids are one group, a PQ codebook has one per subspace.
  */
final case class IvfTable(ids: Array[Long], flat: Array[Double],
    start: Array[Int], width: Int) {
  def groups: Int = start.length - 1
  override def toString: String = s"IvfTable($groups groups, ${ids.length} x $width)"
}

/** IVF-PQ encoding kernel (Jégou, Douze & Schmid, TPAMI 2011), invoked via
  * `StaticInvoke` (the [[AdcKernel]] pattern): a vector's nearest cell and
  * m PQ codes in one codegen'd static call per row, against model tables
  * collected on the driver once per operator call and carried in the plan
  * as values — encoding is one projection, no model join or aggregate.
  *
  * Same numbers as a `min(struct(d, id))` argmin: Σ (vᵢ−cᵢ)² folds left to
  * right from 0.0 (the [[graft.functions.VecDist2]] order); the cell
  * minimises the raw distance, a code its [[TextAnalysis.round6]] snap;
  * doubles compare as Spark orders them, ties go to the lower id.
  * Refusals: model side on the driver before any job ([[table]]), row
  * side here (null vector, width mismatch, null element). A vector wider
  * than `m*subDim` encodes from its first `m*subDim` dims.
  */
object IvfKernel {

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** Entry of group `g` nearest to `v[off, off + width)`, distance to `ds(slot)`. */
  private def argmin(v: ArrayData, t: IvfTable, g: Int, off: Int, snap: Boolean,
      op: String, ds: Array[Double], slot: Int): Int = {
    var i = off
    while (i < off + t.width) {
      if (v.isNullAt(i)) fail(s"$op: null element at index $i (vectors must be dense)")
      i += 1
    }
    var best = -1
    var e = t.start(g)
    while (e < t.start(g + 1)) {
      var d = 0.0
      i = 0
      while (i < t.width) {
        val x = v.getDouble(off + i) - t.flat(e * t.width + i)
        d += x * x
        i += 1
      }
      if (snap) d = Math.floor(d * 1e6 + 0.5).toLong / 1e6
      if (best < 0 || SQLOrderingUtil.compareDoubles(d, ds(slot)) < 0) { best = e; ds(slot) = d }
      e += 1
    }
    best
  }

  private def cell(v: ArrayData, c: IvfTable, ds: Array[Double]): Long = {
    if (v == null) fail("ivfAssign: null embedding vector — filter null embeddings upstream")
    if (v.numElements() != c.width)
      fail(s"ivfAssign: vector width mismatch (${v.numElements()} vs ${c.width} dims)")
    c.ids(argmin(v, c, 0, 0, snap = false, "ivfAssign", ds, 0))
  }

  private def codes(v: ArrayData, cb: IvfTable, ds: Array[Double]): Array[Long] = {
    if (v == null) fail("pqEncode: null embedding vector — filter null embeddings upstream")
    Array.tabulate(cb.groups) { s =>
      val off = s * cb.width
      if (v.numElements() < off + cb.width)
        fail(s"pqEncode: vector width mismatch (${math.max(0, v.numElements() - off)} " +
          s"vs ${cb.width} dims)")
      cb.ids(argmin(v, cb, s, off, snap = true, "pqEncode", ds, s))
    }
  }

  /** (cell, dist2): the nearest centroid and its raw squared distance. */
  def assign(v: ArrayData, c: IvfTable): InternalRow = {
    val ds = new Array[Double](1)
    new GenericInternalRow(Array[Any](cell(v, c, ds), ds(0)))
  }

  /** (code_id, dist2) per subspace, position = sub. */
  def encode(v: ArrayData, cb: IvfTable): ArrayData = {
    val ds = new Array[Double](cb.groups)
    val cs = codes(v, cb, ds)
    new GenericArrayData(Array.tabulate[Any](cb.groups)(s =>
      new GenericInternalRow(Array[Any](cs(s), ds(s)))))
  }

  /** (cell, codes): the index row of `v`. */
  def index(v: ArrayData, c: IvfTable, cb: IvfTable): InternalRow =
    new GenericInternalRow(Array[Any](cell(v, c, new Array(1)),
      UnsafeArrayData.fromPrimitiveArray(codes(v, cb, new Array(cb.groups)))))

  val AssignType: DataType = StructType.fromDDL("cell BIGINT NOT NULL, dist2 DOUBLE NOT NULL")
  val EncodeType: DataType = ArrayType(StructType.fromDDL(
    "code_id BIGINT NOT NULL, dist2 DOUBLE NOT NULL"), containsNull = false)
  val IndexType: DataType = StructType.fromDDL("cell BIGINT NOT NULL, codes ARRAY<BIGINT> NOT NULL")

  /** The type of id column `c`, refused unless integral (ids order as
    * longs); callers check it before collecting a table.
    */
  def idType(df: DataFrame, c: String, op: String): DataType = df.schema(c).dataType match {
    case t @ (ByteType | ShortType | IntegerType | LongType) => t
    case t => fail(s"$op: $c must be an integral id, got ${t.simpleString}")
  }

  /** The (group, id, vector) rows of `df` with group in `0 until groups`
    * (others are never used) as a table, None when there are none. Refuses
    * nulls, a vector not `width` wide (default: the first one's width) and
    * a group without entries.
    */
  private def table(df: DataFrame, group: Column, id: String, vec: String,
      groups: Int, width: Option[Int], op: String, what: String): Option[IvfTable] = {
    val rows = df.select(group.cast("long"), col(id).cast("long"),
        col(vec).cast("array<double>")).collect().map { r =>
        require(!r.anyNull, s"$op: null $what key or vector")
        val v = r.getSeq[java.lang.Double](2)
        require(!v.contains(null),
          s"$op: null element in $what ${r.getLong(1)} (vectors must be dense)")
        (r.getLong(0), r.getLong(1), v.map(_.doubleValue).toArray)
      }.filter(r => r._1 >= 0 && r._1 < groups).sortBy(r => (r._1, r._2))
    rows.headOption.map { case (_, _, v0) =>
      val w = width.getOrElse(v0.length)
      rows.foreach(r => require(r._3.length == w,
        s"$op: $what width mismatch (${r._3.length} vs $w dims)"))
      val counts = (0 until groups).map(g => rows.count(_._1 == g))
      require(!counts.contains(0), s"$op: no $what entries for sub " +
        s"${counts.indices.filter(counts(_) == 0).mkString(", ")} (m = $groups)")
      IvfTable(rows.map(_._2), rows.flatMap(_._3), counts.scanLeft(0)(_ + _).toArray, w)
    }
  }

  /** Centroid table (idCol, vecCol): one group. */
  def centroids(df: DataFrame, idCol: String, vecCol: String): Option[IvfTable] =
    table(df, lit(0L), idCol, vecCol, 1, None, "ivfAssign", "centroid")

  /** Codebook (sub, code_id, subvec): group = sub. */
  def codebook(df: DataFrame, m: Int, subDim: Int): Option[IvfTable] = {
    require(m >= 1 && subDim >= 1, s"pqEncode: m and subDim must be >= 1, got $m, $subDim")
    table(df, col("sub"), "code_id", "subvec", m, Some(subDim), "pqEncode", "codebook")
  }

  /** `keep` plus `__k` = `fn(vecCol, tables…)`; no rows when a table is empty. */
  def project(df: DataFrame, keep: Seq[Column], fn: String, dt: DataType,
      vecCol: String, tables: Option[IvfTable]*): DataFrame =
    if (tables.exists(_.isEmpty))
      df.select(keep :+ lit(null).cast(dt).as("__k"): _*).where(lit(false))
    else df.select(keep :+ Bridge.staticInvoke(Class.forName("graft.pipeline.IvfKernel"), dt, fn,
      col(vecCol).cast("array<double>") +:
        tables.flatten.map(t => Bridge.column(Literal(t, ObjectType(classOf[IvfTable])))),
      ArrayType(DoubleType) +: tables.map(_ => ObjectType(classOf[IvfTable])),
      // not null-propagating: the kernel refuses a null vector by name
      returnNullable = false, propagateNull = false).as("__k"): _*)
}
