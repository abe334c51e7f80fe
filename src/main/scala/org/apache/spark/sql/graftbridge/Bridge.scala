package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

/** Minimal bridge into `private[sql]` surface: Column <-> Expression and a
  * `StaticInvoke` builder so graft's spatial functions compile to plain
  * static calls inside whole-stage codegen.
  */
object Bridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Integer division (SQL `div`) — `/` on long columns is double division
    * and loses low digits at int64 magnitudes.
    */
  def integralDivide(a: Column, b: Column): Column =
    ExpressionUtils.column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Rebuild a DataFrame from a logical plan (Dataset.ofRows is
    * private[sql]) — used by Bench to drop the oracle-only top-level sort.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Clone a session: same SparkContext, SharedState (catalog, cache
    * manager) and a COPY of the current SQLConf — conf mutations on the
    * clone never leak back to the parent (`cloneSession` is
    * `private[sql]`; this bridge package lives inside
    * `org.apache.spark.sql`). The isolation mechanism graft's iterative
    * loops use to scope their AQE/shuffle-partition overrides away from
    * concurrent queries on the caller's session.
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Re-bind a DataFrame to another session over the same SparkContext:
    * logical plans are session-agnostic, so actions on the result plan
    * under `to`'s conf; cached fragments still hit (the CacheManager is
    * in SharedState and matches by canonicalized plan).
    */
  def rebind(df: org.apache.spark.sql.DataFrame,
      to: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    ofRows(to, df.queryExecution.logical)

  /** Re-root `df` at a flat `LogicalRDD` leaf over its own physical rows.
    * The logical plan is what a `localCheckpoint` leaves (one leaf,
    * keeping the physical partitioning and the statistics), but nothing
    * is checkpointed: the leaf keeps its RDD lineage. At `level` NONE
    * nothing is stored, and every job that reads the leaf recomputes it
    * from the shuffles its plan ends on. Otherwise the rows are stored at
    * `level` as the compressed column batches `Dataset.persist` stores
    * (a deserialized copy of each row takes several times the space).
    * Lazy: the first job that reads the leaf computes (and stores) it,
    * but a broadcast inside `df`'s plan starts its job here, when the
    * plan is prepared.
    */
  def root(df: org.apache.spark.sql.DataFrame,
      level: org.apache.spark.storage.StorageLevel): Leaf = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val rows = ds.queryExecution.toRdd
    val sc = rows.sparkContext
    val (bytes, parts) = (sc.longAccumulator, sc.longAccumulator)
    val (rdd, stored) =
      if (level == org.apache.spark.storage.StorageLevel.NONE) (rows, None)
      else {
        val attrs = ds.queryExecution.executedPlan.output
        val conf = ds.sparkSession.sessionState.conf
        val ser = new org.apache.spark.sql.execution.columnar.DefaultCachedBatchSerializer
        // the batches' bytes and the partitions stored, counted as
        // `InMemoryRelation` counts them: the driver merges a task's
        // accumulators before its job returns
        val batches = ser.convertInternalRowToCachedBatch(rows, attrs, level, conf)
          .mapPartitions(it => it.map { b => bytes.add(b.sizeInBytes); b } ++ {
            parts.add(1); Iterator.empty })
          .persist(level)
        (ser.convertCachedBatchToInternalRow(batches, attrs, attrs, conf), Some(batches))
      }
    new Leaf(ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)),
      stored, bytes, parts)
  }

  /** A leaf from [[root]] and the column batches stored behind it. */
  final class Leaf private[Bridge] (val df: org.apache.spark.sql.DataFrame,
      stored: Option[org.apache.spark.rdd.RDD[_]],
      bytes: org.apache.spark.util.LongAccumulator,
      parts: org.apache.spark.util.LongAccumulator) {

    /** Drop the stored batches. A later read recomputes them through the
      * lineage, and can never fail the way a released checkpoint block does.
      */
    def release(): Unit = stored.foreach(_.unpersist(blocking = false))

    /** [[df]] planned with the bytes its batches take once a job has
      * stored every partition (the size a persisted frame reports to the
      * planner, so a small state can be broadcast), else [[df]] as planned
      * at the root.
      */
    def measured: org.apache.spark.sql.DataFrame = (for {
      b <- stored
      if parts.sum >= b.partitions.length
    } yield df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        ofRows(session, l.copy()(session, Some(
          org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes = bytes.sum)),
          Some(l.constraints)))
    }).getOrElse(df)
  }

  /** A `FunctionRegistry` entry for a Column-DSL function: SQL arguments
    * arrive as resolved child expressions, flow through the same Column
    * builder the Scala DSL uses, and lower back to the identical expression
    * tree — `spark.sql("st_area(geom)")` and `st.st_area(col)` produce the
    * same `StaticInvoke`, so the SQL surface inherits codegen for free.
    */
  def functionDescription(name: String, arity: Int,
      builder: Seq[Column] => Column): (
      org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) = {
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    val info = new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      "graft.functions.GraftFunctions", name)
    val fb = (children: Seq[Expression]) => {
      if (children.length != arity)
        throw new IllegalArgumentException(
          s"$name expects $arity arguments, got ${children.length}")
      // Eagerly lower the ColumnNode tree to catalyst expressions:
      // ExpressionUtils.expression defers via a ColumnNodeExpression
      // wrapper that the analyzer won't look into when returned from a
      // FunctionBuilder (it reaches codegen unresolved). The converter
      // emits real (possibly Unresolved*) catalyst nodes, which the
      // surrounding analysis then resolves normally.
      org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(
        builder(children.map(column)).node)
    }
    (ident, info, fb)
  }

  /** Register a Column-DSL function into an EXISTING session's registry
    * (the no-config path; `GraftSqlExtensions` is the spark.sql.extensions
    * path for sessions built with the config).
    */
  def registerColumnFunction(spark: org.apache.spark.sql.SparkSession,
      name: String, arity: Int, builder: Seq[Column] => Column): Unit = {
    val (ident, info, fb) = functionDescription(name, arity, builder)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, fb)
  }

  /** Unpersist the RDDs behind a checkpointed frame's `LogicalRDD` leaves.
    * `Dataset.unpersist` only talks to the CacheManager (`.persist()`
    * entries); a `localCheckpoint` persists at the RDD level, so its
    * storage-memory blocks survive both `unpersist` and
    * `catalog.clearCache` — this is the matching release. Safe on a lazy
    * checkpoint that never materialized (RDD.unpersist is a no-op then).
    */
  def unpersistRddLeaves(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Codegen-friendly static method call: `clazz.fn(args...)`. With
    * `propagateNull = false` the method is invoked even when an argument
    * is null (the kernel defines the null semantics itself — e.g.
    * [[graft.pipeline.TextKernel.bleuRow]] must reproduce the aggregation
    * form's `size(null) = -1` lengths rather than NULL out).
    */
  def staticInvoke(
      clazz: Class[_],
      dataType: DataType,
      fn: String,
      args: Seq[Column],
      inputTypes: Seq[DataType],
      returnNullable: Boolean,
      propagateNull: Boolean = true,
      deterministic: Boolean = true): Column =
    ExpressionUtils.column(StaticInvoke(
      clazz, dataType, fn,
      args.map(ExpressionUtils.expression),
      inputTypes,
      propagateNull = propagateNull,
      returnNullable = returnNullable,
      isDeterministic = deterministic))
}
