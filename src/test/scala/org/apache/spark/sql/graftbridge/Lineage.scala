package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD

/** Test access to the RDD operation scopes Spark keeps package-private. */
object Lineage {

  /** The name of every physical operator that built an RDD of `df`'s
    * physical lineage, followed through RDD-backed leaves: the loops in
    * `graft.pipeline.Iterate` re-root each round at one, so this covers
    * every round's plan, which the result's own physical plan no longer
    * shows. Operators fused by whole-stage codegen share one
    * `WholeStageCodegen` scope: turn `spark.sql.codegen.wholeStage` off
    * to see each one by its node name (`SortMergeJoin`,
    * `CartesianProduct`, `BroadcastNestedLoopJoin`).
    */
  def operators(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val seen = scala.collection.mutable.Set[Int]()
    val names = scala.collection.mutable.Set[String]()
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) {
      r.scope.foreach(s => names += s.name)
      r.dependencies.foreach(d => walk(d.rdd))
    }
    walk(df.queryExecution.toRdd)
    names.toSet
  }
}
