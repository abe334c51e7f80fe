package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[ScaleJoins]] is about WHERE rows meet, never WHICH rows meet: both
  * primitives must be row-for-row equal to the plain equi-join, and the
  * plan shapes they exist for (hot key scattered across salt buckets;
  * exchange-free join between co-bucketed tables) are pinned here.
  */
class ScaleJoinsSpec extends SparkTestBase {
  import spark.implicits._

  private def bigSkewed = Seq.tabulate(4000)(i =>
    (if (i % 4 != 0) 1L else (i % 97).toLong, i.toDouble))
    .toDF("k", "v")

  private def dim = Seq.tabulate(97)(i => (i.toLong, (i * 10).toDouble))
    .toDF("k", "w")

  test("saltedJoin equals the plain join row-for-row") {
    val plain = bigSkewed.join(dim, Seq("k"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum($"v" * $"w").as("s"))
      .orderBy("k").collect().toSeq
    val salted = ScaleJoins.saltedJoin(bigSkewed, dim, "k", salts = 8)
      .groupBy("k").agg(count(lit(1)).as("n"), sum($"v" * $"w").as("s"))
      .orderBy("k").collect().toSeq
    assert(salted === plain)
  }

  test("the hot key's rows actually spread across salt buckets") {
    val spread = bigSkewed.withColumn("salt", ScaleJoins.saltOf(bigSkewed, 8))
      .filter($"k" === 1L).select("salt").distinct().count()
    assert(spread > 4, s"hot key landed in only $spread of 8 salt buckets")
  }

  test("byte-identical rows of a hot key still spread (salt degeneracy fix)") {
    // 75% of rows are ONE verbatim-duplicate row — a pure content-hash salt
    // would put them all in a single bucket and the straggler returns
    val dupHeavy = Seq.tabulate(4000)(i =>
      if (i % 4 != 0) (1L, 42.0) else ((i % 97).toLong, i.toDouble))
      .toDF("k", "v")
    val spread = dupHeavy.withColumn("salt", ScaleJoins.saltOf(dupHeavy, 8))
      .filter($"k" === 1L && $"v" === 42.0).select("salt").distinct().count()
    assert(spread >= 4, s"identical hot rows landed in only $spread of 8 buckets")
    // and the join result is still exactly the plain join
    val plain = dupHeavy.join(dim, Seq("k"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum($"v" * $"w").as("s"))
      .orderBy("k").collect().toSeq
    val salted = ScaleJoins.saltedJoin(dupHeavy, dim, "k", salts = 8)
      .groupBy("k").agg(count(lit(1)).as("n"), sum($"v" * $"w").as("s"))
      .orderBy("k").collect().toSeq
    assert(salted === plain)
  }

  test("saltedJoin refuses a __salt column collision") {
    val bad = bigSkewed.withColumn("__salt", lit(0))
    val e = intercept[IllegalArgumentException] {
      ScaleJoins.saltedJoin(bad, dim, "k", 4)
    }
    assert(e.getMessage.contains("__salt"))
  }

  // AQE wraps finished stages in QueryStageExec LEAF nodes, so a tree
  // collect can't see inside them — the rendered string can
  private def finalPlanString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan.toString
  }

  test("bucketed join plans with no exchange under the join") {
    tempDir("graft-bucketed") { d =>
      val dir = d.toString
      val left = Seq.tabulate(5000)(i => (i.toLong % 400, i.toDouble)).toDF("k", "v")
      val right = Seq.tabulate(400)(i => (i.toLong, s"g${i % 7}")).toDF("k", "grp")
      ScaleJoins.writeBucketed(left, "graft_spec_left", "k", 8, s"$dir/l")
      ScaleJoins.writeBucketed(right, "graft_spec_right", "k", 8, s"$dir/r")
      try {
        // keep the join a SortMergeJoin so the exchange-free shape is visible
        val joined = spark.table("graft_spec_left")
          .join(spark.table("graft_spec_right").hint("merge"), Seq("k"))
        val want = left.join(right, Seq("k")).agg(sum($"v").as("s"), count(lit(1)))
          .collect().toSeq
        val got = joined.agg(sum($"v").as("s"), count(lit(1))).collect().toSeq
        assert(got === want)
        val plan = finalPlanString(joined)
        assert(plan.contains("SortMergeJoin"), s"expected a SortMergeJoin, got:\n$plan")
        assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
        assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
      } finally {
        spark.sql("DROP TABLE IF EXISTS graft_spec_left")
        spark.sql("DROP TABLE IF EXISTS graft_spec_right")
      }
    }
  }
}
