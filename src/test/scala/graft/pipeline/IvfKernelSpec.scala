package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._

/** IVF-PQ encoding through [[IvfKernel]]: [[Similarity.ivfAssign]],
  * [[Similarity.pqEncode]] and [[VectorIndex.buildIndex]] against a
  * plain-Scala reference with forced ties, the refusals, the plans (one
  * kernel projection, no model join or aggregate) and the job budget of an
  * index append.
  */
class IvfKernelSpec extends SparkTestBase {
  import spark.implicits._

  private val dims = 8
  private val m = 2
  private val subDim = 4

  // 0.25-grid vectors: exact distances, so equal distances (ties) happen
  private def grid(rng: scala.util.Random): Seq[Double] =
    Seq.fill(dims)(rng.nextInt(5) * 0.25)

  private case class Fixture(vecs: Seq[(Long, Seq[Double])],
      cents: Seq[(Long, Seq[Double])], codes: Seq[(Int, Long, Seq[Double])])

  /** Vectors, centroids with a copy of centroid 3 under the higher id 90,
    * and a codebook with a copy of each sub's first code under a higher id.
    */
  private def fixture(seed: Int): Fixture = {
    val rng = new scala.util.Random(seed)
    val vecs = (1 to 60).map(i => (i.toLong, grid(rng)))
    val cents = (1 to 6).map(i => (i.toLong, grid(rng)))
    val codes = for (s <- 0 until m; c <- 1 to 4)
      yield (s, (10 * s + c).toLong, grid(rng).take(subDim))
    Fixture(vecs, cents :+ (90L -> cents(2)._2),
      codes ++ (0 until m).map(s => (s, 50L + s, codes.find(_._1 == s).get._3)))
  }

  private def dist2(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) }
  private def round6(d: Double): Double = math.floor(d * 1e6 + 0.5).toLong / 1e6

  // argmin by (distance, id): the lower id wins a tie
  private def nearest(cands: Seq[(Long, Double)]): (Long, Double) =
    cands.minBy { case (id, d) => (d, id) }
  private def refAssign(f: Fixture, v: Seq[Double]): (Long, Double) =
    nearest(f.cents.map { case (id, c) => (id, dist2(v, c)) })
  private def refCodes(f: Fixture, v: Seq[Double]): Seq[(Long, Double)] =
    (0 until m).map { s =>
      val sv = v.slice(s * subDim, (s + 1) * subDim)
      nearest(f.codes.filter(_._1 == s).map { case (_, id, c) => (id, round6(dist2(sv, c))) })
    }

  // the vectors come from an RDD, so the kernel runs in tasks (a local
  // relation's projection is evaluated by the optimizer on the driver)
  private def vectorFrame(vecs: Seq[(Long, Seq[Double])]): DataFrame =
    spark.sparkContext.parallelize(vecs, 2).toDF("vec_id", "embedding")

  private def frames(f: Fixture): (DataFrame, DataFrame, DataFrame) = (
    vectorFrame(f.vecs),
    f.cents.toDF("centroid_id", "embedding"),
    f.codes.toDF("sub", "code_id", "subvec"))

  test("ivfAssign, pqEncode and buildIndex equal a plain-Scala reference, ties included") {
    for (seed <- Seq(3, 17, 29)) {
      val f = fixture(seed)
      val (vecs, cents, cb) = frames(f)
      // the fixture forces ties: some vector is nearest to the duplicated
      // centroid 3, and some subvector to a duplicated code
      assert(f.vecs.exists(v => refAssign(f, v._2)._1 == 3L), s"seed $seed: no cell tie")
      assert(f.vecs.exists(v => refCodes(f, v._2).exists(c => c._1 % 10 == 1)),
        s"seed $seed: no code tie")

      val assigned = Similarity.ivfAssign(vecs, cents)
        .as[(Long, Long, Double)].collect().toSet
      assert(assigned === f.vecs.map { case (id, v) =>
        val (c, d) = refAssign(f, v); (id, c, d) }.toSet, s"seed $seed")

      val encoded = Similarity.pqEncode(vecs, cb, m, subDim)
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(encoded === f.vecs.flatMap { case (id, v) =>
        refCodes(f, v).zipWithIndex.map { case ((c, d), s) => (id, s, c, d) } }.toSet,
        s"seed $seed")

      val index = VectorIndex.buildIndex(vecs, cents, cb, m, subDim)
        .as[(Long, Long, Seq[Long])].collect().toSet
      assert(index === f.vecs.map { case (id, v) =>
        (id, refAssign(f, v)._1, refCodes(f, v).map(_._1)) }.toSet, s"seed $seed")
    }
  }

  test("an empty model table gives an empty result") {
    val (vecs, cents, cb) = frames(fixture(3))
    val none = Similarity.ivfAssign(vecs, cents.limit(0))
    assert(none.isEmpty && none.columns.toSeq === Seq("vec_id", "centroid_id", "dist2"))
    assert(Similarity.pqEncode(vecs, cb.limit(0), m, subDim).isEmpty)
    assert(VectorIndex.buildIndex(vecs, cents.limit(0), cb, m, subDim).isEmpty)
    assert(VectorIndex.buildIndex(vecs, cents, cb.limit(0), m, subDim).isEmpty)
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  test("row-side refusals: null vector, width mismatch, null element") {
    val (_, cents, cb) = frames(fixture(3))
    def refuses(vec: Seq[java.lang.Double], want: String): Unit = {
      val bad = Seq((1L, vec)).toDF("vec_id", "embedding")
      for (df <- Seq(Similarity.ivfAssign(bad, cents),
          Similarity.pqEncode(bad, cb, m, subDim),
          VectorIndex.buildIndex(bad, cents, cb, m, subDim))) {
        val msg = messages(intercept[Exception](df.collect()))
        assert(msg.contains(want), msg)
      }
    }
    refuses(null, "null embedding vector — filter null embeddings upstream")
    val ivf = Seq.fill[java.lang.Double](6)(0.5)
    val bad = Seq((1L, ivf)).toDF("vec_id", "embedding")
    assert(messages(intercept[Exception](Similarity.ivfAssign(bad, cents).collect()))
      .contains("ivfAssign: vector width mismatch (6 vs 8 dims)"))
    assert(messages(intercept[Exception](Similarity.pqEncode(bad, cb, m, subDim).collect()))
      .contains("pqEncode: vector width mismatch (2 vs 4 dims)"))
    refuses(Seq[java.lang.Double](0.5, null) ++ Seq.fill[java.lang.Double](6)(0.5),
      "null element at index 1 (vectors must be dense)")
  }

  test("model-side refusals run on the driver, before any job") {
    val (vecs, cents, cb) = frames(fixture(3))
    def refuses(want: String)(call: => DataFrame): Unit = {
      val (jobs, _) = traced {
        val e = intercept[IllegalArgumentException](call)
        assert(e.getMessage.contains(want), e.getMessage)
      }
      assert(jobs === 0, s"'$want' ran $jobs jobs")
    }
    val mixed = (fixture(3).cents :+ (99L -> Seq(1.0, 2.0))).toDF("centroid_id", "embedding")
    refuses("ivfAssign: centroid width mismatch (2 vs 8 dims)")(
      Similarity.ivfAssign(vecs, mixed))
    refuses("pqEncode: codebook width mismatch (3 vs 4 dims)")(
      Similarity.pqEncode(vecs, cb.withColumn("subvec", slice(col("subvec"), 1, 3)), m, subDim))
    refuses("ivfAssign: centroid_id must be an integral id, got string")(
      VectorIndex.buildIndex(vecs, cents.withColumn("centroid_id",
        col("centroid_id").cast("string")), cb, m, subDim))
    // behaviour change: a codebook without codes for a subspace used to
    // encode short code arrays, which ADC then dropped as NULL — recall
    // lost without a word; it is refused now
    refuses("pqEncode: no codebook entries for sub 1 (m = 2)")(
      VectorIndex.buildIndex(vecs, cents, cb.filter(col("sub") === 0), m, subDim))
  }

  private def kernelCalls(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.map(_.expressions.map(_.collect {
      case s: StaticInvoke if s.staticObject.getName == "graft.pipeline.IvfKernel" => s
    }.size).sum).sum

  test("plans: one kernel projection, no model join and no aggregate") {
    val (vecs, cents, cb) = frames(fixture(3))
    for (df <- Seq(Similarity.ivfAssign(vecs, cents),
        Similarity.pqEncode(vecs, cb, m, subDim),
        VectorIndex.buildIndex(vecs, cents, cb, m, subDim))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("Aggregate"), plan)
      assert(kernelCalls(df) === 1, plan)
    }
  }

  test("appendToIndex of 10 rows with a local model runs at most 3 jobs") {
    val (vecs, cents, cb) = frames(fixture(3))
    val idx = graft.queries.Scratch.run(spark) { dir =>
      val path = dir.resolve("idx").toString
      VectorIndex.writeIndex(vecs.filter(col("vec_id") > 10), cents, cb, m, subDim, path)
      val batch = vectorFrame(fixture(3).vecs.take(10))
      val (jobs, _) = traced(VectorIndex.appendToIndex(batch, cents, cb, m, subDim, path))
      assert(jobs <= 3, s"$jobs jobs")
      VectorIndex.readIndex(spark, path)
    }.as[(Long, Seq[Long], Long)].collect()
    assert(idx.map(_._1).sorted.toSeq === (1L to 60L))
  }
}
