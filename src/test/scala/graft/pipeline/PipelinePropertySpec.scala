package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the pipeline operators: invariants that must hold on
  * ANY input, checked over generated graphs, documents, and corpora.
  */
class PipelinePropertySpec extends SparkTestBase {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until (n * 3)).iterator
      .flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
      .take(n).toSeq

  // ---- connected components vs a reference union-find ----

  private val edgeList: Gen[Seq[(Long, Long)]] =
    Gen.chooseNum(1, 40).flatMap { n =>
      Gen.listOfN(n, for {
        a <- Gen.chooseNum(0L, 25L)
        b <- Gen.chooseNum(0L, 25L) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    }

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  test("connectedComponents equals union-find on random graphs") {
    // force the DISTRIBUTED loop — the default small-graph path is
    // itself a union-find, which would make this test a tautology
    spark.conf.set("graft.graph.localEdgeThreshold", "0")
    try samples(edgeList, 12).foreach { edges =>
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(edges), s"edges: $edges")
      spark.catalog.clearCache()
    } finally spark.conf.unset("graft.graph.localEdgeThreshold")
  }

  // ---- chunking coverage ----

  private val doc: Gen[(Int, Int, String)] = for {
    n <- Gen.chooseNum(0, 60)
    maxTokens <- Gen.chooseNum(2, 12)
    overlap <- Gen.chooseNum(0, maxTokens - 1)
  } yield (maxTokens, overlap, (1 to n).map(i => s"t$i").mkString(" "))

  test("chunking: concatenating chunks minus overlaps reproduces the token stream") {
    samples(doc, 25).foreach { case (maxTokens, overlap, text) =>
      val step = maxTokens - overlap
      val chunks = TextAnalysis.chunkDocuments(
        Seq((1L, text)).toDF("doc_id", "text"), maxTokens, overlap)
        .orderBy("chunk_idx")
        .select("chunk_idx", "chunk_text", "n_tokens")
        .as[(Int, String, Int)].collect().toSeq
      val toks = text.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) assert(chunks.isEmpty)
      else {
        // chunk i must be exactly tokens [i*step, i*step + maxTokens)
        chunks.foreach { case (i, ct, n) =>
          val want = toks.slice(i * step, i * step + maxTokens)
          assert(ct.split(" ").filter(_.nonEmpty).toSeq == want.toSeq, s"chunk $i of '$text'")
          assert(n == want.length)
        }
        // every token index is covered and the last chunk reaches the end
        val starts = chunks.map(_._1 * step)
        assert(starts.head == 0 && starts.last < toks.length &&
          starts.last + maxTokens >= toks.length)
        assert(starts == (0 until toks.length by step).toSeq)
      }
    }
  }

  // ---- shingle kernels vs naive reference implementations ----

  private val rawText: Gen[String] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n,
      Gen.frequency(
        6 -> Gen.alphaLowerChar, 2 -> Gen.const(' '), 1 -> Gen.numChar,
        1 -> Gen.oneOf('!', ',', 'X', '\n', '-'))).map(_.mkString))

  private def naiveWords(text: String): Seq[String] =
    text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").toSeq

  test("distinctShingles kernel == naive shingling on random text") {
    samples(rawText, 40).zipWithIndex.foreach { case (text, id) =>
      for (k <- Seq(2, 3)) {
        val got = Seq((id.toLong, text)).toDF("doc_id", "text")
          .select(Dedup.distinctShingleArray(col("text"), k))
          .as[Seq[String]].collect()(0)
        val w = naiveWords(text)
        val want = if (w.length < k) Seq.empty
          else w.sliding(k).map(_.mkString(" ")).toSeq.distinct
        assert(got == want, s"k=$k text='$text' words=$w")
      }
    }
  }

  test("minhashDoc == per-shingle double-hashing minima on random text") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def words32(s: String): (Long, Long) = {
      md.reset()
      val d = md.digest(s.getBytes("UTF-8"))
      def w(off: Int) = ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
        ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)
      (w(0), w(4))
    }
    samples(rawText, 25).zipWithIndex.foreach { case (text, id) =>
      val w = naiveWords(text)
      val sh = if (w.length < 3) Seq.empty
        else w.sliding(3).map(_.mkString(" ")).toSeq.distinct
      val got = Dedup.minhashSignatures(
        Seq((id.toLong, text)).toDF("doc_id", "text"), "text", "doc_id", 3, 4)
        .collect()
      if (sh.isEmpty) assert(got.isEmpty, s"text='$text'")
      else {
        val want = (0 until 4).map { j =>
          sh.map { s => val (w1, w2) = words32(s); (w1 + j * w2) % 4294967296L }.min
        }
        assert(got.length == 1 &&
          (1 to 4).map(got(0).getLong) == want, s"text='$text'")
      }
    }
  }

  // ---- sampling laws ----

  test("hashSample: nested fractions and determinism over random id sets") {
    val idsGen = Gen.chooseNum(50, 400).map(n => (0L until n.toLong))
    samples(idsGen, 6).foreach { ids =>
      val df = ids.toDF("doc_id")
      val half = Sampling.hashSample(df, "doc_id", 0.5).as[Long].collect().toSet
      val quarter = Sampling.hashSample(df, "doc_id", 0.25).as[Long].collect().toSet
      assert(quarter.subsetOf(half), "smaller fraction must be nested")
      assert(Sampling.hashSample(df, "doc_id", 0.5).as[Long].collect().toSet == half)
      // complements partition the set: fraction 1.0 keeps everything
      assert(Sampling.hashSample(df, "doc_id", 1.0).count() == ids.size)
      assert(Sampling.hashSample(df, "doc_id", 0.0).count() == 0)
    }
  }

  test("weightedHashSample laws: rate monotone, weight-1 == hashSample, bad weights drop") {
    val ids = (0L until 300L)
    val df = ids.toDF("doc_id")
      .withColumn("w", (col("doc_id") % 10) / 10.0)
    val lo = Sampling.weightedHashSample(df, "doc_id", "w", 0.3)
      .select("doc_id").as[Long].collect().toSet
    val hi = Sampling.weightedHashSample(df, "doc_id", "w", 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(lo.subsetOf(hi), "higher rate must be a superset (same hash draw)")
    // weight 0 rows can never be kept
    assert(!hi.exists(_ % 10 == 0), "zero-weight rows must be dropped")
    // constant weight 1 at rate f == uniform hashSample at f (same salt)
    val ones = ids.toDF("doc_id").withColumn("w", lit(1.0))
    val viaW = Sampling.weightedHashSample(ones, "doc_id", "w", 0.4, salt = "s")
      .select("doc_id").as[Long].collect().toSet
    val viaU = Sampling.hashSample(ids.toDF("doc_id"), "doc_id", 0.4, salt = "s")
      .as[Long].collect().toSet
    assert(viaW == viaU)
    // NULL / negative weights drop the row instead of sampling on garbage
    val dirty = Seq((1L, Some(-0.5)), (2L, None), (3L, Some(2.0)))
      .toDF("doc_id", "w")
    val kept = Sampling.weightedHashSample(dirty, "doc_id", "w", 1.0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L), s"got $kept")
  }
}
