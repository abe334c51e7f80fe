package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines.
  *
  * All hash primitives are md5-hex based so every stage is deterministic,
  * engine-portable (verifiable against SQL oracles), and shuffle-friendly.
  * Every operator is a groupBy/join — no driver materialization, no
  * per-partition state; the LSH band join is the classic
  * shingle -> minhash -> band -> bucket-join pipeline.
  */
object Dedup {

  /** Default hot-bucket cap for the LSH self-joins ([[lshCandidatePairs]],
    * [[cosinePairs]]): buckets larger than this are dropped before the
    * join. 1000 keeps per-bucket work under ~10^6 pairs — large enough
    * that real near-duplicate clusters pass, small enough that one
    * boilerplate key cannot go quadratic. Unbounded requires an explicit
    * `maxBucketSize = None`.
    */
  val DefaultMaxBucketSize: Int = 1000

  /** Normalized word array: lowercase, non-alphanumerics collapsed to
    * single spaces, whitespace-split. The shared tokenizer for
    * shingling/minhash/quality.
    */
  def words(text: Column): Column =
    split(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), " ")

  /** k-word shingles: shingle i = words[i..i+k-1] joined by spaces.
    * Array form — only for small/test use: the lambda re-evaluates the
    * tokenizer per element (Catalyst inlines single-reference expressions
    * into lambdas). Large-scale paths use [[shingleRows]].
    */
  def shingles(text: Column, k: Int): Column = {
    val w = words(text)
    filter(
      transform(sequence(lit(0), greatest(size(w) - k, lit(0))),
        i => when(size(w) >= k, concat_ws(" ", slice(w, i + 1, lit(k))))),
      s => s.isNotNull)
  }

  /** k-word shingles as rows (id, shingle): tokenize ONCE per document,
    * explode words with position, and assemble each shingle from window
    * `lead`s — linear work, one shuffle by document id.
    */
  def shingleRows(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val parts = col("__w") +: (1 until k).map(o => lead(col("__w"), o).over(w))
    docs
      .select(col(idCol), posexplode(words(col(textCol))).as(Seq("__pos", "__w")))
      .withColumn("__last", lead(col("__w"), k - 1).over(w))
      .withColumn("shingle", concat_ws(" ", parts: _*))
      .filter(col("__last").isNotNull)
      .select(col(idCol), col("shingle"))
  }

  /** Exact dedup: hash the full text, keep the smallest id per hash
    * (hash-groupBy; the 100 TB path is a shuffle on the 32-char hash).
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    docs.withColumn("__h", md5(col(textCol)))
      .groupBy(col("__h").as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Exact dedup with a KEEP-BEST policy: one representative per content
    * hash chosen by the highest `scoreCol` (quality score, length,
    * freshness — whatever ranks duplicates), id-ascending on ties — the
    * production policy when duplicates differ in metadata even though
    * their text matches (keep the best-sourced copy, not the
    * lowest-numbered one). A struct-max aggregate: partial map-side
    * combine, no window, same one-keyed-shuffle shape as [[exact]].
    */
  def exactKeepBest(docs: DataFrame, scoreCol: String,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // max over (score, -id): highest score wins, smallest id breaks ties
    docs.withColumn("__h", md5(col(textCol)))
      .groupBy(col("__h").as("content_hash"))
      .agg(
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("negId")))
          .as("__best"),
        count(lit(1)).as("n_copies"))
      .select(col("content_hash"),
        (-col("__best.negId")).cast("long").as("keep_id"),
        col("__best.s").as("keep_score"), col("n_copies"))
  }

  /** Normalization-invariant exact dedup: hash the NORMALIZED text
    * (lowercase, punctuation/whitespace runs collapsed — [[words]]
    * re-joined by single spaces) and keep the smallest id per hash. This
    * catches the trivially-edited copies byte-exact dedup misses (case
    * changes, reflowed whitespace, punctuation swaps) without any
    * similarity machinery — the standard first escalation between exact
    * and MinHash dedup. Same scale shape as [[exact]]: a stateless
    * codegen'd projection, then one shuffle keyed by the 32-char hash.
    * Output: one row per survivor with its duplicate-group size.
    *
    * Documents whose normalization is EMPTY (whitespace-only,
    * punctuation-only, emoji-only) fall back to hashing their RAW text —
    * otherwise every such document would collapse into one group and a
    * downstream keep-one filter would silently drop distinct documents.
    * The `"raw:"` prefix cannot collide with a normalized key (normalized
    * text is `[a-z0-9 ]` only, so it never contains `:`).
    */
  def normalizedExact(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val norm = concat_ws(" ", words(col(textCol)))
    docs
      .withColumn("__h",
        when(norm === "", md5(concat(lit("raw:"), col(textCol))))
          .otherwise(md5(norm)))
      .groupBy(col("__h").as("norm_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Exact-dedup filter: keep one representative row per content hash. */
  def exactFiltered(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash signature columns `mh0..mh{n-1}` under the one-digest
    * double-hashing family ([[TextKernel.minhashRow]]): md5 each distinct
    * shingle once, h_j(s) = (w1(s) + j * w2(s)) mod 2^32 over the digest's
    * first two 32-bit words (Kirsch & Mitzenmacher 2006) — a valid
    * minwise permutation family at 1/numHashes the digest cost of seeded
    * per-permutation hashing, portable across engines as exact BIGINT
    * arithmetic over md5 hex substrings.
    */
  /** Per-document distinct k-word shingle ARRAY via one codegen'd static
    * call ([[TextKernel.distinctShingles]]) — a shuffle-free projection,
    * where the row form (explode + window leads + global DISTINCT) costs a
    * per-doc sort plus a full (id, shingle) exchange.
    */
  private[pipeline] def distinctShingleArray(text: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types._
    Bridge.staticInvoke(
      Class.forName("graft.pipeline.TextKernel"),
      ArrayType(StringType, containsNull = false), "distinctShingles",
      Seq(concat_ws(" ", words(text)), lit(k)),
      Seq(StringType, IntegerType), returnNullable = false)
  }

  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      k: Int, numHashes: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types._
    // the WHOLE signature in one static call per document
    // ([[TextKernel.minhashDoc]]): shuffle-free projection — the previous
    // shape (shingle rows via per-doc window, seeded digests per row, one
    // partial aggregation of per-column minima) paid a per-doc sort plus a
    // signature-wide shuffle; values are identical (the min over the
    // shingle multiset is the min over its distinct set)
    val sig = Bridge.staticInvoke(
      Class.forName("graft.pipeline.TextKernel"),
      ArrayType(LongType, containsNull = false), "minhashDoc",
      Seq(concat_ws(" ", words(col(textCol))), lit(k), lit(numHashes)),
      Seq(StringType, IntegerType, IntegerType), returnNullable = true)
    docs.select(col(idCol), sig.as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col(idCol) +:
        (0 until numHashes).map(j => element_at(col("__sig"), j + 1).as(s"mh$j")): _*)
  }

  /** CORPUS-LEVEL similarity between SOURCES from MinHash signatures —
    * the dataset-diagnostics op ("how much does crawl A overlap crawl
    * B?") that never compares documents pairwise: a GROUP's signature
    * component j is the min of its docs' component j (the min over a
    * union of shingle sets IS the min of per-set minima, so the per-doc
    * kernel reuses verbatim and the group pass is ONE keyed min-agg over
    * [[minhashSignatures]] rows); Jaccard(A, B) is then estimated by the
    * fraction of agreeing components (unbiased, stderr ≈ 1/√numHashes).
    * The pairwise stage runs on the GROUP-signature frame — one row per
    * source — so the inequality self-join is a broadcast over a
    * group-count-sized table, never the corpus. Output:
    * (source_a < source_b, n_agree, jaccard_est 6-dec snapped).
    */
  def sourceSimilarity(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", k: Int = 3,
      numHashes: Int = 12): DataFrame = {
    val perDoc = minhashSignatures(docs, textCol, groupCol, k, numHashes)
    val mins = (0 until numHashes).map(j => min(col(s"mh$j")).as(s"mh$j"))
    val gsig = perDoc.groupBy(col(groupCol)).agg(mins.head, mins.tail: _*)
    def side(tag: String) = gsig.select(
      col(groupCol).as(s"source_$tag") +:
        (0 until numHashes).map(j => col(s"mh$j").as(s"__${tag}$j")): _*)
    val agree = (0 until numHashes).map(j =>
      when(col(s"__a$j") === col(s"__b$j"), 1).otherwise(0)).reduce(_ + _)
    side("a").join(side("b"), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), agree.as("n_agree"),
        TextAnalysis.round6(
          agree.cast("double") / numHashes).as("jaccard_est"))
  }

  /** MinHash Jaccard ESTIMATE vs EXACT for candidate pairs — the sketch-
    * quality evaluation next to [[graft.pipeline.Similarity.recallAtK]]:
    * the estimator is the fraction of agreeing signature components
    * (unbiased, stderr ~ 1/sqrt(numHashes)); the exact value comes from
    * [[ngramJaccard]]'s shingle-set machinery. Per pair:
    * (n_agree, jaccard_est, jaccard) plus the absolute error — the number
    * that tells you whether `numHashes` is big enough for your threshold.
    * Two id-equi-joins against the signature table; no product.
    */
  def minhashJaccardEval(docs: DataFrame, pairs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 3, numHashes: Int = 12): DataFrame = {
    val sigs = minhashSignatures(docs, textCol, idCol, k, numHashes)
    def side(suffix: String) = sigs.select(
      col(idCol).as(s"id_$suffix") +:
        (0 until numHashes).map(j => col(s"mh$j").as(s"__${suffix}$j")): _*)
    val agree = (0 until numHashes)
      .map(j => when(col(s"__a$j") === col(s"__b$j"), 1).otherwise(0))
      .reduce(_ + _)
    // persisted: referenced twice below (the exact-jaccard verify's pair
    // input AND the final estimate join) — unpersisted, the signature
    // aggregation + two id joins (md5 per shingle, the expensive scan)
    // replay per reference; released at the caller's first action
    val withEst = pairs
      .join(side("a"), Seq("id_a"))
      .join(side("b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), agree.as("n_agree"))
      .withColumn("jaccard_est",
        TextAnalysis.round6(col("n_agree").cast("double") / numHashes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = ngramJaccard(docs, withEst.select("id_a", "id_b"), textCol, idCol, k)
      .join(withEst, Seq("id_a", "id_b"))
      .withColumn("jaccard", TextAnalysis.round6(col("jaccard")))
      .withColumn("abs_err",
        TextAnalysis.round6(abs(col("jaccard_est") - col("jaccard"))))
      .select(col("id_a"), col("id_b"), col("n_agree").cast("long").as("n_agree"),
        col("jaccard_est"), col("jaccard"), col("abs_err"))
    CacheScope.releaseAfterFirstUse(out, Seq(withEst))
  }

  /** LSH banding: docs -> (band_id, band_key) rows; docs sharing a band key
    * in any band are candidate near-duplicates
    * (shingle->minhash->band->bucket-join).
    */
  def lshBands(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = 12, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sig = minhashSignatures(docs, textCol, idCol, k, numHashes)
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(j => col(s"mh$j"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("key"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("band_key"))
  }

  /** Candidate near-duplicate pairs from LSH: same key in >= 1 band.
    * Returns (id_a < id_b, n_bands agreeing).
    *
    * `maxBucketSize` is the skew guard for the self-join: a band key shared
    * by B documents produces B^2 candidate pairs, so one hot key (e.g.
    * boilerplate that hashes identically) turns the join quadratic. Keys
    * above the cap are dropped BEFORE the join (one extra aggregation on
    * the band table, shuffled by the same key the join uses) — the classic
    * trade: such buckets are near-useless for dedup anyway because their
    * members collide with everything in them. Deterministic, so the oracle
    * can mirror it with a HAVING.
    *
    * The cap is ON by default ([[Dedup.DefaultMaxBucketSize]]): hot buckets
    * are real at scale, and the naive unguarded default was exactly the
    * quadratic failure mode this guard documents. Pass `None` explicitly to
    * opt out (and accept |bucket|^2 joins).
    */
  /** `withBandCounts = false` skips the `n_bands` countDistinct rollup and
    * returns the raw band-collision pairs (id_a < id_b, possibly repeated
    * once per agreeing band — consumers that dedupe anyway, like
    * [[connectedComponents]]' symmetric distinct, save a full
    * expand+aggregate pass over the pair set).
    */
  def lshCandidatePairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 3, numHashes: Int = 12,
      bands: Int = 4, maxBucketSize: Option[Int] = Some(DefaultMaxBucketSize),
      persistBands: Boolean = false, withBandCounts: Boolean = true): DataFrame = {
    // the band table feeds 2-4 plan branches (cap aggregation + both join
    // sides); persisting it skips recomputing the shingle->minhash pipeline
    // per branch (Spark's ReuseExchange catches some but not all)
    val b00 = lshBands(docs, textCol, idCol, k, numHashes, bands)
    val b0 = if (persistBands)
      b00.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else b00
    val b = maxBucketSize match {
      case Some(cap) =>
        val small = b0.groupBy(col("band"), col("band_key"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") <= lit(cap.toLong))
          .select(col("band"), col("band_key"))
        b0.join(small, Seq("band", "band_key"))
      case None => b0
    }
    val l = b.select(col(idCol).as("id_a"), col("band"), col("band_key"))
    val r = b.select(col(idCol).as("id_b"), col("band"), col("band_key"))
    val matched = l.join(r, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
    val out =
      if (withBandCounts)
        matched.groupBy(col("id_a"), col("id_b"))
          .agg(countDistinct(col("band")).as("n_bands"))
      else matched.select(col("id_a"), col("id_b"))
    CacheScope.releaseAfterFirstUse(out, if (persistBands) Seq(b0) else Nil)
  }

  /** BLOCKING-QUALITY evaluation — the recall/cost scorecard for ANY
    * candidate-pair scheme (LSH bands, SimHash bands, deletion
    * neighborhoods, prefix filters) against a ground-truth pair set:
    * `pair_completeness` = |candidates ∩ truth| / |truth| (the recall the
    * blocking keeps) and `reduction_ratio` = 1 − |candidates| / C(n, 2)
    * (the fraction of the quadratic pair space it never generates) — the
    * two numbers that justify a blocking choice in every record-linkage
    * paper, sitting beside [[minhashJaccardEval]] (estimator quality) and
    * [[Similarity.recallAtK]] (ANN quality) in the eval family. Pair
    * orientation is normalized and duplicates collapse before counting,
    * so band-multiplicity conventions don't skew the counts; `nDocs` is
    * the evaluated corpus size (C(n,2) denominator — the caller states
    * the universe rather than this op re-counting it). One keyed join +
    * three 1-row aggregates; exact integer counts, snapped ratios.
    * Output: one row (n_candidates, n_truth, n_hit, pair_completeness,
    * reduction_ratio).
    */
  def blockingEval(candidates: DataFrame, truth: DataFrame,
      nDocs: Long): DataFrame = {
    require(nDocs >= 2, s"blockingEval: need >= 2 docs, got $nDocs")
    def norm(df: DataFrame) = df.select(
      least(col("id_a"), col("id_b")).as("id_a"),
      greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
    val c = norm(candidates)
    val t = norm(truth)
    val nc = c.agg(count(lit(1)).as("n_candidates"))
    val nt = t.agg(count(lit(1)).as("n_truth"))
    val nh = c.join(t, Seq("id_a", "id_b")).agg(count(lit(1)).as("n_hit"))
    val totalPairs = nDocs.toDouble * (nDocs - 1) / 2
    nc.crossJoin(broadcast(nt)).crossJoin(broadcast(nh))
      .select(col("n_candidates"), col("n_truth"), col("n_hit"),
        TextAnalysis.round6(
          col("n_hit").cast("double") / col("n_truth")).as("pair_completeness"),
        TextAnalysis.round6(
          lit(1.0) - col("n_candidates").cast("double") / totalPairs)
          .as("reduction_ratio"))
  }

  /** EXACT-RECALL set-similarity join via PREFIX FILTERING (the
    * AllPairs/PPJoin family — Bayardo et al. 2007, Xiao et al. 2008):
    * every pair of documents whose distinct-WORD-set Jaccard is >=
    * `threshold`, with NO missed pairs — the deterministic-recall
    * complement to [[lshCandidatePairs]] (LSH trades recall for speed;
    * this trades a tunable candidate bound for a guarantee, the right
    * tool when "we removed ALL near-dups above t" must be literally
    * true).
    *
    * The pigeonhole: order the vocabulary rarest-first (by (df, token) —
    * a total order needs no rank window, the tuple IS the rank) and take
    * each doc's first `|x| - ceil(t*|x|) + 1` tokens as its prefix; any
    * pair with J >= t must share a prefix token, so candidates come from
    * one equi-join on prefix tokens. Rarity-first ordering makes prefixes
    * rare by construction; the few genuinely hot prefix tokens are capped
    * like LSH buckets (`maxTokenBucket`, loud policy — at the cap a
    * token's candidates are dropped, which CAN cost recall; raise the cap
    * or pre-dedup exactly first if the guarantee must be absolute).
    * Verification is the exact rational |A∩B| / |A∪B| on the pair's two
    * sorted token arrays (6-dec snapped for engine portability).
    *
    * Scale shape: tokenize + df-count (one keyed agg), per-doc token sort
    * via sort_array over (df, token) structs (per-doc work, no window),
    * prefix explode bounded by (1-t)|x|+1 per doc, one keyed self-join on
    * the prefix token, distinct pairs, then a pair-scoped verify join —
    * no product anywhere. Output: (id_a, id_b, jaccard), id_a < id_b.
    */
  def jaccardPrefixPairs(docs: DataFrame, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id",
      maxTokenBucket: Option[Int] = Some(DefaultMaxBucketSize)): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"jaccardPrefixPairs: threshold must be in (0, 1], got $threshold")
    val ordered = rarestFirstTokens(docs, textCol, idCol, minTokens = 1)
    val prefixLen = (size(col("toks")) -
      ceil(lit(threshold) * size(col("toks"))) + 1).cast("int")
    // posexplode: 1-based position in the doc's RAREST-FIRST order rides
    // along for the positional filter below
    val prefixes = ordered
      .select(col(idCol), size(col("toks")).as("__sz"),
        posexplode(slice(col("toks"), lit(1), prefixLen)))
      .select(col(idCol), col("__sz"), (col("pos") + 1).as("__p"),
        col("col").as("token"))
    val gated = maxTokenBucket match {
      case Some(cap) =>
        val ok = prefixes.groupBy(col("token"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") <= cap)
          .select(col("token"))
        prefixes.join(ok, Seq("token"))
      case None => prefixes
    }
    // LENGTH FILTER (Arasu/Bayardo): jaccard >= t forces t·|B| <= |A|
    // (and symmetrically) — size-incompatible candidates are pruned
    // BEFORE the distinct and the full-array verify joins.
    // POSITIONAL FILTER (PPJoin, Xiao et al. 2008 §3.2): a shared prefix
    // token at 1-based positions (pa, pb) of the two rarest-first arrays
    // bounds the overlap at u = 1 + min(na−pa, nb−pb) — tokens BEFORE the
    // SMALLEST shared token are shared on neither side, so for that
    // occurrence u ≥ true overlap, and jaccard ≥ t needs overlap ≥
    // t·(na+nb)/(1+t). A pair survives iff SOME generating occurrence
    // passes (the smallest shared token always does when the pair truly
    // qualifies — exact recall); occurrences that cannot are dropped
    // before the distinct. The 1e-6 slack only LOOSENS the bound (fp
    // tie-breaks keep a candidate, never lose one); verify is exact.
    // Both filters are sound, so output is unchanged.
    val cand = gated.select(col(idCol).as("id_a"), col("__sz").as("__na"),
        col("__p").as("__pa"), col("token"))
      .join(gated.select(col(idCol).as("id_b"), col("__sz").as("__nb"),
        col("__p").as("__pb"), col("token")),
        Seq("token"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("__na") >= ceil(lit(threshold) * col("__nb")) &&
        col("__nb") >= ceil(lit(threshold) * col("__na")))
      .filter((lit(1) + least(col("__na") - col("__pa"),
          col("__nb") - col("__pb"))).cast("double") * (1.0 + threshold) >=
        lit(threshold) * (col("__na") + col("__nb")) - lit(1e-6))
      .select(col("id_a"), col("id_b")).distinct()
    // |A∪B| = |A| + |B| - |A∩B| on distinct token sets — one intersect
    // kernel instead of intersect + a union allocation; same value.
    // Verify reads the UNSORTED tokenSets leaf: array_intersect is
    // order-free, and each `ordered` consumer replans the df-join+sort
    // pipeline from scratch (no exchange reuse) — see [[tokenSets]].
    val sets = tokenSets(docs, textCol, idCol, minTokens = 1)
    cand
      .join(sets.select(col(idCol).as("id_a"), col("toks").as("__ta")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("toks").as("__tb")), Seq("id_b"))
      .withColumn("__i", size(array_intersect(col("__ta"), col("__tb"))))
      .withColumn("jaccard", TextAnalysis.round6(
        col("__i").cast("double") /
          (size(col("__ta")) + size(col("__tb")) - col("__i"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT-RECALL asymmetric CONTAINMENT join — the corpus-scale QUOTE /
    * partial-copy DETECTOR ([[ngramContainment]] scores caller-supplied
    * pairs; this FINDS them): every ordered pair (a, b), a != b, with
    * |A∩B| / |A| >= `threshold` over distinct word sets (A nearly
    * contained in B — excerpts, quotes, boilerplate inclusions that
    * symmetric Jaccard misses because the size ratio dilutes it).
    *
    * Same prefix-filtering pigeonhole as [[jaccardPrefixPairs]], applied
    * one-sided: if |A∩B| >= ceil(t·|A|), A's rarest-first prefix of
    * |A| - ceil(t·|A|) + 1 tokens must contain a common token — but the
    * token may sit ANYWHERE in B, so the candidate join runs A-prefix
    * against B's FULL token postings (the quote detector's honest cost:
    * linear postings, keyed join, no product). Rarity-first prefixes keep
    * the A side sparse; hot postings tokens are capped with the loud
    * LSH-bucket policy (capping CAN cost recall — raise the cap when the
    * guarantee must be absolute). `minTokens` drops documents with fewer
    * distinct words than the floor FROM BOTH SIDES (trivial sets are
    * contained in everything — noise, not signal).
    * Output: (id_a, id_b, containment) — id_a is the contained side;
    * both orders can appear when containment holds both ways.
    */
  def containmentPrefixPairs(docs: DataFrame, threshold: Double,
      textCol: String = "text", idCol: String = "doc_id",
      minTokens: Int = 1,
      maxTokenBucket: Option[Int] = Some(DefaultMaxBucketSize)): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containmentPrefixPairs: threshold must be in (0, 1], got $threshold")
    require(minTokens >= 1,
      s"containmentPrefixPairs: minTokens must be >= 1, got $minTokens")
    val ordered = rarestFirstTokens(docs, textCol, idCol, minTokens)
    val sets = tokenSets(docs, textCol, idCol, minTokens)
    val prefixLen = (size(col("toks")) -
      ceil(lit(threshold) * size(col("toks"))) + 1).cast("int")
    val prefixes = ordered
      .select(col(idCol).as("id_a"), size(col("toks")).as("__na"),
        explode(slice(col("toks"), lit(1), prefixLen)).as("token"))
    // NO positional filter here, by measurement (round 13): the A-side
    // bound 1+(na−pa) ≥ t·na is VACUOUS inside the prefix (prefixLen is
    // derived from exactly that inequality), so all of the one-sided
    // PPJoin filter's pruning comes from the B-side term (nb−pb) — and
    // pb requires B's FULL postings to ride the rarest-first ordering
    // pipeline (corpus-wide df join + per-doc sort, replanned per
    // consumer), which tripled this gate's wall time (3.2 s → 9 s at
    // sf0.1) for pruning that rarely binds in the asymmetric case
    // (nb >> na makes nb−pb the loose arm of the min). Postings stay on
    // the cheap unsorted [[tokenSets]] leaf instead.
    val postings0 = sets.select(col(idCol).as("id_b"),
      size(col("toks")).as("__nb"), explode(col("toks")).as("token"))
    val postings = maxTokenBucket match {
      case Some(cap) =>
        val ok = postings0.groupBy(col("token"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") <= cap)
          .select(col("token"))
        postings0.join(ok, Seq("token"))
      case None => postings0
    }
    // ONE-SIDED LENGTH FILTER: |A∩B| >= ceil(t·|A|) forces |B| >= that
    // same floor (the intersection fits inside B) — size-incompatible
    // candidates are pruned before the distinct and the verify joins.
    // Sound, so output is unchanged.
    val cand = prefixes.join(postings, Seq("token"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("__nb") >= ceil(lit(threshold) * col("__na")))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(sets.select(col(idCol).as("id_a"), col("toks").as("__ta")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("toks").as("__tb")), Seq("id_b"))
      .withColumn("containment", TextAnalysis.round6(
        size(array_intersect(col("__ta"), col("__tb"))).cast("double") /
          size(col("__ta"))))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Distinct-word sets, UNSORTED — the cheap tokenization leaf of the
    * prefix-filter join family (one scan + per-row array ops, no join, no
    * aggregate). Anything that only needs the token SET (postings sides,
    * the exact set-algebra verify joins) reads this, NOT
    * [[rarestFirstTokens]] — the ordering pipeline costs a corpus-wide df
    * join + per-doc sort and Spark replans it per consumer (no exchange
    * reuse), which is exactly the 3× q253 regression round 13 measured
    * and reverted. Output: (idCol, toks).
    */
  private def tokenSets(docs: DataFrame, textCol: String,
      idCol: String, minTokens: Int): DataFrame = docs
    .select(col(idCol), array_distinct(words(col(textCol))).as("__t"))
    .select(col(idCol), filter(col("__t"), t => length(t) > 0).as("toks"))
    .filter(size(col("toks")) >= minTokens)

  /** Distinct-word sets in global rarest-first (df, token) order — the
    * shared spine of the prefix-filter join family. One keyed df agg, one
    * per-doc sort_array over (df, token) structs (the tuple IS the global
    * rank — no vocabulary-wide window). Output: (idCol, toks).
    */
  private def rarestFirstTokens(docs: DataFrame, textCol: String,
      idCol: String, minTokens: Int): DataFrame = {
    val ts = tokenSets(docs, textCol, idCol, minTokens)
    val df0 = ts.select(col(idCol), explode(col("toks")).as("token"))
    val dfreq = df0.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    df0.join(dfreq, Seq("token"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__df"), col("token"))))
        .as("__ord"))
      .select(col(idCol),
        transform(col("__ord"), s => s.getField("token")).as("toks"))
  }

  /** AUDIT for the prefix-join hot-token caps — run it BEFORE trusting the
    * exact-recall guarantee of [[jaccardPrefixPairs]] /
    * [[containmentPrefixPairs]] at a new corpus scale. The caps
    * (`maxTokenBucket`) bound the candidate blow-up of hot tokens by
    * DROPPING them, which silently costs recall once a token's occupancy
    * crosses the cap — and occupancy grows with the corpus, so a cap that
    * was inert at sf0.1 can be active at 10×. (Measured in the round-13
    * ScaleStress run: q252's output fell 769 → 208 pairs at 10×
    * near-duplicate-rich scale with the default cap of 1000 and no runtime
    * signal.)
    *
    * Returns every token whose occupancy exceeds `cap` in either role:
    * `prefix_count` is the occupancy [[jaccardPrefixPairs]] caps (and the
    * A-side prefix of the containment join); `df` is the full-postings
    * occupancy [[containmentPrefixPairs]] caps on its B side. Empty audit
    * at cap c ⟹ the pair joins at `maxTokenBucket = Some(c)` are
    * bit-identical to uncapped (the law the spec pins); non-empty audit
    * names exactly the tokens to fix — raise the cap, pre-dedup exactly
    * first, or stoplist the offending boilerplate tokens.
    * Output: (token, df, prefix_count) with df > cap OR prefix_count > cap.
    */
  def prefixCapAudit(docs: DataFrame, threshold: Double, cap: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"prefixCapAudit: threshold must be in (0, 1], got $threshold")
    require(cap >= 1, s"prefixCapAudit: cap must be >= 1, got $cap")
    val ordered = rarestFirstTokens(docs, textCol, idCol, minTokens = 1)
    val prefixLen = (size(col("toks")) -
      ceil(lit(threshold) * size(col("toks"))) + 1).cast("int")
    val prefixCnt = ordered
      .select(explode(slice(col("toks"), lit(1), prefixLen)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("prefix_count"))
    val dfCnt = ordered
      .select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    dfCnt.join(prefixCnt, Seq("token"), "left")
      .select(col("token"), col("df"),
        coalesce(col("prefix_count"), lit(0L)).as("prefix_count"))
      .filter(col("df") > cap || col("prefix_count") > cap)
  }

  /** CLUSTER-AWARE train/eval split — the CONSTRUCTIVE fix for what
    * [[splitLeakage]] only audits: hash the split decision on a
    * duplicate-CLUSTER representative instead of the document id, so
    * every member of a near-dup cluster lands on the same side of the
    * boundary BY CONSTRUCTION (a near-copy of a test document can never
    * sit in train). `pairs` is any (id_a, id_b) duplicate-pair frame —
    * exact content pairs, LSH candidates ([[lshCandidatePairs]]),
    * semantic pairs — making this the split stage of whichever dedup
    * notion the pipeline already runs; representatives come from
    * [[connectedComponents]] (min-id per cluster), documents with no
    * pair are their own representative. One keyed left join puts the
    * representative on each doc; the split itself stays
    * [[Sampling.splitAssign]]'s stateless hash cut on that key — split
    * FRACTIONS now hold over clusters rather than documents (duplicates
    * travel together; with bounded cluster sizes the document-level
    * fractions converge to the weights). Output: input columns +
    * (`cluster_key`, `split`).
    */
  def clusterAwareSplit(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id",
      weights: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt: String = "split"): DataFrame = {
    val comp = connectedComponents(pairs)
      .select(col("doc_id").as(idCol), col("cluster_id"))
    val keyed = docs.join(comp, Seq(idCol), "left")
      .withColumn("cluster_key", coalesce(col("cluster_id"), col(idCol)))
      .drop("cluster_id")
    Sampling.splitAssign(keyed, "cluster_key", weights, salt)
  }

  /** Near-dup dedup with a KEEP-BEST survivor policy — [[dedupCorpus]]
    * keeps each cluster's MINIMUM id (the streaming-greedy canonical);
    * this keeps its HIGHEST-QUALITY member (max over (score, -id):
    * highest score wins, smallest id breaks ties — [[exactKeepBest]]'s
    * policy lifted from exact-hash groups to near-dup clusters). `pairs`
    * is any duplicate-pair frame; clusters come from
    * [[connectedComponents]]; unpaired documents survive as their own
    * cluster. One keyed join + one keyed max-struct aggregation after the
    * CC labels — no window, no product. Output: (cluster_key, keep_id,
    * best_score, n_members), one row per cluster.
    */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame, scoreCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val comp = connectedComponents(pairs)
      .select(col("doc_id").as(idCol), col("cluster_id"))
    docs.join(comp, Seq(idCol), "left")
      .withColumn("cluster_key", coalesce(col("cluster_id"), col(idCol)))
      .groupBy(col("cluster_key"))
      .agg(
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("negId"))).as("__best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_key"), (-col("__best.negId")).as("keep_id"),
        col("__best.s").as("best_score"), col("n_members"))
  }

  /** Train/eval LEAKAGE AUDIT: assign splits deterministically
    * ([[Sampling.splitAssign]]) and surface every near-duplicate pair that
    * crosses the train/eval boundary — the check every benchmark-honest
    * training pipeline runs before export, because a test document with a
    * near-copy in train is silent contamination no exact-dedup catches.
    * Pure composition: split filter -> [[crossCorpusCandidates]] (banded
    * MinHash join, per-side caps); no new shuffle shapes. Output:
    * (idCol = the train doc, eval_id, n_bands) — an empty result is the
    * clean bill of health.
    */
  def splitLeakage(docs: DataFrame, keyCol: String = "doc_id",
      textCol: String = "text",
      weights: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      trainName: String = "train", salt: String = "split",
      k: Int = 3, numHashes: Int = 12, bands: Int = 4,
      maxBucketSize: Option[Int] = Some(DefaultMaxBucketSize)): DataFrame = {
    require(weights.exists(_._1 == trainName),
      s"splitLeakage: no split named '$trainName' in $weights")
    val assigned = Sampling.splitAssign(docs, keyCol, weights, salt)
    crossCorpusCandidates(
      assigned.filter(col("split") === trainName),
      assigned.filter(col("split") =!= trainName),
      textCol, keyCol, refIdCol = keyCol, refOutCol = "eval_id",
      k = k, numHashes = numHashes, bands = bands,
      maxBucketSize = maxBucketSize)
  }

  /** Cross-corpus MinHash-LSH near-duplicate candidates — the scale path
    * for benchmark decontamination and incremental-corpus dedup. Both
    * sides are banded under the SAME minhash family ([[lshBands]]), so a
    * single (band, band_key) equi-join yields candidates: never a product,
    * and unlike exact k-gram overlap
    * ([[TextAnalysis.contaminationFlags]]) it catches NEAR duplicates
    * (lightly edited eval leaks) from a constant number of band keys per
    * document regardless of length. The join cost is |A_bucket| x
    * |B_bucket| per hot key, so the cap applies to EACH side's buckets
    * independently (dropped before the join, oracle-mirrorable with a
    * HAVING per side). Output: (idCol, refOutCol, n_bands), id columns
    * taken from each corpus's own id space.
    */
  def crossCorpusCandidates(docs: DataFrame, ref: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      refIdCol: String = "doc_id", refOutCol: String = "eval_id",
      k: Int = 3, numHashes: Int = 12, bands: Int = 4,
      maxBucketSize: Option[Int] = Some(DefaultMaxBucketSize)): DataFrame = {
    require(refOutCol != idCol,
      s"crossCorpusCandidates: refOutCol must differ from idCol ($idCol)")
    def capped(b: DataFrame): DataFrame = maxBucketSize match {
      case Some(cap) =>
        val small = b.groupBy(col("band"), col("band_key"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") <= lit(cap.toLong))
          .select(col("band"), col("band_key"))
        b.join(small, Seq("band", "band_key"))
      case None => b
    }
    val l = capped(lshBands(docs, textCol, idCol, k, numHashes, bands))
      .select(col(idCol), col("band"), col("band_key"))
    val r = capped(lshBands(ref, textCol, refIdCol, k, numHashes, bands))
      .select(col(refIdCol).as(refOutCol), col("band"), col("band_key"))
    l.join(r, Seq("band", "band_key"))
      .groupBy(col(idCol), col(refOutCol))
      .agg(countDistinct(col("band")).as("n_bands"))
  }

  /** Fuzzy benchmark decontamination over [[crossCorpusCandidates]]:
    * per corpus document, how many benchmark documents it near-duplicates
    * (>= 1 shared LSH band) and a boolean flag. Every input document keeps
    * a row (`n_eval_matches = 0` when clean) so the output is a drop/keep
    * routing table for the whole corpus. The benchmark side is typically
    * tiny, but the band join stays keyed either way.
    */
  def fuzzyContaminationFlags(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      benchIdCol: String = "doc_id", k: Int = 3, numHashes: Int = 12,
      bands: Int = 4,
      maxBucketSize: Option[Int] = Some(DefaultMaxBucketSize)): DataFrame = {
    val matches = crossCorpusCandidates(docs, benchmark, textCol, idCol,
      benchIdCol, "__eval_id", k, numHashes, bands, maxBucketSize)
      .groupBy(col(idCol)).agg(count(lit(1)).as("__m"))
    docs.select(col(idCol))
      .join(matches, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__m"), lit(0L)).as("n_eval_matches"))
      .withColumn("contaminated", col("n_eval_matches") > 0)
  }

  /** The end-to-end corpus dedup pipeline, composed from the staged
    * operators: (1) exact dedup keeps the min-id copy per content hash;
    * (2) MinHash-LSH candidates over the survivors; (3) connected
    * components over the candidate graph; (4) every non-canonical cluster
    * member (doc_id != cluster min) is dropped. Returns the surviving
    * rows with their original columns — the "documents in, clean
    * documents out" entry point a curation pipeline calls.
    *
    * Every stage is a bucketed shuffle (content hash / band key / label
    * propagation) — no stage widens beyond the candidate graph, so the
    * composition scales exactly as its parts do.
    */
  def dedupCorpus(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxBucketSize: Option[Int] = Some(50),
      jaccardThreshold: Option[Double] = None): DataFrame = {
    // NOTE on what is deliberately NOT cached: the survivor FRAME feeds
    // both the LSH pipeline and the final anti-join, but persisting it
    // means materializing the full text corpus into executor storage — at
    // the 100 TB design point a columnar re-scan + hash semi-join is
    // cheaper than that write (and measured no faster at sf0.1). The
    // keep-ID SET is cached instead: ids only (8 bytes/doc at any scale),
    // so the final action — which runs AFTER the CC rounds already forced
    // the band chain and filled this cache — skips the md5-the-whole-
    // corpus exact aggregation and pays only the cached-id semi-join.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val keepIds = exact(docs, textCol, idCol)
      .select(col("keep_id").as(idCol)).persist(lvl)
    val exactSurvivors = docs.join(keepIds, Seq(idCol), "left_semi")
    // raw band-collision pairs: the n_bands rollup is skipped because both
    // consumers dedupe — CC's symmetric distinct, and the verify branch's
    // explicit dropDuplicates — saving an expand+aggregate over the pairs
    val candidates = lshCandidatePairs(exactSurvivors, textCol, idCol,
      maxBucketSize = maxBucketSize, persistBands = true,
      withBandCounts = false)
    // optional verify stage: a band collision is only a CANDIDATE — without
    // it, LSH false positives permanently delete distinct documents. The
    // default skips it (band-collision = duplicate, the aggressive C4-style
    // setting and the oracle-mirrored behavior); pass a threshold to keep
    // only pairs whose exact n-gram Jaccard clears it.
    val pairs = jaccardThreshold match {
      case Some(t) => ngramJaccard(exactSurvivors,
        candidates.dropDuplicates("id_a", "id_b"), textCol, idCol)
        .filter(col("jaccard") >= t).select("id_a", "id_b")
      case None => candidates
    }
    val nonCanonical = connectedComponents(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    CacheScope.releaseAfterFirstUse(
      exactSurvivors.join(nonCanonical, Seq(idCol), "left_anti"),
      Seq(keepIds))
  }

  /** Exact n-gram Jaccard similarity for a pair table (the verify stage
    * after LSH candidates): |A ∩ B| / |A ∪ B| over distinct k-shingles.
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 3): DataFrame = {
    // shingle only the docs the pair table references (pairs << corpus
    // after LSH), with per-doc distinct arrays from the kernel — no
    // global (id, shingle) DISTINCT exchange, and counts are a size()
    // projection instead of an aggregation.
    //
    // BOTH intermediates are persisted: the plan references pairs/withSh
    // through a chain (ids -> withSh -> sh -> shA/shB -> interCount ->
    // final joins) that MULTIPLIES subtree copies — unpersisted, the
    // upstream candidate-generation pipeline replays ~20x in one action
    // (measured: 17s vs 2s at sf0.1)
    // (both are released by the CacheScope wrapper at pipeline exit — the
    // first caller action that consumes the result drops them)
    val (base, cached) = pairOverlapCounts(docs, pairs, textCol, idCol, k)
    val out = base
      .withColumn("jaccard",
        coalesce(col("__inter"), lit(0L)).cast("double") /
          (col("__na") + col("__nb") - coalesce(col("__inter"), lit(0L))))
      .drop("__inter", "__na", "__nb")
    CacheScope.releaseAfterFirstUse(out, cached)
  }

  /** Shared verify-stage machinery for [[ngramJaccard]] /
    * [[ngramContainment]]: per candidate pair, the distinct-shingle
    * intersection count plus each side's distinct-shingle count
    * (`__inter`, `__na`, `__nb`). Returns the frame and the persisted
    * intermediates the caller must release after its first action.
    */
  private def pairOverlapCounts(docs: DataFrame, pairs: DataFrame,
      textCol: String, idCol: String, k: Int): (DataFrame, Seq[DataFrame]) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val p = pairs.persist(lvl)
    val ids = p.select(col("id_a").as("__id"))
      .unionAll(p.select(col("id_b").as("__id"))).distinct()
    val withSh = docs.join(ids, docs(idCol) === ids("__id"), "left_semi")
      .select(col(idCol).as("__id"), distinctShingleArray(col(textCol), k).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .persist(lvl)
    val sh = withSh.select(col("__id"), explode(col("__sh")).as("shingle"))
    val counts = withSh.select(col("__id"), size(col("__sh")).cast("long").as("__n"))
    // intersection via self-join on shingle
    val shA = sh.select(col("__id").as("id_a"), col("shingle"))
    val shB = sh.select(col("__id").as("id_b"), col("shingle"))
    val interCount = p.join(shA, Seq("id_a")).join(shB, Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__inter"))
    val base = p
      .join(interCount, Seq("id_a", "id_b"), "left")
      .join(counts.withColumnRenamed("__id", "id_a").withColumnRenamed("__n", "__na"), Seq("id_a"))
      .join(counts.withColumnRenamed("__id", "id_b").withColumnRenamed("__n", "__nb"), Seq("id_b"))
    (base, Seq(p, withSh))
  }

  /** DEDUP-CLUSTER COHESION audit — the check on what connected
    * components actually produced: CC merges by TRANSITIVITY, so a chain
    * A~B~C yields one cluster even when A and C share nothing (the
    * "chaining" failure every union-find dedup inherits). Per cluster:
    * exact pairwise [[ngramJaccard]] over ALL member pairs (not just the
    * band-candidate edges that built it), reporting min (the chain
    * detector — a near-0 min in a "duplicate" cluster is a bad merge) and
    * the snapped-decimal mean. Clusters larger than `maxClusterSize`
    * skip the quadratic member join and report unaudited (size² pairs is
    * the honest cost of auditing; a huge cluster is ITSELF the finding).
    * Output: (cluster_id, size, n_pairs, min_jaccard, avg_jaccard,
    * audited) — unaudited and singleton clusters carry NULL metrics.
    *
    * EAGER by design: the membership frame is snapshot once via
    * localCheckpoint before the audit plan is built. The audit references
    * `clusters` five times (sizes, the two member-join sides, the final
    * re-join), and CC label frames carry their iterative loop's lineage —
    * analyzed afresh at EVERY reference, the analyzer alone took ~40 s
    * and the action minutes at sf0.1 (each CC step references its edge
    * frame twice, so copies multiply). Truncating the lineage to a
    * materialized leaf collapses that to seconds; the checkpoint is
    * membership-sized (the clustered slice of the corpus), strictly
    * smaller than the shingle work the audit itself does.
    */
  def clusterCohesion(docs: DataFrame, clusters: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", k: Int = 3,
      maxClusterSize: Long = 100L): DataFrame = {
    require(maxClusterSize >= 2,
      s"clusterCohesion: maxClusterSize must be >= 2, got $maxClusterSize")
    val cl = clusters.select(col("cluster_id"), col(idCol))
      .localCheckpoint(true)
    val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
    val mem = cl
      .join(sizes.filter(col("size") >= 2 && col("size") <= maxClusterSize)
        .select(col("cluster_id")), Seq("cluster_id"))
      .select(col("cluster_id"), col(idCol))
    val p = mem.select(col("cluster_id"), col(idCol).as("id_a"))
      .join(mem.select(col("cluster_id"), col(idCol).as("id_b")),
        Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
    val jac = ngramJaccard(docs, p.select(col("id_a"), col("id_b")),
      textCol, idCol, k)
    val snapped = TextAnalysis.round6(col("jaccard"))
    val agg = jac
      .join(mem.select(col(idCol).as("id_a"), col("cluster_id")), Seq("id_a"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(snapped).as("min_jaccard"),
        TextAnalysis.round6(
          sum(snapped.cast("decimal(28,6)")).cast("double") / count(lit(1)))
          .as("avg_jaccard"))
    sizes.join(agg, Seq("cluster_id"), "left")
      .withColumn("audited",
        col("size") >= 2 && col("size") <= maxClusterSize)
  }

  /** Asymmetric shingle CONTAINMENT for candidate pairs — the
    * partial-copy detector symmetric Jaccard misses: a short document
    * fully quoted inside a long one has low Jaccard (the union is big)
    * but containment ~1 on the short side. `containment_a` =
    * |A∩B| / |A| (how much of A lives in B), `containment_b` the mirror,
    * `containment` = the max — the drop signal for quote/wrapper
    * duplicates. Same verify-stage shape as [[ngramJaccard]]: pair-scoped
    * semi-join + shingle equi-join, no product. Ratios 6-dec snapped.
    */
  def ngramContainment(docs: DataFrame, pairs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 3): DataFrame = {
    val (base, cached) = pairOverlapCounts(docs, pairs, textCol, idCol, k)
    val inter = coalesce(col("__inter"), lit(0L)).cast("double")
    val out = base
      .withColumn("containment_a", TextAnalysis.round6(inter / col("__na")))
      .withColumn("containment_b", TextAnalysis.round6(inter / col("__nb")))
      .withColumn("containment",
        greatest(col("containment_a"), col("containment_b")))
      .drop("__inter", "__na", "__nb")
    CacheScope.releaseAfterFirstUse(out, cached)
  }

  /** SimHash fingerprint (16-bit, md5-derived): bit j of the fingerprint is
    * the majority vote over words of bit j of the word hash, where word-hash
    * bit j = parity of hex digit j of md5(word). Near-duplicates differ in
    * few bits (compare with hamming distance).
    *
    * One codegen'd static call per document ([[TextKernel.simhashDoc]]) —
    * a shuffle-free projection; the previous shape (explode words + one
    * 16-column partial aggregation per doc) paid a per-doc exchange for
    * identical values.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol), simhashCol(col(textCol)).as("simhash"))

  /** Column form of [[simhash]] — one static call per value; also the
    * `graft_simhash(text)` SQL function.
    */
  def simhashCol(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types._
    Bridge.staticInvoke(
      Class.forName("graft.pipeline.TextKernel"),
      IntegerType, "simhashDoc",
      Seq(concat_ws(" ", words(text))),
      Seq(StringType), returnNullable = false)
  }

  /** Column form of [[minhashSignatures]]'s kernel (the whole signature
    * array in one static call); also the `graft_minhash(text, k, n)` SQL
    * function. Null when the document has fewer than `k` words.
    */
  def minhashCol(text: Column, k: Column, numHashes: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types._
    Bridge.staticInvoke(
      Class.forName("graft.pipeline.TextKernel"),
      ArrayType(LongType, containsNull = false), "minhashDoc",
      Seq(concat_ws(" ", words(text)), k.cast("int"), numHashes.cast("int")),
      Seq(StringType, IntegerType, IntegerType), returnNullable = true)
  }

  /** SimHash near-duplicate candidate pairs over the 16-bit TEACHING
    * fingerprint: LSH-band into four 4-bit nibbles — any pair within
    * hamming distance 3 shares at least one EXACT nibble (pigeonhole over
    * 4 bands) — then exact `bit_count(xor)` verify at `<= maxHamming`.
    *
    * SMALL-N ONLY, enforced loudly: 4-bit bands have 16 key values each —
    * 64 buckets total, EVER — so bucket size grows O(n) and candidate
    * pairs O(n²/64) no matter how the corpus is distributed; worse, past
    * the hot-bucket cap ALL 64 buckets would drop and recall silently
    * collapses to zero. The guard RUNS AN EAGER ACTION at call time: an
    * id-only `limit(maxDocs + 1).count()` — bounded at maxDocs+1 rows,
    * early-exits the scan — and THROWS above `maxDocs` (this is the
    * didactic form, not a scale path; callers that held a lazy frame
    * before round 9 now pay one bounded scan and may see the failure at
    * construction). Corpus-scale near-dup belongs to [[simhashPairs64]] /
    * [[fingerprintPairs64]], whose four 16-bit bands keep buckets tiny at
    * any n. Output: (id_a < id_b, hamming).
    */
  def simhashPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      maxBucketSize: Option[Int] = Some(DefaultMaxBucketSize),
      maxDocs: Int = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhashPairs: 4-band nibble LSH guarantees recall only for hamming <= 3, got $maxHamming")
    // bounded guard: scanning maxDocs+1 rows is enough to prove the
    // violation — never a full corpus pass just to refuse
    val n = docs.select(col(idCol)).limit(maxDocs + 1).count()
    require(n <= maxDocs,
      s"simhashPairs: > $maxDocs docs (guard scan stops at maxDocs+1). The 16-bit fingerprint " +
        "has only 64 band buckets, so candidate pairs grow O(n^2/64) and the " +
        "hot-bucket cap would drop every bucket at scale (zero recall). Use " +
        "simhashPairs64/fingerprintPairs64 (2^16-value bands) for corpus-scale near-dup.")
    val fp = simhash(docs, textCol, idCol)
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), 4 * b).bitwiseAND(lit(15)).as("key"))
    }
    bandedHammingPairs(fp, idCol, bandStructs, maxHamming, maxBucketSize)
  }

  /** 64-bit SimHash fingerprints ([[TextKernel.simhash64Doc]]) — the
    * production width: 2^16 fingerprint values collide constantly at
    * corpus scale, 2^64 makes hamming distance a meaningful signal. Same
    * shuffle-free one-static-call-per-document plan shape as [[simhash]].
    */
  def simhash64(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), simhash64Col(col(textCol)).as("simhash"))

  /** Column form of [[simhash64]] — also the `graft_simhash64(text)` SQL
    * function.
    */
  def simhash64Col(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types._
    Bridge.staticInvoke(
      Class.forName("graft.pipeline.TextKernel"),
      LongType, "simhash64Doc",
      Seq(concat_ws(" ", words(text))),
      Seq(StringType), returnNullable = false)
  }

  /** Near-duplicate pairs over the 64-bit fingerprint: four 16-bit bands
    * (pigeonhole-exact recall at hamming <= 3, like [[simhashPairs]] but
    * with 2^16 bucket values per band instead of 2^4 — buckets stay tiny
    * at scale) + exact `bit_count(xor)` verify and the same hot-bucket
    * cap. Output: (id_a < id_b, hamming).
    */
  def simhashPairs64(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      maxBucketSize: Option[Int] = Some(DefaultMaxBucketSize)): DataFrame = {
    fingerprintPairs64(simhash64(docs, textCol, idCol), idCol,
      maxHamming = maxHamming, maxBucketSize = maxBucketSize)
  }

  /** Near-dup pairs over ANY 64-bit fingerprint column (text simhash,
    * image perceptual hash, …): four 16-bit bands (pigeonhole-exact recall
    * at hamming <= 3) + exact `bit_count(xor)` verify + the standard
    * hot-bucket cap. `fp` carries one row per item (idCol, fpCol: long).
    * Output: (id_a < id_b, hamming).
    */
  def fingerprintPairs64(fp: DataFrame, idCol: String,
      fpCol: String = "simhash", maxHamming: Int = 3,
      maxBucketSize: Option[Int] = Some(DefaultMaxBucketSize)): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"fingerprintPairs64: 4-band LSH guarantees recall only for hamming <= 3, got $maxHamming")
    val f = fp.select(col(idCol), col(fpCol).cast("long").as("simhash"))
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), 16 * b).bitwiseAND(lit(65535L)).as("key"))
    }
    bandedHammingPairs(f, idCol, bandStructs, maxHamming, maxBucketSize)
  }

  /** Shared candidate machinery for the fingerprint families: explode the
    * band structs, drop hot buckets before the self-join, equi-join on
    * (band, key), exact hamming verify. `fp` must carry (idCol, simhash).
    */
  private def bandedHammingPairs(fp: DataFrame, idCol: String,
      bandStructs: Seq[Column], maxHamming: Int,
      maxBucketSize: Option[Int]): DataFrame = {
    val bands0 = fp
      .select(col(idCol), col("simhash"), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    val bands = maxBucketSize match {
      case Some(cap) =>
        val small = bands0.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") <= lit(cap.toLong))
          .select(col("band"), col("key"))
        bands0.join(small, Seq("band", "key"))
      case None => bands0
    }
    val l = bands.select(col(idCol).as("id_a"), col("simhash").as("__fa"),
      col("band"), col("key"))
    val r = bands.select(col(idCol).as("id_b"), col("simhash").as("__fb"),
      col("band"), col("key"))
    l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__fa").bitwiseXOR(col("__fb"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucket gated: candidate
    * pairs come from `bands` independent random-hyperplane sign buckets
    * (`numPlanes` planes each — OR-amplification, the classic recall knob),
    * so every join is a bucket equi-join. NO all-pairs product anywhere:
    * at 100 TB the shuffle is by bucket id and the per-bucket work is
    * |bucket|^2, bounded by the bucket granularity you pick. Exact cosine
    * via an ordered fold (deterministic), rounded for cross-engine
    * stability; duplicates across bands collapse with one distinct.
    */
  def cosinePairs(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", threshold: Double = 0.0,
      numPlanes: Int = 2, bands: Int = 2,
      persistVectors: Boolean = false,
      dims: Int = Similarity.MaxDims,
      maxBucketSize: Option[Int] = Some(DefaultMaxBucketSize)): DataFrame = {
    val withNorm0 = emb.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__norm", sqrt(Similarity.dot(col("__v"), col("__v"))))
    // the normalized table feeds 2 branches per band; persisting skips the
    // upstream recompute (same trade as lshCandidatePairs.persistBands)
    val withNorm = if (persistVectors)
      withNorm0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else withNorm0
    val perBand = (0 until bands).map { band =>
      val bucketed0 = withNorm.withColumn("__bucket",
        Similarity.lshBucket(col("__v"), numPlanes,
          planeOffset = band * numPlanes, dims = dims))
      // same skew guard as [[lshCandidatePairs]]: a hot bucket (duplicated
      // boilerplate embeddings, degenerate all-zero vectors) makes the
      // self-join |bucket|^2 — drop oversize buckets BEFORE the join; the
      // aggregation shuffles by the same key the join uses
      val bucketed = maxBucketSize match {
        case Some(cap) =>
          val small = bucketed0.groupBy(col("__bucket"))
            .agg(count(lit(1)).as("__n")).filter(col("__n") <= lit(cap.toLong))
            .select(col("__bucket"))
          bucketed0.join(small, Seq("__bucket"))
        case None => bucketed0
      }
      val a = bucketed.select(col("__bucket"), col(idCol).as("id_a"),
        col("__v").as("__va"), col("__norm").as("__na"))
      val b = bucketed.select(col("__bucket"), col(idCol).as("id_b"),
        col("__v").as("__vb"), col("__norm").as("__nb"))
      a.join(b, Seq("__bucket")).filter(col("id_a") < col("id_b"))
        // a mixed-width corpus would null-pad the zip_with and silently
        // drop pairs at the threshold filter — refuse loudly instead
        .filter(Similarity.sameWidth(col("__va"), col("__vb"), "cosinePairs"))
        .withColumn("cosine", TextAnalysis.round6(
          Similarity.dot(col("__va"), col("__vb")) /
            (col("__na") * col("__nb"))))
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }
    CacheScope.releaseAfterFirstUse(perBand.reduce(_ unionAll _).distinct(),
      if (persistVectors) Seq(withNorm) else Nil)
  }

  /** Corpus-wide paragraph-level dedup (the C4/RefinedWeb repair for
    * boilerplate shared across documents): explode non-empty trimmed
    * paragraphs with their in-doc position, keep each distinct paragraph
    * text only for the doc where it FIRST occurs (min (doc_id, pos) per
    * md5 — one shuffle keyed by the hash), and reassemble the surviving
    * paragraphs in document order. Docs whose every paragraph was seen
    * earlier come back with empty `clean_text` (callers usually drop them).
    * Shape at scale: groupBy(hash) + join back on (hash) + groupBy(doc) —
    * all keyed shuffles with partial aggregation, no window over the corpus.
    */
  def paragraphDedup(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", sep: String = "\n"): DataFrame = {
    // split() takes a REGEX but array_join() a literal — quote so both use
    // the literal separator (sep="|" or "." would otherwise shred the text)
    val paras = docs
      .select(col(idCol), posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "__p")))
      .withColumn("__p", trim(col("__p")))
      .filter(length(col("__p")) > 0)
      .withColumn("__h", md5(col("__p")))
    val firstOwner = paras
      .groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
      .select(col("__h"), col(s"__first.$idCol").as("__keep_id"),
        col("__first.pos").as("__keep_pos"))
    val kept = paras.join(firstOwner, Seq("__h"))
      .filter(col(idCol) === col("__keep_id") && col("pos") === col("__keep_pos"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("__p")))).as("__ps"))
      .select(col(idCol),
        array_join(transform(col("__ps"), x => x.getField("__p")), sep).as("clean_text"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-domain boilerplate paragraph removal (the RefinedWeb/CCNet line
    * filter, FREQUENCY form — the complement of [[paragraphDedup]]'s
    * first-occurrence rule): a paragraph appearing in at least `threshold`
    * of a DOMAIN's documents is template chrome (nav, cookie banners,
    * footers) and is stripped from EVERY document of that domain —
    * including the first; a genuinely shared quote across a few docs
    * survives. Remaining paragraphs reassemble in document order; docs
    * that were all boilerplate come back with empty `clean_text`.
    *
    * The threshold compare is exact integer arithmetic
    * (n_docs·10⁶ ≥ round(threshold·10⁶)·domain_total — no float ratio),
    * so verdicts reproduce on any engine. Shape at scale: paragraphs
    * shuffle by (domain, md5) for the document-frequency count, the
    * boilerplate key set (tiny by definition) anti-joins back, one
    * per-doc group reassembles — all keyed, no window over the corpus;
    * a domain costs its own paragraph count.
    *
    * Domains with fewer than `minDomainDocs` documents are left UNTOUCHED:
    * in a 1-doc domain every unique paragraph is "100% of the domain" and
    * the frequency rule would erase the document — the degenerate case the
    * production pipelines guard with a crawl-size floor.
    */
  def domainBoilerplateStrip(docs: DataFrame, domainCol: String = "source",
      textCol: String = "text", idCol: String = "doc_id",
      threshold: Double = 0.5, sep: String = "\n",
      minDomainDocs: Long = 2L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"domainBoilerplateStrip: threshold must be in (0, 1], got $threshold")
    require(minDomainDocs >= 1,
      s"domainBoilerplateStrip: minDomainDocs must be >= 1, got $minDomainDocs")
    val thr = math.floor(threshold * 1e6 + 0.5).toLong
    val paras = docs
      .select(col(idCol), col(domainCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("pos", "__p")))
      .withColumn("__p", trim(col("__p")))
      .filter(length(col("__p")) > 0)
      .withColumn("__h", md5(col("__p")))
    val domTotals = docs.groupBy(col(domainCol)).agg(count(lit(1)).as("__total"))
    val docFreq = paras.select(col(domainCol), col(idCol), col("__h")).distinct()
      .groupBy(col(domainCol), col("__h")).agg(count(lit(1)).as("__nd"))
    val boiler = docFreq.join(domTotals, Seq(domainCol))
      .filter(col("__total") >= minDomainDocs &&
        col("__nd") * lit(1000000L) >= lit(thr) * col("__total"))
      .select(col(domainCol), col("__h"))
    val kept = paras.join(boiler, Seq(domainCol, "__h"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("__p")))).as("__ps"))
      .select(col(idCol),
        array_join(transform(col("__ps"), x => x.getField("__p")), sep)
          .as("clean_text"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Exact duplicated-substring spans (the distributed form of
    * suffix-array substring dedup — Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every k-token window
    * whose exact text occurs more than once in the corpus marks its token
    * range duplicated, and overlapping/adjacent marked windows merge into
    * maximal spans. A span of `n >= k` duplicated tokens is exactly a
    * substring of `n` tokens repeated somewhere in the corpus — the same
    * signal the suffix array yields, built from a window groupBy instead
    * of a global sort.
    *
    * Output: one row per maximal span, `(id, span_start, span_tokens)`
    * (token offsets into the whitespace tokenization of the raw text).
    *
    * Scale shape: tokenize once per doc (per-doc window for the gram
    * assembly), ONE shuffle on the gram's 64-bit `xxhash64` for the
    * duplicate gate (the gram TEXT never leaves its map task — the hash is
    * computed before the exchange, a 6-8x narrower shuffle than shipping
    * k-token strings, the dominant byte volume of this operator at
    * 100 TB), a pair-scoped semi-join back, and a per-doc window for the
    * island merge. The ~n^2/2^65 collision odds of treating hash-equal
    * grams as text-equal are far below the noise floor of the dedup
    * decision itself; the canonical-occurrence pick stays exact (struct-min
    * over (doc, pos), independent of the key representation).
    */
  /** Raw whitespace-token rows (id, __pos, __w) — verbatim tokens, not the
    * normalized [[words]]: exact substring dedup is about verbatim
    * repetition, so case/punctuation must count.
    */
  private def rawTokenRows(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("__pos", "__w")))

  /** k-token window rows (id, __s, __gh) over the raw tokens — the shared
    * window assembly of [[duplicateSpans]] and [[removeDuplicateSpans]]
    * (lead-composed, linear work, one per-doc window sort). `__gh` is the
    * gram's `xxhash64`, computed BEFORE any exchange so only 8 bytes per
    * window ever shuffle — the gram text itself dies inside the map task.
    */
  private[pipeline] def windowRows(docs: DataFrame, k: Int, textCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val parts = col("__w") +: (1 until k).map(o => lead(col("__w"), o).over(wDoc))
    rawTokenRows(docs, textCol, idCol)
      .withColumn("__last", lead(col("__w"), k - 1).over(wDoc))
      .withColumn("__gh", xxhash64(concat_ws(" ", parts: _*)))
      .filter(col("__last").isNotNull)
      .select(col(idCol), col("__pos").as("__s"), col("__gh"))
  }

  def duplicateSpans(docs: DataFrame, k: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 2, s"window must be at least 2 tokens, got $k")
    val wins = windowRows(docs, k, textCol, idCol)
    val dup = wins.groupBy(col("__gh"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .select("__gh")
    val marked = wins.join(dup, Seq("__gh")).select(col(idCol), col("__s"))
    spansFromMarked(marked, k, idCol)
  }

  /** The gaps-and-islands tail of span dedup: fold marked window starts
    * (`__s`, covering tokens [__s, __s+k)) into maximal contiguous spans
    * per document. Per-doc window only — bounded by document length.
    * Shared by [[duplicateSpans]] (full-corpus gate) and
    * [[TextIndex.probeSpans]] (batch marks against the at-rest gram
    * index).
    */
  private[pipeline] def spansFromMarked(marked: DataFrame, k: Int,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a new span starts when __s clears the running max end of everything
    // before it
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("__s"))
    val prevEnd = max(col("__s") + k)
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("__new",
        when(prevEnd.isNull || col("__s") > prevEnd, 1).otherwise(0))
      .withColumn("__island", sum(col("__new")).over(wOrd))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__s")).as("span_start"),
        (max(col("__s")) + k - min(col("__s"))).as("span_tokens"))
      .select(col(idCol), col("span_start"), col("span_tokens"))
  }

  /** Per-document rollup of [[duplicateSpans]]: span count and duplicated
    * token total — the "fraction of the doc that is corpus-repeated
    * boilerplate" quality signal, join-ready against the doc table.
    */
  def duplicateSpanSignals(docs: DataFrame, k: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    duplicateSpans(docs, k, textCol, idCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("dup_tokens"))

  /** The REWRITE half of substring dedup (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): remove every
    * corpus-repeated k-token window from every document EXCEPT its
    * globally-first occurrence, and rebuild the text. The canonical
    * occurrence of a window is the minimum (doc_id, position) — a
    * deterministic, engine-portable choice — and a token survives if it is
    * outside every duplicated window, or covered by a KEPT (canonical)
    * window (keep wins over remove on overlap, so the canonical copy is
    * never mutilated by a neighboring span).
    *
    * Shape at scale: window assembly is [[windowRows]] (linear, one
    * per-doc sort); the duplicate gate + canonical pick is ONE keyed
    * aggregation on the gram (count + struct-min, partial map-side); the
    * k-fold position explode is bounded by k x windows; removal is a
    * keyed anti-join on (doc, position); reassembly sorts only within a
    * document (array_sort over the doc's surviving tokens — bounded by
    * document length, no corpus-wide window). The gram gate shuffles
    * 64-bit `xxhash64` keys, never gram text — see [[duplicateSpans]].
    * Output: every input doc as (id, clean_text, n_removed_tokens);
    * clean_text = '' when everything was removed or the doc was empty.
    */
  def removeDuplicateSpans(docs: DataFrame, k: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 2, s"window must be at least 2 tokens, got $k")
    val wins = windowRows(docs, k, textCol, idCol)
    val g = wins.groupBy(col("__gh"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col(idCol), col("__s"))).as("__first"))
      .filter(col("__n") > 1)
      .select(col("__gh"), col("__first"))
    val marked = wins.join(g, Seq("__gh"))
      .select(col(idCol), col("__s"),
        (col(idCol) === col("__first")(idCol) &&
          col("__s") === col("__first")("__s")).as("__keep"))
    // token positions covered by a duplicated window, net of keep-priority
    val rm = marked
      .select(col(idCol), col("__keep"),
        explode(sequence(col("__s"), col("__s") + k - 1)).as("__p"))
      .groupBy(col(idCol), col("__p"))
      .agg(max(col("__keep").cast("int")).as("__anyKeep"))
      .filter(col("__anyKeep") === 0)
      .select(col(idCol), col("__p"))
    val toks = rawTokenRows(docs, textCol, idCol)
    val kept = toks.join(rm,
      toks(idCol) === rm(idCol) && toks("__pos") === rm("__p"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("__pos"), col("__w")))),
          s => s("__w"))).as("clean_text"),
        count(lit(1)).as("__kept"))
    val totals = toks.groupBy(col(idCol)).agg(count(lit(1)).as("__total"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (coalesce(col("__total"), lit(0L)) - coalesce(col("__kept"), lit(0L)))
          .cast("long").as("n_removed_tokens"))
  }

  /** Near-duplicate clusters from a candidate-pair table: connected
    * components labeled by the minimum doc id in each component — the stage
    * after LSH + verify that picks ONE canonical document per duplicate
    * group.
    *
    * Iterative min-label propagation ("hash-to-min"): each step every node
    * takes the minimum of its own label and its neighbors' labels — one
    * equi-join + one partial aggregation per step, shuffled by node id.
    * Steps needed = the component diameter; dedup clusters are shallow
    * (stars/cliques around a few near-identical docs), so convergence is
    * 2-3 steps in practice.
    *
    * The first action runs ONE shallow step (it materializes the edge and
    * label caches — and the upstream candidate pipeline — exactly once);
    * every later action batches TWO steps in one plan and counts only the
    * SECOND step's label changes: `changed == 0` for the second step
    * proves the first step's output was already the fixpoint (one full
    * propagation left it untouched), so the usual star/clique graph — 2
    * propagation steps + 1 verify under a step-per-action loop — converges
    * in TWO driver-synchronized actions, and deep chains in ~half the
    * actions. The shuffle work per step is unchanged; what halves is
    * driver sync points, per-round cache materializations, and scheduler
    * round-trips — the actual cost driver when the candidate graph is
    * small relative to the cluster (at 100 TB the LSH pair graph is ~0.1%
    * of corpus bytes, so action cadence, not shuffle bandwidth, bounds
    * this stage there too). The driver only ever sees a 1-row convergence
    * count per action; labels stay distributed. Fails loudly if `maxIter`
    * steps don't converge (a pathological chain — raise maxIter or
    * pre-split the graph) rather than returning half-merged clusters.
    *
    * Why not alternating large-star/small-star (Kiveris et al. 2014):
    * that scheme halves ROUNDS on deep chains, but each round costs TWO
    * join+aggregate phases instead of one. Measured on the LSH candidate
    * graph at sf0.1, hash-to-min already converges in 2 propagation
    * rounds (+1 verification) — star alternation would do 2 phases x 2
    * rounds = the same four keyed shuffles with more plan overhead.
    * It becomes the right trade only when duplicate chains run deep
    * (diameter >> 4), which near-duplicate clusters, by construction
    * (band collision = high similarity), do not. A pointer-jump variant
    * (lbl := min(lbl, lbl(lbl)) per action) was measured on the sf0.1 ER
    * blocking graph and lost 8x to this loop — the extra per-action
    * materialization dominates until diameters reach the hundreds.
    *
    * SIZE-ADAPTIVE through [[Iterate]]: under its local cutover labels
    * come from a driver-side union-find instead — the loop's cost on a
    * small deep graph is pure action cadence (~0.75 s/action x
    * O(diameter) actions, measured on the 17-round ER chain graph), while
    * union-find is O(E alpha) — ~ms. Same fixpoint by construction (min
    * id per component), so gate hashes are unchanged; a spec pins local ==
    * distributed on a deep fixture. At 100 TB the candidate graph exceeds
    * any sane threshold and the distributed loop runs — this cutover only
    * removes the small-graph regime where a 1000-executor cluster would
    * otherwise burn seconds of scheduler round-trips on kilobytes of edges.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // the loop roots the pair list at a flat leaf: with an expensive
    // upstream expression (a Jaro-Winkler column filter, an LSH pipeline)
    // re-analyzing the caller's lineage at every reference took 300+ s on
    // a 7k-edge graph at sf0.1 while the actual shuffles were sub-second
    val it = Iterate(pairs.select(col("id_a"), col("id_b")))
    it.local().map(r => connectedComponentsLocal(it.caller, r.head, it.idType)).getOrElse {
      val p = it.edges
      val edges = it.root(p.select(col("id_a").as("a"), col("id_b").as("b"))
        .unionAll(p.select(col("id_b").as("a"), col("id_a").as("b"))).distinct())
      // step 1 folds into initialization: lbl = min(own id, nearest neighbor)
      val labels = edges.groupBy(col("a"))
        .agg(least(col("a"), min(col("b"))).as("lbl"))
        .select(col("a").as("id"), col("lbl"))
      // one propagation step as a plan fragment: (id, __old, lbl)
      def step(l: DataFrame): DataFrame = {
        val nbrMin = edges
          .join(l.select(col("id").as("b"), col("lbl").as("__nl")), "b")
          .groupBy(col("a")).agg(min(col("__nl")).as("__m"))
          .select(col("a").as("id"), col("__m"))
        l.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("lbl").as("__old"),
            least(col("lbl"), coalesce(col("__m"), col("lbl"))).as("lbl"))
      }
      // FIRST round: one shallow step — it materializes the symmetric edge
      // leaf exactly once. A deep two-step first job instead races its
      // independent cold-cache subtrees into recomputing it concurrently
      // (measured 1.5x slower when the upstream is an expensive
      // projection, e.g. curateCorpus's regex-heavy quality/language pass).
      // LATER rounds: two steps per action over the now-warm leaves,
      // counting only the SECOND step's changes — zero changes in the
      // second step proves the first step's labels were already the
      // fixpoint, so the usual star/clique graph (2 propagation steps +
      // 1 verify under step-per-action) finishes in TWO driver-
      // synchronized actions instead of three, and deep chains in
      // ~half the actions. The shuffle work per step is unchanged; what
      // halves is driver sync points and per-round materializations
      // — the cost driver when the candidate graph is small relative to
      // the cluster (at 100 TB the LSH pair graph is ~0.1% of corpus
      // bytes, so action cadence bounds this stage there too).
      // TWO is also the measured optimum for steps-per-action (round 11):
      // an unmaterialized persisted intermediate is referenced twice by
      // the next step, and within one job those references RACE the
      // not-yet-populated cache into recomputation — a 4-step chain
      // measured ~3x SLOWER on the 17-round ER chain graph (22 s vs
      // 7.6 s), the same cold-cache race the first-round note
      // describes. More steps per action compound it exponentially.
      // (A pointer-jump variant — lbl := min(lbl, lbl(lbl)) folded into
      // each action for O(log diameter) rounds — was MEASURED here on the
      // sf0.1 ER blocking graph and LOST 8x: the extra node-sized
      // self-join adds a materialization and two shuffle stages per
      // action, and this graph converges in a handful of rounds anyway.
      // At genuinely deep diameters the trade flips; see the class doc.)
      // The init is step 1 and round 0 step 2, so maxIter steps allow
      // (maxIter + 1) / 2 rounds.
      val (out, converged) = it.converge(labels, if (maxIter < 2) 0 else (maxIter + 1) / 2) {
        (s, r) => if (r == 0) step(s) else step(step(s.select("id", "lbl")).select("id", "lbl"))
      } { (s, _) => s.filter(col("lbl") < col("__old")).count() == 0 }
      if (!converged) it.release()
      require(converged, s"connectedComponents did not converge in $maxIter rounds")
      // reusers must persist the result: the iterative lineage is
      // expensive to replay
      it.result(out.select(col("id").as("doc_id"), col("lbl").as("cluster_id")))
    }
  }

  /** Driver-side ordering matching the distributed loop's `least`/`min`
    * semantics per id type, or None when the type has no such ordering
    * here (the cutover then stays on the distributed loop). Strings
    * compare as UNSIGNED UTF-8 BYTES — Spark's UTF8String.compareTo —
    * not Java's UTF-16 code units: the two differ on supplementary
    * characters (surrogate pairs sort above U+E000..U+FFFF in UTF-16
    * but below in UTF-8), and the min-id root must be the same id the
    * distributed loop would converge to.
    */
  private[pipeline] def localIdOrdering(idType: org.apache.spark.sql.types.DataType)
      : Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    idType match {
      case LongType => Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
      case ShortType => Some(Ordering.by((x: Any) => x.asInstanceOf[Short]))
      case StringType => Some(new Ordering[Any] {
        def compare(x: Any, y: Any): Int = {
          val a = x.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val b = y.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = math.min(a.length, b.length)
          var i = 0
          while (i < n) {
            val c = (a(i) & 0xff) - (b(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          a.length - b.length
        }
      })
      case _ => None
    }
  }

  /** Driver-side union-find over the [[Iterate]] cutover's pair rows:
    * path-halving find, union rooted at the smaller id, so every
    * component's root IS its min id — the exact fixpoint the distributed
    * loop converges to, hence identical labels and gate hashes. O(E alpha)
    * driver work vs O(diameter) cluster actions. Output:
    * (doc_id, cluster_id), one row per node, id type preserved.
    */
  private def connectedComponentsLocal(spark: org.apache.spark.sql.SparkSession,
      pairs: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types._
    // the cutover guarantees a supported type and no null ids
    val ord: Ordering[Any] = localIdOrdering(idType).get
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.get(x)
      while (p != x) {
        val gp = parent.get(p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.get(x)
      }
      x
    }
    pairs.foreach { r =>
      val a = r.get(0); val b = r.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    import scala.jdk.CollectionConverters._
    val rows = parent.keySet().asScala.toSeq
      .map(n => org.apache.spark.sql.Row(n, find(n)))
    val schema = StructType(Seq(
      StructField("doc_id", idType), StructField("cluster_id", idType)))
    val slices = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions, rows.size / 100000 + 1))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
  }

  /** Exact cosine for a caller-supplied candidate pair table (the verify
    * stage when candidates come from elsewhere — LSH bands, ANN, sampling).
    * Two id-equi-joins against the vector table; no product.
    */
  /** SemDeDup-style semantic dedup (cluster-then-prune over embeddings,
    * after Abbas et al. 2023, arXiv:2303.09540): assign every vector to
    * its nearest centroid ([[Similarity.ivfAssign]] — one kernel
    * projection over the driver-held centroids), generate WITHIN-CELL
    * candidate pairs only, and drop every vector that has a lower-id
    * clustermate at `cosine >= threshold` (cosine 6-decimal-rounded, so
    * the keep set is engine-exact). Never corpus-quadratic: pair generation is an
    * equi-join on the cell id, and cells above `maxCellSize` are excluded
    * from pruning (kept whole, same loud-in-scaladoc skew policy as the
    * LSH buckets — at scale the real control is training enough
    * centroids that cells stay small). The greedy lower-id rule is
    * deterministic and local to a pair: a vector is dropped iff ANY
    * lower-id neighbor clears the threshold, regardless of whether that
    * neighbor is itself dropped — the standard streaming-order greedy.
    *
    * Output: surviving (idCol, centroid_id) rows.
    */
  def semanticDedup(emb: DataFrame, centroids: DataFrame, threshold: Double,
      maxCellSize: Option[Int] = Some(DefaultMaxBucketSize),
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"semanticDedup: threshold must be in (0,1], got $threshold")
    val assigned = Similarity.ivfAssign(emb, centroids, idCol, vecCol)
      .select(col(idCol), col("centroid_id"))
    val pairSide = maxCellSize match {
      case Some(cap) =>
        val ok = assigned.groupBy(col("centroid_id"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") <= cap)
          .select(col("centroid_id"))
        assigned.join(ok, Seq("centroid_id"))
      case None => assigned
    }
    val pairs = pairSide.select(col("centroid_id"), col(idCol).as("id_a"))
      .join(pairSide.select(col("centroid_id"), col(idCol).as("id_b")), Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val dropped = cosineForPairs(emb, pairs, idCol, vecCol)
      .filter(col("cosine") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
  }

  def cosineForPairs(emb: DataFrame, pairs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val withNorm = emb.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__norm", sqrt(Similarity.dot(col("__v"), col("__v"))))
    pairs
      .join(withNorm.select(col(idCol).as("id_a"), col("__v").as("__va"),
        col("__norm").as("__na")), Seq("id_a"))
      .join(withNorm.select(col(idCol).as("id_b"), col("__v").as("__vb"),
        col("__norm").as("__nb")), Seq("id_b"))
      .filter(Similarity.sameWidth(col("__va"), col("__vb"), "cosineForPairs"))
      .withColumn("cosine", TextAnalysis.round6(
        Similarity.dot(col("__va"), col("__vb")) /
          (col("__na") * col("__nb"))))
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** The ≤`d`-deletion neighborhood of a string as an array column:
    * the string itself plus every variant reachable by deleting up to `d`
    * single characters (FastSS / SymSpell key set). Size is O(len^d).
    */
  private[pipeline] def deletionNeighborhood(s: Column, d: Int): Column = {
    // one codegen'd static call per term ([[TextKernel.deletionNeighborhood]])
    // — the composed transform/substr/array_distinct fold was interpreted
    // (HOF chain), len^d per-character work on the hottest ER expansion
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types._
    Bridge.staticInvoke(
      Class.forName("graft.pipeline.TextKernel"),
      ArrayType(StringType, containsNull = false), "deletionNeighborhood",
      Seq(s, lit(d)), Seq(StringType, IntegerType), returnNullable = false)
  }

  /** All DISTINCT term pairs within Levenshtein distance `maxDist` —
    * entity resolution / typo-variant mining (product codes, author
    * names, vocabulary normalization) via FastSS/SymSpell deletion
    * blocking (Bocek et al. 2007): two strings at edit distance <= d
    * share a member of their <= d-deletion neighborhoods (pigeonhole on
    * the edit script), so candidates meet in a plain equi-join on the
    * deletion key — recall-EXACT, product-free — and `levenshtein()`
    * refines. Neighborhood size is len^d per term: linear fan-out at
    * d=1; d=2 squares it and short strings funnel into near-empty
    * deletion keys (the hot-bucket shape — pre-filter minimum lengths
    * upstream when mining short-token vocabularies at d=2).
    * Output: (a, b, dist) with a < b, over the distinct term set.
    */
  def editDistancePairs(terms: DataFrame, termCol: String = "term",
      maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"editDistancePairs: maxDist must be 1 or 2, got $maxDist")
    val raw = terms.select(col(termCol).as("__t"))
      .filter(col("__t").isNotNull && length(col("__t")) >= 1)
    // Fan-out-aware partitioning for the deletion-key exchange: the work
    // AFTER it (Σ bucket² candidate pairs, each a banded levenshtein) is
    // orders of magnitude heavier per byte than the keyed rows themselves,
    // so AQE's byte-based coalescing folds the whole verify stage into ONE
    // task (measured: 4.5 s single-task stage on a 93 KB shuffle at sf0.1).
    // An explicit numPartitions (which AQE leaves alone) keeps the verify
    // stage wide — but it must be sized from the CANDIDATE count
    // Σ c·(c−1)/2 over deletion-key buckets, which is the work the verify
    // stage actually does. The TERM count cannot tell a heavy caller from
    // a light one: 15k customer names sharing long prefixes collide into
    // ~500k candidates (q226: 4.5 s serial), while 19.5k random 8-char
    // ids barely collide at all (q238: ~5k candidates) — and for the
    // light caller the parallelism-floored exchange plus the sizing pass
    // were a pure tax (measured 0.53 → 0.83 s in round 13). The stats
    // pass map-side-combines to one row per distinct key before its
    // exchange, so it stays cheap at any scale; callers below the cutoff
    // skip the explicit exchange entirely and keep AQE's coalesced
    // few-fat-task layout (the q182 lesson: that layout WINS when the
    // post-exchange work is small).
    val spark = terms.sparkSession
    val t = raw.distinct()
    val keyed0 = t.select(col("__t"),
      explode(deletionNeighborhood(col("__t"), maxDist)).as("__k"))
    val candRow = keyed0.groupBy(col("__k")).agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c") * (col("__c") - lit(1L))).as("__c2")).head()
    val cand = if (candRow.isNullAt(0)) 0L else candRow.getLong(0) / 2
    val perPart = spark.conf.getOption("graft.er.candidatesPerPartition")
      .map(_.toLong).getOrElse(16384L)
    val cap = 4L * spark.conf.get("spark.sql.shuffle.partitions").toInt
    val keyed =
      if (cand <= 2 * perPart) keyed0
      else keyed0.repartition(
        math.min((cand + perPart - 1) / perPart, cap).toInt, col("__k"))
    // verify BEFORE dedup: levenshtein is a codegen'd scalar on the join
    // output, so filtering first means the distinct exchange carries only
    // TRUE pairs (a few per key) instead of every candidate co-occurrence.
    // The threshold form runs the banded O(maxDist·len) DP and returns -1
    // above the bound — same distances for every surviving pair, ~len/d
    // times less work on the rejected majority.
    keyed.select(col("__t").as("a"), col("__k"))
      .join(keyed.select(col("__t").as("b"), col("__k")), Seq("__k"))
      .filter(col("a") < col("b"))
      .withColumn("dist", levenshtein(col("a"), col("b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist")).distinct()
  }

  /** Sorted-neighborhood blocking (Hernández/Stolfo 1995 — the OTHER
    * classic record-linkage candidate scheme next to key blocking): sort
    * the corpus by a blocking key and pair every record with the `window-1`
    * records that FOLLOW it in the order. Where deletion/LSH blocking
    * needs a similarity structure on the key, SNM only needs an ORDER —
    * near-duplicates with slightly different keys (typo'd names, close
    * lengths, adjacent timestamps) still land within the window.
    *
    * Scale shape: the global order comes from [[graft.ops.Ranking.globalRank]]
    * (range-partition + per-range offsets — NO corpus-wide window), and the
    * windowed pairing is an equi-join on rank blocks of size `window-1`:
    * a row joins only its own block and the next (each row ships exactly
    * twice), so a window meets in a keyed join, never a cross product or a
    * self-join on an inequality. Output is exactly
    * { (a, b) : 0 < rank(b) − rank(a) < window } — every record pairs with
    * its following w−1 neighbors, ~n·(window−1) rows total.
    *
    * Determinism: ties on `keyCol` are broken by `idCol` (must be unique).
    * Output: (id_a, id_b, key_a, key_b) with rank(a) < rank(b).
    */
  def sortedNeighborPairs(df: DataFrame, keyCol: String, idCol: String,
      window: Int): DataFrame = {
    require(window >= 2, s"sortedNeighborPairs: window must be >= 2, got $window")
    val ranked = graft.ops.Ranking.globalRank(
      df.select(col(idCol), col(keyCol)), Seq(keyCol, idCol), "__r")
    snmPairsFromRanked(ranked, keyCol, idCol, window)
  }

  /** The SNM block join over an already-ranked frame (`__r` = dense
    * global rank in blocking-key order): pairs at rank distance
    * 1..window-1. Shared by [[sortedNeighborPairs]] (which pays the
    * corpus-wide range sort to get `__r`) and
    * [[ErIndex.snmPairsAtRest]] (which derives `__r` from the stored
    * layout with no range exchange).
    */
  private[pipeline] def snmPairsFromRanked(ranked: DataFrame, keyCol: String,
      idCol: String, window: Int): DataFrame = {
    require(window >= 2, s"snmPairsFromRanked: window must be >= 2, got $window")
    val b = window - 1L // neighbor distance 1..window-1
    // a-side rows also probe the NEXT block: partners of rank r live in
    // blocks floor(r/b) and floor(r/b)+1
    val aSide = ranked.select(col(idCol).as("id_a"), col(keyCol).as("key_a"),
        col("__r").as("__ra"),
        explode(array(floor(col("__r") / b), floor(col("__r") / b) + 1))
          .as("__blk"))
    val bSide = ranked.select(col(idCol).as("id_b"), col(keyCol).as("key_b"),
      col("__r").as("__rb"), floor(col("__r") / b).as("__blk"))
    aSide.join(bSide, Seq("__blk"))
      .filter(col("__rb") - col("__ra") >= 1 && col("__rb") - col("__ra") <= b)
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"))
  }
}
