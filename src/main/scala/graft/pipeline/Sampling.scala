package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixing.
  *
  * Random `df.sample` is neither reproducible across runs/partitionings nor
  * oracle-verifiable; these operators derive the sampling decision from a
  * salted md5 of the row key, so the same row is selected on every engine,
  * every partitioning, every rerun — the property a 100 TB curation
  * pipeline needs for resumable, auditable mixes.
  */
object Sampling {

  /** uint32 from the first 8 hex digits of md5(salt:key) — a uniform
    * [0, 2^32) value identical in any md5-bearing engine.
    */
  def keyHash32(key: Column, salt: String): Column =
    keyHash32(key, lit(salt))

  /** Column-salt form (also the `graft_hash32(key, salt)` SQL function). */
  def keyHash32(key: Column, salt: Column): Column =
    conv(substring(md5(concat(salt, lit(":"), key.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** Uniform deterministic sample: keep a row iff hash32(key) < fraction *
    * 2^32. A pure filter — predicate-pushdown friendly, no shuffle, no
    * state; changing `salt` draws an independent sample.
    */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
      salt: String = "s"): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction not in [0,1]")
    val cut = math.round(fraction * 4294967296.0)
    df.filter(keyHash32(col(keyCol), salt) < lit(cut))
  }

  /** Per-ROW weighted Bernoulli sample: keep a row iff
    * hash32(key) < floor(min(rate * weight, 1) * 2^32) — the
    * quality-weighted subsampling every curation pipeline runs (keep
    * high-quality documents at a higher rate without a shuffle or a
    * per-stratum pass; cf. CCNet/Gopher quality buckets, but continuous).
    * Like [[hashSample]] it is a pure deterministic filter — pushdown
    * friendly, stateless, independent draws per `salt` — and the per-row
    * cut lands on the 2^32 integer grid via one IEEE multiply + floor,
    * so any engine reproduces membership bit-for-bit. Weights < 0 or
    * NULL drop the row (a NULL weight is a data bug to surface upstream,
    * not a coin to flip); weights above 1/rate cap at certain keep.
    */
  def weightedHashSample(df: DataFrame, keyCol: String, weightCol: String,
      rate: Double, salt: String = "wq"): DataFrame = {
    require(rate >= 0.0, s"weightedHashSample: rate must be >= 0, got $rate")
    val w = col(weightCol).cast("double")
    // least() SKIPS nulls (least(null, 1.0) = 1.0), which would silently
    // keep every null-weight row at full rate — gate on non-null first so
    // a null weight yields a null cut and the filter drops the row
    val cut = when(w.isNotNull,
      floor(least(w * rate, lit(1.0)) * 4294967296.0))
    df.filter(keyHash32(col(keyCol), salt) < cut)
  }

  /** TEMPERATURE-scaled mixture sampling — the multilingual/multi-source
    * rebalancing rule (sample group g with probability ∝ n_g^α, α < 1
    * upweights small groups): draw ~`budget` rows total with per-group
    * keep-rate r_g = min(1, budget·w_g / (Σw · n_g)) where w_g = √n_g
    * (α fixed at 1/2 — IEEE sqrt is correctly rounded where pow is not,
    * so the rates reproduce on any engine; w_g and the per-group rates
    * snap to the 1e-6 grid and Σw sums in exact decimal). The draw
    * itself is the [[mixtureSample]] hash-cut filter.
    *
    * Shape at scale: one keyed count (partial agg) over strata, a 1-row
    * ΣW broadcast, and a broadcast join of the O(groups) rate table onto
    * the corpus — then a stateless pushdown-friendly filter. No window,
    * no driver collect.
    */
  def temperatureMixture(df: DataFrame, stratumCol: String, keyCol: String,
      budget: Long, salt: String = "s"): DataFrame = {
    require(budget >= 0, s"temperatureMixture: budget must be >= 0, got $budget")
    val r6 = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
    val counts = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", r6(sqrt(col("__n"))))
    val sumW = counts.agg(
      sum(col("__w").cast("decimal(28,6)")).cast("double").as("__sw"))
    val rates = counts.crossJoin(broadcast(sumW))
      .select(col(stratumCol),
        r6(least(lit(1.0),
          lit(budget.toDouble) * col("__w") / (col("__sw") * col("__n"))))
          .as("__rate"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(keyHash32(col(keyCol), salt) <
        floor(col("__rate") * 4294967296.0))
      .drop("__rate")
  }

  /** Per-stratum quota: the `n` rows of each stratum with the smallest key
    * hashes (hash order = a deterministic shuffle, so this is a reproducible
    * uniform-without-replacement draw per stratum). One shuffle by stratum;
    * a hot stratum streams through a single reducer's window, but only its
    * first `n` rows are retained, so the state is O(n) — for quotas large
    * enough to matter, pre-filter with [[hashSample]] at ~2x the target rate
    * first to cut the sort input.
    */
  def stratifiedQuota(df: DataFrame, stratumCol: String, keyCol: String,
      n: Int, salt: String = "s"): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(keyHash32(col(keyCol), salt), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** PRIORITY SAMPLING (Duffield, Lund & Thorup 2007) — a FIXED-SIZE
    * weighted sample without replacement, plus the threshold estimator
    * that makes it a subset-sum sketch: each row draws priority
    * q = w / u with u uniform on (0, 1], the sample is the n highest
    * priorities, and every kept row carries `est_w = max(w, tau)` where
    * tau is the (n+1)-th priority — so for ANY downstream subset S,
    * E[Σ_{kept ∩ S} est_w] = Σ_S w (the estimator the one-pass "sample
    * now, slice arbitrarily later" telemetry/corpus-audit pipelines
    * need; [[weightedHashSample]] is its Bernoulli cousin with random
    * size, [[stratifiedQuota]] its unweighted one).
    *
    * Deterministic and engine-portable by construction: u = (hash32+1) /
    * 2^32 from the salted md5 draw, so the priority is
    * `w * 2^32 / (hash32 + 1)` — one exact power-of-two scaling and one
    * correctly-rounded IEEE division; every engine computes the
    * bit-identical double (the non-portable transcendentals in the
    * classic exp-key form u^(1/w) are exactly what this form avoids).
    * Ties order by key. NULL and non-positive weights drop (never
    * sampled — surface those upstream).
    *
    * Scale shape: global draws (strataCols empty) lower to
    * TakeOrderedAndProject over n+1 rows — top-k machinery, no global
    * sort, no corpus-wide window (the (n+1)-row tail window that derives
    * tau is bounded by the sample size, same justification as the
    * heavy-hitter top-k). Per-stratum draws use a per-stratum window
    * bounded by stratum population — [[stratifiedQuota]]'s shape and the
    * same pre-filter advice for very hot strata.
    * Output: input columns + (priority, est_w).
    */
  def prioritySample(df: DataFrame, keyCol: String, weightCol: String,
      n: Int, strataCols: Seq[String] = Nil, salt: String = "pri"): DataFrame = {
    require(n >= 1, s"prioritySample: n must be >= 1, got $n")
    val w = col(weightCol).cast("double")
    val u = keyHash32(col(keyCol), salt) + 1L // in [1, 2^32]
    val base = df.filter(w.isNotNull && w > 0.0)
      .withColumn("priority", w * lit(4294967296.0) / u)
    if (strataCols.isEmpty) {
      finishGlobal(base.orderBy(col("priority").desc, col(keyCol)).limit(n + 1),
        n, keyCol, w)
    } else {
      val part = strataCols.map(col)
      val wRank = Window.partitionBy(part: _*)
        .orderBy(col("priority").desc, col(keyCol))
      val ranked = base.withColumn("__rn", row_number().over(wRank))
      val taus = ranked.filter(col("__rn") === n + 1)
        .select(strataCols.map(col) :+ col("priority").as("__tau"): _*)
      ranked.filter(col("__rn") <= n)
        .join(taus, strataCols, "left")
        .withColumn("est_w", greatest(w, coalesce(col("__tau"), lit(0.0))))
        .drop("__rn", "__tau")
    }
  }

  /** Shared tail of the global draw: from <= n+1 candidate rows (already
    * the priority top-(n+1)), derive tau = the (n+1)-th priority (absent
    * when the population is <= n) and emit the n kept rows with est_w.
    * The window runs over <= n+1 rows — bounded by the sample, never by
    * data.
    */
  private def finishGlobal(top: DataFrame, n: Int, keyCol: String,
      w: Column): DataFrame = {
    val wAll = Window.orderBy(col("priority").desc, col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    top
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("priority").desc, col(keyCol))))
      .withColumn("__tau",
        when(count(lit(1)).over(wAll) === n + 1, min(col("priority")).over(wAll)))
      .filter(col("__rn") <= n)
      .withColumn("est_w", greatest(w, coalesce(col("__tau"), lit(0.0))))
      .drop("__rn", "__tau")
  }

  /** [[prioritySample]]'s MERGEABLE STATE: the priority top-(n+1) rows
    * (input columns + `priority`) — one more row than the sample, because
    * the (n+1)-th priority is tau, the threshold the estimator needs.
    * States over DISJOINT row sets merge exactly: the union's top-(n+1)
    * is contained in the union of per-part top-(n+1)s (the superset
    * property), so [[prioritySampleMerge]] over shard/day/batch states
    * reproduces [[prioritySample]] over the union bit-for-bit — the
    * distributed/streaming form of the weighted reservoir (a batch writes
    * its state once; merging never touches raw rows again).
    */
  def prioritySampleState(df: DataFrame, keyCol: String, weightCol: String,
      n: Int, salt: String = "pri"): DataFrame = {
    require(n >= 1, s"prioritySampleState: n must be >= 1, got $n")
    val w = col(weightCol).cast("double")
    val u = keyHash32(col(keyCol), salt) + 1L
    df.filter(w.isNotNull && w > 0.0)
      .withColumn("priority", w * lit(4294967296.0) / u)
      .orderBy(col("priority").desc, col(keyCol)).limit(n + 1)
  }

  /** Merge [[prioritySampleState]]s built with the SAME (n, salt) over
    * disjoint inputs: union, re-top to n+1, then the standard tau/est_w
    * tail — exactly [[prioritySample]] of the concatenated input.
    * The union holds <= states*(n+1) rows; the re-top is the same
    * TakeOrderedAndProject shape.
    */
  def prioritySampleMerge(states: Seq[DataFrame], keyCol: String,
      weightCol: String, n: Int): DataFrame = {
    require(states.nonEmpty, "prioritySampleMerge: need at least one state")
    val all = states.reduce(_.unionByName(_))
    finishGlobal(all.orderBy(col("priority").desc, col(keyCol)).limit(n + 1),
      n, keyCol, col(weightCol).cast("double"))
  }

  /** CLUSTER-BALANCED sampling — diversity sampling over embedding space
    * (the D4/SemDeDup-lineage selection step: cluster the corpus, then
    * draw evenly per cluster so no dense region dominates the training
    * mix): assign every vector to its nearest centroid
    * ([[Similarity.ivfAssign]] — one kernel projection over the
    * driver-held centroids, no join or aggregate) and keep a
    * deterministic per-cell quota ([[stratifiedQuota]] — salted-hash
    * order, so the draw is reproducible and engine-portable). The
    * per-cell window is bounded by cell population, the only corpus-wide
    * work is the assignment projection.
    * Output: (idCol, centroidIdCol) of the kept vectors.
    */
  def clusterBalancedSample(vecs: DataFrame, centroids: DataFrame,
      perCell: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id",
      salt: String = "cb"): DataFrame = {
    require(perCell >= 1,
      s"clusterBalancedSample: perCell must be >= 1, got $perCell")
    val assigned = Similarity.ivfAssign(vecs, centroids, idCol, vecCol, centroidIdCol)
      .select(col(idCol), col(centroidIdCol))
    stratifiedQuota(assigned, centroidIdCol, idCol, perCell, salt)
  }

  /** Deterministic train/val/test assignment: the salted key hash lands in
    * `[0, 2^32)` and each split owns a contiguous range sized by its
    * weight (cumulative cuts rounded at 2^32 granularity). A pure
    * projection — no shuffle, no state, pushdown-friendly — and the same
    * row lands in the same split on every engine, partitioning, and rerun,
    * which is what makes a 100 TB holdout auditable: membership is a
    * function of the key alone, so late-arriving data or a re-run never
    * moves a document across the train/eval boundary (the classic
    * leakage bug with `randomSplit`). Weights must be positive and sum to
    * ~1 (±1e-9); the last split absorbs the rounding tail. Output: input
    * columns + `split`.
    */
  def splitAssign(df: DataFrame, keyCol: String,
      weights: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt: String = "split"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"splitAssign: weights must be positive, got $weights")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"splitAssign: weights must sum to 1, got ${weights.map(_._2).sum}")
    val cuts = weights.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.round(c * 4294967296.0))
    val h = keyHash32(col(keyCol), salt)
    // last cut is forced to 2^32 so the tail absorbs rounding
    val expr0 = weights.init.zip(cuts.init).foldRight(
      lit(weights.last._1): Column) { case (((name, _), cut), rest) =>
      when(h < lit(cut), lit(name)).otherwise(rest)
    }
    df.withColumn("split", expr0)
  }

  /** Deterministic global shuffle into `numShards` ordered shards — the
    * training-export ordering primitive ("shuffle the corpus, write N
    * shard files"). `shard = hash32 % numShards`; within a shard, rows
    * order by `(hash32, key)`. One keyed shuffle plus a per-shard sort —
    * never a global sort — and the uniform hash keeps shards balanced.
    * The same salt reproduces a byte-identical epoch order on any engine
    * or partitioning; a new salt is a fresh epoch permutation. Output:
    * input columns + (`shard` int, `pos` long, 0-based within shard).
    */
  def shardShuffle(df: DataFrame, keyCol: String, numShards: Int,
      salt: String = "epoch0"): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col(keyCol))
    df.withColumn("__h", keyHash32(col(keyCol), salt))
      .withColumn("shard", pmod(col("__h"), lit(numShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .drop("__h")
  }

  /** Write the frame as JSONL TRAINING SHARDS — the interchange format
    * every training stack ingests: one `shard=N/` directory per
    * [[shardShuffle]] shard, holding newline-delimited JSON rows in the
    * deterministic epoch order (lines sorted by the shard-shuffle `pos`).
    * `to_json(struct(...))` is the codegen'd JacksonGenerator path — no
    * UDF; the text sink writes one string column under dynamic partition
    * folders. Read back with `spark.read.json(path)` (the `shard` column
    * returns via partition discovery) — the q188 gate round-trips exactly
    * that.
    */
  def writeJsonlShards(df: DataFrame, keyCol: String, numShards: Int,
      path: String, salt: String = "epoch0"): Unit = {
    val cols = df.columns
    shardShuffle(df, keyCol, numShards, salt)
      .select(col("shard"), col("pos"),
        to_json(struct(cols.map(col): _*)).as("value"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .select(col("shard"), col("value"))
      .write.mode("overwrite").partitionBy("shard").text(path)
  }

  /** Pack documents into fixed-token-budget training sequences:
    * next-fit-by-offset packing over the [[shardShuffle]] order. A doc
    * starts at the running token offset of its shard predecessors and is
    * assigned `seq_in_shard = floor(start / budget)` — so a sequence's
    * token total stays under `budget + (longest member - 1)` (a doc that
    * straddles a boundary joins the later sequence; docs longer than the
    * budget span one on their own, so sequence ids may skip after them).
    * Deterministic, one shuffle: the
    * running sum, the sequence id, and the position all ride the same
    * shard partitioning (the (shard, seq) window re-sorts locally, no
    * second exchange — pinned in PlanShapeSpec). Output: input columns +
    * (`shard` int, `seq_in_shard` long, `pos_in_seq` long).
    */
  def packSequences(df: DataFrame, tokensCol: String, budget: Long,
      numShards: Int, keyCol: String, salt: String = "epoch0"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val sharded = df
      .withColumn("__h", keyHash32(col(keyCol), salt))
      .withColumn("shard", pmod(col("__h"), lit(numShards.toLong)).cast("int"))
    val wRun = Window.partitionBy(col("shard")).orderBy(col("__h"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wSeq = Window.partitionBy(col("shard"), col("seq_in_shard"))
      .orderBy(col("__h"), col(keyCol))
    sharded
      .withColumn("__start",
        coalesce(sum(col(tokensCol).cast("long")).over(wRun), lit(0L)))
      .withColumn("seq_in_shard", floor(col("__start") / lit(budget.toDouble)))
      .withColumn("pos_in_seq", row_number().over(wSeq).cast("long") - 1)
      .drop("__h", "__start")
  }

  /** Per-stratum sampling at stratum-specific rates (the "mixture weights"
    * surface: {lang -> fraction}). Rows of unlisted strata are dropped.
    * Broadcast map join in expression form — still a pure filter.
    */
  def mixtureSample(df: DataFrame, stratumCol: String, keyCol: String,
      fractions: Map[String, Double], salt: String = "s"): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0), "fractions must be in [0,1]")
    val cut = fractions.foldLeft(lit(-1L)) { case (acc, (k, f)) =>
      when(col(stratumCol) === k, lit(math.round(f * 4294967296.0))).otherwise(acc)
    }
    df.filter(keyHash32(col(keyCol), salt) < cut)
  }

  /** Per-domain document cap: keep the `n` best rows of each domain by
    * `(orderCol DESC, keyCol ASC)` — the "no single site dominates the
    * corpus" rule of web-scale curation (CCNet/RefinedWeb-style per-domain
    * quotas), selecting the highest-quality survivors rather than a random
    * draw ([[stratifiedQuota]] is the uniform-draw form). One shuffle keyed
    * by domain; a hot domain streams through one reducer's rank but
    * retains only `n` rows of state. For caps large enough to matter,
    * pre-filter cheap obvious losers first to cut the sort input.
    */
  def domainCap(df: DataFrame, domainCol: String, keyCol: String,
      orderCol: String, n: Int): DataFrame = {
    require(n > 0, s"domainCap: n must be positive, got $n")
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col(orderCol).desc, col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Per-domain temperature-sampling rates: weight each domain
    * `w_d = n_d^alpha` (alpha < 1 flattens the head, upweighting small
    * domains — the multilingual/data-mixing temperature rule), then size
    * the per-domain keep rate so the expected total is
    * `targetFraction * N`:
    * `rate_d = min(1, targetFraction * N * w_d / (sum_w * n_d))`,
    * 6-decimal-rounded (IEEE floor form) so the rate is engine-exact.
    * Two tiny aggregates (domain counts + their sum); the corpus itself is
    * never shuffled. Output: (domain, n_docs, rate).
    */
  def temperatureRates(df: DataFrame, domainCol: String, alpha: Double,
      targetFraction: Double): DataFrame = {
    require(alpha > 0, s"temperatureRates: alpha must be positive, got $alpha")
    require(targetFraction > 0 && targetFraction <= 1,
      s"temperatureRates: targetFraction must be in (0,1], got $targetFraction")
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("__w", pow(col("n_docs").cast("double"), lit(alpha)))
    val totals = counts.agg(sum(col("__w")).as("__tw"),
      sum(col("n_docs")).as("__tn"))
    val rate6 = floor(
      least(lit(targetFraction) * col("__tn").cast("double") * col("__w") /
        (col("__tw") * col("n_docs").cast("double")), lit(1.0)) * 1e6 + 0.5) / 1e6
    counts.crossJoin(broadcast(totals))
      .select(col(domainCol), col("n_docs"), rate6.as("rate"))
  }

  /** Filter `df` by the deterministic hash draw at its domain's
    * [[temperatureRates]] rate. The rates table is domain-cardinality
    * small — broadcast — so the corpus sees one scan + one broadcast hash
    * join, no shuffle. Same-salt reproducibility as [[hashSample]].
    * Output: input columns + the domain's `rate`.
    */
  def temperatureSample(df: DataFrame, domainCol: String, keyCol: String,
      alpha: Double, targetFraction: Double, salt: String = "temp"): DataFrame = {
    val rates = temperatureRates(df, domainCol, alpha, targetFraction)
    df.join(broadcast(rates.select(col(domainCol), col("rate"))), Seq(domainCol))
      .filter(keyHash32(col(keyCol), salt) <
        floor(col("rate") * 4294967296.0).cast("long"))
  }

  /** UniMax budget allocation (Chung et al. 2023): distribute a row budget
    * across groups (languages/sources) as UNIFORMLY as possible subject to
    * a per-group capacity cap of `maxEpochs`·n_g — the multilingual mixing
    * rule that replaced temperature scaling for mT5-class training mixes
    * (small languages get their full capacity, large languages split the
    * remaining budget evenly). The allocation is the classic waterfill:
    * sort groups by capacity ascending, saturate while
    * cap_i·(G-i+1) + Σ_{j<i} cap_j <= B, split what remains evenly as the
    * water level L; alloc_g = min(cap_g, L).
    *
    * Every step is engine-exact: capacities snap to the 1e-6 grid, prefix
    * sums accumulate in DECIMAL(28,6), the saturation test is pure decimal
    * arithmetic, and the two float divisions (level, rate) snap round6.
    * The waterfill windows run over the G-row counts frame (G = number of
    * groups — bounded, never the corpus). `rate` may exceed 1 when
    * maxEpochs > 1: that is the group's allocated EPOCH count (a repeat
    * plan for the loader); the row filter in [[unimaxSample]] caps at 1.
    * Output: (group, n_rows, cap_rows, rate).
    */
  def unimaxRates(df: DataFrame, groupCol: String, budget: Long,
      maxEpochs: Double = 1.0): DataFrame = {
    require(budget >= 0, s"unimaxRates: budget must be >= 0, got $budget")
    require(maxEpochs > 0, s"unimaxRates: maxEpochs must be > 0, got $maxEpochs")
    val r6 = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
    val dec = (c: Column) => c.cast("decimal(28,6)")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_rows"))
      .withColumn("cap_rows", r6(col("n_rows") * lit(maxEpochs)))
    val w = Window.orderBy(col("cap_rows"), col(groupCol))
    val ann = counts
      .withColumn("__i", row_number().over(w))
      .withColumn("__s", sum(dec(col("cap_rows"))).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(counts.agg(count(lit(1)).as("__g"))))
    val sat = ann.filter(
      dec(col("cap_rows")) * (col("__g") - col("__i") + lit(1)) +
        (col("__s") - dec(col("cap_rows"))) <= dec(lit(budget)))
    val kRow = sat.agg(coalesce(max(col("__i")), lit(0)).as("__k"),
      coalesce(max(col("__s")), dec(lit(0))).as("__sk"))
    // water level: evenly split what the saturated prefix leaves over the
    // G-k unsaturated groups; all-saturated -> alloc = cap everywhere
    ann.crossJoin(broadcast(kRow))
      .select(col(groupCol), col("n_rows"), col("cap_rows"),
        r6(when(col("__g") === col("__k"), col("cap_rows"))
          .otherwise(least(col("cap_rows"),
            r6((lit(budget.toDouble) - col("__sk").cast("double")) /
              (col("__g") - col("__k")))))
          / col("n_rows")).as("rate"))
  }

  /** LENGTH-BUCKETED inference batching: rows of similar length are
    * chunked into fixed-size batches so in-batch padding waste is bounded
    * by the bucket width — the dynamic-batching prep every batched
    * inference/embedding pass runs (padding to the batch max costs
    * (max-len)·batch tokens; random batching wastes ~50% on a skewed
    * length distribution, bucketing caps it at bucketWidth/len).
    * bucket = floor(len / bucketWidth); within a bucket rows order by
    * (len, key) — deterministic — and chunk into `batchSize` rows:
    * batch = (bucket, batch_in_bucket), batch_rank = position. The
    * per-bucket window's state is one running count; a bucket streams
    * through one task's sort, so buckets are the parallelism unit — at
    * corpus scale prepend a [[hashSample]]-salted sub-bucket key to split
    * hot buckets (the stratifiedQuota note, same trade).
    * Output: input columns + (bucket, batch_in_bucket, batch_rank).
    */
  def lengthBucketedBatches(df: DataFrame, keyCol: String, lenCol: String,
      bucketWidth: Long, batchSize: Int): DataFrame = {
    require(bucketWidth >= 1, s"lengthBucketedBatches: bucketWidth >= 1, got $bucketWidth")
    require(batchSize >= 1, s"lengthBucketedBatches: batchSize >= 1, got $batchSize")
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col(lenCol), col(keyCol))
    df.filter(col(lenCol).isNotNull)
      .withColumn("bucket", floor(col(lenCol) / bucketWidth).cast("long"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("batch_in_bucket",
        floor((col("__rn") - 1) / batchSize).cast("long"))
      .withColumn("batch_rank", pmod(col("__rn") - 1, lit(batchSize)).cast("int"))
      .drop("__rn")
  }

  /** Rendezvous / highest-random-weight shard assignment (Thaler &
    * Ravishankar 1996): key -> argmax over shards of
    * hash32("<salt>:<shard>:<key>"). THE stable routing rule for
    * shard/cache/writer assignment at fleet scale: removing a shard
    * reassigns ONLY the keys that lived on it (their runner-up wins;
    * everyone else's argmax is untouched), adding one steals ~1/(n+1)
    * of each — no remap tables, no ring maintenance, and any engine
    * recomputes the same assignment from the shard list alone. A
    * stateless codegen projection (shards are literals folded into the
    * expression tree — keep the list broadcast-sized); hash ties break
    * to the larger shard name, deterministically.
    */
  def rendezvousAssign(df: DataFrame, keyCol: String, shards: Seq[String],
      salt: String = "rv"): DataFrame = {
    require(shards.nonEmpty, "rendezvousAssign: empty shard list")
    require(shards.distinct.size == shards.size,
      s"rendezvousAssign: duplicate shard names in $shards")
    val weighted = shards.map(sh =>
      struct(keyHash32(col(keyCol), s"$salt:$sh").as("h"), lit(sh).as("s")))
    val win = if (weighted.size == 1) weighted.head
      else greatest(weighted: _*)
    df.withColumn("shard", win.getField("s"))
  }

  /** Filter `df` by the deterministic hash draw at its group's capped
    * [[unimaxRates]] rate — broadcast rates join + stateless hash-cut
    * filter, same corpus shape as [[temperatureSample]]. Rates above 1
    * (epoch plans) cap at certain keep; repetition is the loader's job.
    */
  def unimaxSample(df: DataFrame, groupCol: String, keyCol: String,
      budget: Long, maxEpochs: Double = 1.0, salt: String = "s"): DataFrame = {
    val rates = unimaxRates(df, groupCol, budget, maxEpochs)
    df.join(broadcast(rates.select(col(groupCol), col("rate"))), Seq(groupCol))
      .filter(keyHash32(col(keyCol), salt) <
        floor(least(col("rate"), lit(1.0)) * 4294967296.0).cast("long"))
  }
}
