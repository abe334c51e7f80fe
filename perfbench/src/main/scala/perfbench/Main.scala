package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.util.{Random, Try}

import org.apache.spark.sql.SparkSession

/** Totals per span name over the traced ops: calls, wall time, and the
  * Spark work of the jobs started inside each span's subtree.
  */
final class SpanAgg(tracer: Tracer, jobs: Seq[JobRec]) {
  private val byId = tracer.spans.map(s => s.id -> s).toMap
  private val jobsBySpan = jobs.groupBy(_.span)
  private val kids = tracer.spans.groupBy(_.parent).map { case (p, ss) => p -> ss.map(_.id).toSeq }

  /** The span itself plus every span below it. */
  private def subtree(id: Long): Seq[Long] =
    id +: kids.getOrElse(id, Nil).flatMap(subtree)

  private def named(name: String): Seq[Span] = tracer.spans.filter(_.name == name).toSeq

  def calls(name: String): Int = named(name).size

  def meanS(name: String): Double = {
    val s = named(name)
    if (s.isEmpty) 0.0 else s.map(_.durNs).sum / 1e9 / s.size
  }

  def jobsIn(name: String): Seq[JobRec] =
    named(name).flatMap(s => subtree(s.id)).flatMap(id => jobsBySpan.getOrElse(id, Nil))

  def spanOf(id: Long): Option[Span] = byId.get(id)
}

final case class OpRecord(index: Int, kind: String, write: Boolean, latencyS: Double,
    ok: Boolean, error: String, startMs: Long, endMs: Long, cacheBlocks: Long, cacheMb: Double)

/** `run.py` launches this with the workload, seed, seconds and trace flag;
  * the last stdout line is the result object.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      tiny: Boolean, out: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("size").contains("tiny"), need("out"))
  }

  /** Set-up repetitions per untraced run; `setup_s` is their median. A
    * traced run does not report `setup_s` and sets up once.
    */
  val SetupReps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_latency_s" -> "s", "ops_per_s" -> "1/s", "read_latency_s" -> "s",
    "write_latency_s" -> "s", "ok_frac" -> "frac", "heap_retained_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count/op", "spark.driver_s" -> "s/op", "spark.jobs_s" -> "s/op",
    "spark.stages" -> "count/op", "spark.tasks" -> "count/op",
    "spark.task_cpu_s" -> "s/op", "spark.task_wait_s" -> "s/op", "spark.gc_s" -> "s/op",
    "spark.shuffle_read_mb" -> "MB/op", "spark.shuffle_write_mb" -> "MB/op",
    "spark.spill_mb" -> "MB/op", "spark.input_rows" -> "rows/op",
    "spark.failed_tasks" -> "count", "spark.peak_exec_mem_mb" -> "MB",
    "catalyst.actions" -> "count/op", "catalyst.analysis_ms" -> "ms/op",
    "catalyst.optimization_ms" -> "ms/op", "catalyst.planning_ms" -> "ms/op",
    "catalyst.plan_nodes_max" -> "count",
    "model.read_ms" -> "ms", "model.transform_ms" -> "ms", "model.write_s" -> "s",
    "query.build_ms" -> "ms", "query.scan_fraction" -> "frac",
    "geom.contains_point_ns" -> "ns/row", "geom.intersects_ns" -> "ns/row",
    "geom.wkb_read_ns" -> "ns/row",
    "ops.aggregate_s" -> "s", "ops.tiles_s" -> "s", "ops.tiles_ns_per_px" -> "ns/px",
    "ops.halo_s" -> "s", "ops.halo_shuffle_per_raster_byte" -> "ratio",
    "ops.rasterize_s" -> "s", "ops.crop_s" -> "s",
    "sources.ngff_read_s" -> "s", "sources.ngff_write_s" -> "s",
    "sources.refstore_write_s" -> "s", "sources.refstore_jobs" -> "count",
    "sources.bytes_per_raster_byte" -> "ratio",
    "pipeline.ann_search_s" -> "s", "pipeline.adc_ns_per_row" -> "ns/row",
    "pipeline.ann_recall_at_k" -> "frac", "pipeline.bm25_s" -> "s",
    "pipeline.band_probe_s" -> "s", "pipeline.rrf_s" -> "s",
    "pipeline.dedup_s" -> "s", "pipeline.dedup_pairs_per_candidate" -> "ratio",
    "pipeline.edit_pairs_s" -> "s", "pipeline.graph_s" -> "s",
    "pipeline.minhash_ns_per_doc" -> "ns/doc", "pipeline.index_append_s" -> "s",
    "cache.rdd_blocks_after_op" -> "count", "cache.persisted_mb" -> "MB")

  /** Span durations reported as per-call means (seconds or milliseconds by
    * the metric's suffix). Metrics absent from a workload read 0.
    */
  private val SpanMetrics: Seq[(String, String)] = Seq(
    "model.read_ms" -> "model.read", "model.transform_ms" -> "model.transform",
    "model.write_s" -> "model.write", "query.build_ms" -> "query.build",
    "ops.aggregate_s" -> "ops.aggregate", "ops.tiles_s" -> "ops.tiles",
    "ops.halo_s" -> "ops.halo", "ops.rasterize_s" -> "ops.rasterize",
    "ops.crop_s" -> "ops.crop", "sources.ngff_read_s" -> "sources.ngff_read",
    "sources.ngff_write_s" -> "sources.ngff_write",
    "sources.refstore_write_s" -> "sources.refstore_write",
    "pipeline.ann_search_s" -> "pipeline.ann_search", "pipeline.bm25_s" -> "pipeline.bm25",
    "pipeline.band_probe_s" -> "pipeline.band_probe", "pipeline.rrf_s" -> "pipeline.rrf",
    "pipeline.dedup_s" -> "pipeline.dedup", "pipeline.edit_pairs_s" -> "pipeline.edit_pairs",
    "pipeline.graph_s" -> "pipeline.graph", "pipeline.index_append_s" -> "pipeline.index_append")

  def main(argv: Array[String]): Unit = {
    val args = Try(parse(argv)).fold(e => {
      System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }, identity)
    val wl = Try(Workload(args.workload, args.tiny)).fold(e => {
      System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }, identity)
    val wallStart = System.nanoTime()
    def wallS = (System.nanoTime() - wallStart) / 1e9

    val out = new File(args.out)
    out.mkdirs()
    val scratch = new File(out, "scratch")
    Host.deleteTree(scratch)
    scratch.mkdirs()
    val host = Host.fingerprint()
    val spinBefore = Host.spinMs()

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(scratch, "hadoop-tmp").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = wallS

    val ctx = new Ctx(spark, args.seed, scratch)
    var warmFailures = 0
    val setupPhases = mutable.ArrayBuffer[Map[String, Double]]()
    val setupTimes = (0 until (if (args.trace) 1 else SetupReps)).map { rep =>
      ctx.setupPhases.clear()
      val t0 = System.nanoTime()
      wl.setup(ctx)
      val built = (System.nanoTime() - t0) / 1e9
      wl.prepareChecks(ctx)
      // one warm-up op, a different kind in each set-up; checked like any
      // other op, after its timer stops, so the workload's state stays in step
      val k = wl.warmups(rep % wl.warmups.size)
      val t1 = System.nanoTime()
      val res = Try(wl.run(k, new Random(args.seed * 1000003L + rep), ctx))
      val warm = (System.nanoTime() - t1) / 1e9
      ctx.setupPhases("warm_up") = warm
      res.fold(e => Some(s"threw: $e"),
        o => Try(o.check()).fold(e => Some(s"check threw: $e"), identity)).foreach { v =>
        warmFailures += 1
        System.err.println(s"perfbench: warm-up ${k.name} failed: $v")
      }
      setupPhases += ctx.setupPhases.toMap
      built + warm
    }
    val setupS = Stats.median(setupTimes)

    // a fixed number of whole cycles, kinds in cycle order: the same op
    // sequence on every run and commit (the seed draws each op's inputs),
    // lasting about --seconds on a 4-core host
    val cycles = math.max(1, math.round(args.seconds / wl.nominalCycleS).toInt)

    // wall time spent in checks, per kind: outside every timed window, but
    // part of the run's length
    val checkS = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)

    def loop(phase: String, tracer: Tracer, counters: Option[Counters]): Seq[OpRecord] = {
      ctx.tracer = tracer
      val rnd = new Random(args.seed * 7919L + 17L)
      val recs = mutable.ArrayBuffer[OpRecord]()
      (0 until cycles).foreach { _ =>
        wl.startCycle(rnd)
        wl.cycle.foreach { k =>
          val i = recs.size
          tracer.beginOp(i)
          val m0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val res = Try(tracer.span(s"op.${k.name}")(wl.run(k, rnd, ctx)))
          val lat = (System.nanoTime() - t0) / 1e9
          val m1 = System.currentTimeMillis()
          val c0 = System.nanoTime()
          val verdict = res.fold(e => Some(s"threw: $e"),
            o => Try(o.check()).fold(e => Some(s"check threw: $e"), identity))
          checkS(k.name) += (System.nanoTime() - c0) / 1e9
          verdict.foreach(v => System.err.println(s"perfbench: $phase op $i ${k.name} failed: $v"))
          val (blocks, mb) = if (counters.isDefined) cacheState(spark) else (0L, 0.0)
          recs += OpRecord(i, k.name, k.write, lat, verdict.isEmpty, verdict.getOrElse(""),
            m0, m1, blocks, mb)
        }
      }
      recs.toSeq
    }

    val ticks0 = Host.cpuTicks()
    val recs = loop("measured", new Tracer(false, spark.sparkContext), None)
    val steal = Host.stealShare(ticks0, Host.cpuTicks())
    val heapMb = Host.heapAfterGcMb()
    val e2e = endToEnd(recs, setupS, heapMb)

    var layer: Option[mutable.LinkedHashMap[String, Double]] = None
    var overhead: Map[String, Double] = Map.empty
    var trecs = Seq.empty[OpRecord]
    if (args.trace) {
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
      val tracer = new Tracer(true, spark.sparkContext)
      trecs = loop("traced", tracer, Some(counters))
      counters.drain()
      val te2e = endToEnd(trecs, setupS, Host.heapAfterGcMb())
      overhead = EndToEnd.map(_._1).filter(k => k != "setup_s")
        .map(k => k -> (te2e(k) - e2e(k))).toMap
      val agg = new SpanAgg(tracer, counters.jobList)
      val lm = perLayer(trecs, tracer, counters, agg) ++ wl.ratios(ctx, agg) ++ wl.kernels(ctx)
      layer = Some(mutable.LinkedHashMap(PerLayer.map { case (k, _) => k -> lm.getOrElse(k, 0.0) }: _*))
      writeTrace(out, runName(args), tracer, trecs, counters, agg)
      spark.listenerManager.unregister(counters)
      spark.sparkContext.removeSparkListener(counters)
    }

    val leakedBlocks = cacheState(spark)._1
    Host.deleteTree(new File(scratch, "data"))
    val spinAfter = Host.spinMs()
    val allRecs = recs ++ trecs
    val attempted = allRecs.size
    val failed = allRecs.count(!_.ok)

    val metrics = layer match {
      case Some(lm) => PerLayer.map { case (k, u) => k -> Map("value" -> lm(k), "unit" -> u) }
      case None => EndToEnd.map { case (k, u) => k -> Map("value" -> e2e(k), "unit" -> u) }
    }
    val done = recs.filter(_.ok)
    val samples = Map("op" -> done, "read" -> done.filterNot(_.write),
      "write" -> done.filter(_.write)).map { case (k, rs) => k -> rs.map(_.latencyS) }
    val summary = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "size" -> (if (args.tiny) "tiny" else "full"),
      "host" -> host, "spin_ms_before" -> spinBefore, "spin_ms_after" -> spinAfter,
      "cpu_steal_share" -> steal,
      "session_start_s" -> sessionS, "setup_runs_s" -> setupTimes,
      "setup_phases_s" -> setupPhases, "warmup_failures" -> warmFailures,
      // medians and tails (the highest percentile with 10 samples beyond
      // it, or the maximum below 20 samples) over all kinds together; kept
      // here with their sample counts, not as end-to-end metrics, since a
      // run holds too few samples of each kind for them
      "tails" -> samples.map { case (k, xs) => k -> Map("n" -> xs.size,
        "p50_s" -> (if (xs.isEmpty) Double.NaN else Stats.median(xs)),
        "q" -> Stats.tailQuantile(xs.size), "tail_s" -> (if (xs.isEmpty) Double.NaN else Stats.tail(xs))) },
      "end_to_end" -> e2e, "tracing_overhead" -> overhead,
      "per_layer" -> layer.getOrElse(Map.empty),
      "leaked_rdd_blocks" -> leakedBlocks,
      "failures" -> Seq("measured" -> recs, "traced" -> trecs).flatMap {
        case (phase, rs) => rs.filterNot(_.ok).map(r => s"$phase ${r.index} ${r.kind}: ${r.error}") },
      "ops" -> recs.groupBy(_.kind).map { case (k, rs) =>
        k -> Map("n" -> rs.size, "p50_s" -> Stats.median(rs.map(_.latencyS))) },
      "latencies_s" -> recs.map(r => s"${r.kind} ${"%.3f".format(r.latencyS)}"),
      "check_s" -> checkS, "wall_s" -> wallS)
    writeText(new File(out, s"${runName(args)}.json"), Stats.json(summary) + "\n")
    System.err.println(s"perfbench: host ${Stats.json(host)} spin ${"%.1f".format(spinBefore)}" +
      s" -> ${"%.1f".format(spinAfter)} ms, steal ${"%.3f".format(steal)}, setup ${setupTimes.map("%.2f".format(_)).mkString("/")} s," +
      s" ${recs.size} ops, leaked rdd blocks $leakedBlocks")
    if (overhead.nonEmpty)
      System.err.println(s"perfbench: tracing overhead (traced - untraced) ${Stats.json(overhead)}")
    spark.stop()
    Host.deleteTree(scratch)
    val result = mutable.LinkedHashMap[String, Any]("correct" -> (failed == 0 && warmFailures == 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*))
    println(Stats.json(result))
  }

  private def runName(a: Args): String =
    s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"

  /** Typical latency of `rs`: each kind's median, then the geometric mean
    * over kinds. Every kind weighs the same whatever its speed, so a change
    * to one kind moves the figure by that kind's share, and no single kind
    * sitting near the middle of the mixture can swing it.
    */
  private def typical(rs: Seq[OpRecord]): Double =
    if (rs.isEmpty) Double.NaN
    else Stats.geomean(rs.groupBy(_.kind).values.map(k => Stats.median(k.map(_.latencyS))).toSeq)

  private def endToEnd(recs: Seq[OpRecord], setupS: Double,
      heapMb: Double): Map[String, Double] = {
    val done = recs.filter(_.ok)
    Map(
      "setup_s" -> setupS,
      "op_latency_s" -> typical(done),
      "ops_per_s" -> done.size / math.max(1e-9, recs.map(_.latencyS).sum),
      "read_latency_s" -> typical(done.filterNot(_.write)),
      "write_latency_s" -> typical(done.filter(_.write)),
      "ok_frac" -> done.size.toDouble / math.max(1, recs.size),
      "heap_retained_mb" -> heapMb)
  }

  /** Cached RDD blocks and their size, as the block manager reports them. */
  private def cacheState(spark: SparkSession): (Long, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0))
  }

  private def perLayer(recs: Seq[OpRecord], tracer: Tracer, counters: Counters,
      agg: SpanAgg): Map[String, Double] = {
    val n = math.max(1, recs.size).toDouble
    val spanOp = tracer.spans.map(s => s.id -> s.op).toMap
    val jobs = counters.jobList.filter(j => spanOp.contains(j.span))
    val jobsByOp = jobs.groupBy(j => spanOp(j.span))
    val actions = counters.actions.toArray(Array.empty[ActionRec]).toSeq
    val opActions = actions.filter(a => recs.exists(r => a.startMs >= r.startMs && a.startMs <= r.endMs))
    val jobWall = recs.map { r =>
      val iv = jobsByOp.getOrElse(r.index, Nil).map(j => (j.startMs, math.max(j.startMs, j.endMs)))
      Stats.coveredWithin(iv, r.startMs, r.endMs) / 1000.0
    }
    val mb = 1024.0 * 1024.0
    val spans = SpanMetrics.map { case (metric, span) =>
      metric -> (if (metric.endsWith("_ms")) agg.meanS(span) * 1000.0 else agg.meanS(span))
    }
    Map(
      "spark.jobs" -> jobs.size / n,
      "spark.jobs_s" -> jobWall.sum / n,
      "spark.driver_s" -> recs.zip(jobWall).map { case (r, j) => math.max(0.0, r.latencyS - j) }.sum / n,
      "spark.stages" -> jobs.map(_.stages).sum / n,
      "spark.tasks" -> jobs.map(_.tasks).sum / n,
      "spark.task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9 / n,
      "spark.task_wait_s" -> jobs.map(_.waitMs).sum / 1000.0 / n,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1000.0 / n,
      "spark.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / mb / n,
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / mb / n,
      "spark.spill_mb" -> jobs.map(_.spill).sum / mb / n,
      "spark.input_rows" -> jobs.map(_.inputRows).sum / n,
      "spark.failed_tasks" -> jobs.map(_.failedTasks).sum.toDouble,
      "spark.peak_exec_mem_mb" -> (if (jobs.isEmpty) 0.0 else jobs.map(_.peakMem).max / mb),
      "catalyst.actions" -> opActions.size / n,
      "catalyst.analysis_ms" -> opActions.map(_.analysisMs).sum / n,
      "catalyst.optimization_ms" -> opActions.map(_.optimizationMs).sum / n,
      "catalyst.planning_ms" -> opActions.map(_.planningMs).sum / n,
      "catalyst.plan_nodes_max" -> (if (opActions.isEmpty) 0.0 else opActions.map(_.planNodes).max.toDouble),
      "cache.rdd_blocks_after_op" -> recs.map(_.cacheBlocks).sum / n,
      "cache.persisted_mb" -> recs.map(_.cacheMb).sum / n,
    ) ++ spans
  }

  /** Spans (one JSON object a line) and per-op listener counters. */
  private def writeTrace(out: File, name: String, tracer: Tracer, recs: Seq[OpRecord],
      counters: Counters, agg: SpanAgg): Unit = {
    val self = tracer.selfNs
    val spanLines = tracer.spans.map { s =>
      Stats.json(mutable.LinkedHashMap("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "dur_ms" -> s.durNs / 1e6,
        "self_ms" -> self(s.id) / 1e6))
    }
    val spanOp = tracer.spans.map(s => s.id -> s.op).toMap
    val byOp = counters.jobList.filter(j => spanOp.contains(j.span)).groupBy(j => spanOp(j.span))
    val opLines = recs.map { r =>
      val js = byOp.getOrElse(r.index, Nil)
      Stats.json(mutable.LinkedHashMap("op" -> r.index, "kind" -> r.kind, "write" -> r.write,
        "latency_s" -> r.latencyS, "ok" -> r.ok, "jobs" -> js.size,
        "stages" -> js.map(_.stages).sum, "tasks" -> js.map(_.tasks).sum,
        "task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum,
        "input_rows" -> js.map(_.inputRows).sum, "rdd_blocks_after" -> r.cacheBlocks,
        "jobs_by_span" -> js.groupBy(j => agg.spanOf(j.span).map(_.name).getOrElse("?"))
          .map { case (k, v) => k -> v.size }))
    }
    writeText(new File(out, s"$name.spans.jsonl"), spanLines.mkString("", "\n", "\n"))
    writeText(new File(out, s"$name.ops.jsonl"), opLines.mkString("", "\n", "\n"))
  }

  private def writeText(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }
}
