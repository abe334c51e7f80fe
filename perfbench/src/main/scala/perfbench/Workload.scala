package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One kind of operation in a workload's cycle. */
final case class OpKind(name: String, write: Boolean)

/** What a timed op hands back: a check that compares the op's output with
  * an independent computation. It runs after the timer stops; `None` means
  * the output is right, `Some(reason)` is a mismatch.
  */
final case class Outcome(check: () => Option[String])

/** What a workload sees of the run. `tracer` is swapped between the
  * untraced and traced phases; `notes` collects the workload's own
  * denominators for per-layer ratios (rows stored, raster bytes, ...).
  */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: java.io.File) {
  var tracer: Tracer = new Tracer(false, spark.sparkContext)
  val notes: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)

  def note(key: String, v: Double): Unit = if (tracer.enabled) notes(key) += v

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Set-up phases of the current set-up, in seconds. */
  val setupPhases: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally setupPhases(name) = setupPhases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** A closed-loop workload: set up once per repetition, then whole cycles
  * of op kinds in a fixed order, each op with its own seeded inputs.
  */
trait Workload {
  def name: String
  def cycle: Seq[OpKind]

  /** Wall time of one cycle on a 4-core host; a run measures
    * round(seconds / nominalCycleS) whole cycles.
    */
  def nominalCycleS: Double

  /** Build every input from `ctx.seed` and the stores the ops read. */
  def setup(ctx: Ctx): Unit

  /** One warm-up op per set-up, in turn: the kinds whose code paths are
    * slowest to warm (JIT, codegen).
    */
  def warmups: Seq[OpKind]

  /** Load what the checks compare against. Runs after every set-up,
    * outside the set-up time and every timed window.
    */
  def prepareChecks(ctx: Ctx): Unit

  def run(kind: OpKind, rnd: Random, ctx: Ctx): Outcome

  /** Called before each measured cycle, so a workload can spread its
    * parameters evenly over the cycle's ops.
    */
  def startCycle(rnd: Random): Unit = ()

  /** Kernel section (traced runs only): ns per row of the engine's row
    * kernels on inputs drawn from this workload.
    */
  def kernels(ctx: Ctx): Map[String, Double]

  /** Per-layer ratios this workload defines, from its notes and the
    * per-span aggregates.
    */
  def ratios(ctx: Ctx, agg: SpanAgg): Map[String, Double]
}

/** Several workloads' op kinds in one cycle, over one set-up of each. */
final class CompositeWorkload(val name: String, parts: Seq[Workload]) extends Workload {
  val cycle: Seq[OpKind] = parts.flatMap(_.cycle)
  val nominalCycleS: Double = parts.map(_.nominalCycleS).sum
  val warmups: Seq[OpKind] = parts.flatMap(_.warmups)
  private val owner = parts.flatMap(p => p.cycle.map(_.name -> p)).toMap
  require(owner.size == parts.map(_.cycle.map(_.name).distinct.size).sum,
    s"$name: op kind names must be unique across parts")

  def setup(ctx: Ctx): Unit = parts.foreach(_.setup(ctx))
  def prepareChecks(ctx: Ctx): Unit = parts.foreach(_.prepareChecks(ctx))
  def run(kind: OpKind, rnd: Random, ctx: Ctx): Outcome = owner(kind.name).run(kind, rnd, ctx)
  override def startCycle(rnd: Random): Unit = parts.foreach(_.startCycle(rnd))
  def kernels(ctx: Ctx): Map[String, Double] = parts.flatMap(_.kernels(ctx)).toMap
  def ratios(ctx: Ctx, agg: SpanAgg): Map[String, Double] = parts.flatMap(_.ratios(ctx, agg)).toMap
}

object Workload {
  val names: Seq[String] = Seq("spatial", "corpus_pipeline")

  def apply(name: String, tiny: Boolean): Workload = name match {
    case "spatial" => new CompositeWorkload(name,
      Seq(new SpatialQueryWorkload(tiny), new RasterTilesWorkload(tiny)))
    case "corpus_pipeline" => new CorpusPipelineWorkload(tiny)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Nanoseconds per call of `f` over `n` calls, best of three passes. */
  def nsPerRow(n: Int)(f: Int => Unit): Double = {
    (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }.min
  }
}
