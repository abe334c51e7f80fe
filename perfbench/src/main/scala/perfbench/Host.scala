package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host fingerprint, recorded with every run so a slow machine can be told
  * apart from slow code.
  */
object Host {

  /** The same fixed single-thread workload as `graft.Bench`'s CPU-spin
    * sentinel: 50M xorshift steps, pure ALU, no allocation. Its wall time
    * moves only with the machine.
    */
  def spinMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  def fingerprint(): Map[String, Any] = {
    val rt = Runtime.getRuntime
    val os = ManagementFactory.getOperatingSystemMXBean
    Map(
      "nproc" -> rt.availableProcessors(),
      "heap_max_mb" -> rt.maxMemory() / (1024.0 * 1024.0),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "os" -> s"${os.getName} ${os.getVersion} ${os.getArch}",
      "load_avg" -> os.getSystemLoadAverage,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(_.startsWith("--add-opens")).mkString(" "))
  }

  /** Aggregate CPU ticks from /proc/stat: (steal, total), or None where
    * the file does not exist. Steal is time the hypervisor gave this
    * machine's CPUs to someone else: noise, not code.
    */
  def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (if (f.length > 7) f(7) else 0L, f.sum)
  }.toOption

  /** Share of CPU time stolen between two [[cpuTicks]] readings. */
  def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0))
      .getOrElse(Double.NaN)

  /** Heap in use after full collections, in MB. Collects until the figure
    * settles: Spark's cleaner drops broadcasts and shuffles only after a
    * collection has cleared their references, so one pass can leave them.
    */
  def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    var (prev, cur, rounds) = (Double.MaxValue, used(), 1)
    while (rounds < 8 && math.abs(prev - cur) > 0.25) { prev = cur; cur = used(); rounds += 1 }
    cur
  }

  /** Bytes under a directory tree. */
  def treeBytes(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
