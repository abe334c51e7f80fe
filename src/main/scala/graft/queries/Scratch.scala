package graft.queries

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch storage for the gates that go through disk. Every directory a
  * gate writes lives under one JVM-lifetime root (`graft_scratch_*` in
  * `java.io.tmpdir`), deleted by a shutdown hook; nothing else in the
  * packs makes or deletes scratch directories.
  *
  *  - [[run]]: a per-invocation directory, removed (and the gate's catalog
  *    tables dropped) as soon as the result is materialized off it.
  *  - [[memo]]: a fixture built once per (JVM, fixture, sf dir) — an
  *    at-rest index or trained model that reps reuse — kept until release.
  */
object Scratch {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_scratch_")
    sys.addShutdownHook(release())
    r
  }

  private val runs = new AtomicLong()

  /** Run `body` in a fresh directory and return its result materialized
    * (`localCheckpoint`) off that directory. Afterwards, also when `body`
    * throws, drop the catalog `tables` and delete the directory.
    */
  def run(s: SparkSession, tables: String*)(body: Path => DataFrame): DataFrame = {
    val dir = Files.createDirectories(root.resolve(s"run_${runs.incrementAndGet()}"))
    try body(dir).localCheckpoint(true)
    finally {
      tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS `$t`"))
      delete(dir)
    }
  }

  private val memos = scala.collection.mutable.Map[(String, String), Any]()

  /** The value `build` makes for (`fixture`, sf dir `d`), built once per
    * JVM under one lock. `build` gets its own directory, named
    * `<fixture>_<hex hash of d>`: unique per key in this JVM, so a build
    * names the catalog tables it registers after it. A build that throws
    * leaves no directory and is retried by the next call.
    */
  def memo[A](fixture: String, d: String)(build: Path => A): A =
    memos.synchronized {
      memos.getOrElseUpdate((fixture, d), {
        Files.createDirectories(root)
        val dir = Files.createDirectory(
          root.resolve(s"${fixture}_${Integer.toHexString(d.hashCode)}"))
        try build(dir)
        catch { case e: Throwable => delete(dir); throw e }
      }).asInstanceOf[A]
    }

  /** Forget every memoized fixture and delete the scratch root: what the
    * shutdown hook runs. A later [[run]] or [[memo]] starts a new root at
    * the same path (and rebuilds).
    */
  private[graft] def release(): Unit = memos.synchronized {
    memos.clear()
    delete(root)
  }

  private def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
