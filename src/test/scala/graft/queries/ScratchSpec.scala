package graft.queries

import graft.SparkTestBase
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

class ScratchSpec extends SparkTestBase {

  private def writeTable(dir: Path, table: String, n: Long): Unit =
    spark.range(n).write.option("path", dir.resolve(table).toString)
      .format("parquet").saveAsTable(table)

  test("run deletes its directory and drops its tables on success") {
    var seen: Path = null
    Scratch.run(spark, "scratch_spec_ok") { dir =>
      seen = dir
      writeTable(dir, "scratch_spec_ok", 10)
      spark.table("scratch_spec_ok")
    }
    assert(seen != null && !Files.exists(seen))
    assert(!spark.catalog.tableExists("scratch_spec_ok"))
  }

  test("run deletes its directory and drops its tables when the body throws") {
    var seen: Path = null
    val e = intercept[IllegalStateException] {
      Scratch.run(spark, "scratch_spec_fail") { dir =>
        seen = dir
        writeTable(dir, "scratch_spec_fail", 3)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(seen != null && !Files.exists(seen))
    assert(!spark.catalog.tableExists("scratch_spec_fail"))
  }

  test("run's result stays readable, in order, after its directory is gone") {
    var seen: Path = null
    val out = Scratch.run(spark) { dir =>
      seen = dir
      val p = dir.resolve("t").toString
      spark.range(0, 200, 1, 4).selectExpr("id", "id % 7 AS k")
        .write.parquet(p)
      spark.read.parquet(p).orderBy("k", "id")
    }
    assert(!Files.exists(seen))
    val expect = (0L until 200L).sortBy(i => (i % 7, i))
    assert(out.collect().map(_.getLong(0)).toSeq == expect)
    assert(out.collect().map(_.getLong(0)).toSeq == expect)
  }

  test("memo builds once per (fixture, sf dir) under concurrent callers") {
    val builds = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 12).map { i =>
        val d = if (i % 2 == 0) "/sf/a" else "/sf/b"
        pool.submit(new Callable[Path] {
          def call(): Path = Scratch.memo("scratch_spec_conc", d) { dir =>
            builds.incrementAndGet()
            Thread.sleep(50)
            dir
          }
        })
      }
      val dirs = calls.map(_.get())
      assert(builds.get == 2)
      assert(dirs.distinct.size == 2)
      assert(dirs.forall(Files.isDirectory(_)))
    } finally pool.shutdown()
  }

  test("memo: a build that throws leaves no directory and is retried") {
    var failed: Path = null
    intercept[IllegalStateException] {
      Scratch.memo("scratch_spec_retry", "/sf/a") { dir =>
        failed = dir
        throw new IllegalStateException("build failed")
      }
    }
    assert(!Files.exists(failed))
    assert(Scratch.memo("scratch_spec_retry", "/sf/a")(_ => 7) == 7)
  }

  test("release deletes the memo root and forgets every fixture") {
    val dir = Scratch.memo("scratch_spec_release", "/sf/a") { dir =>
      Files.write(dir.resolve("f"), Array[Byte](1, 2, 3))
      dir
    }
    val root = dir.getParent
    assert(Files.exists(dir.resolve("f")))
    Scratch.release()
    assert(!Files.exists(root))
    var rebuilt = false
    Scratch.memo("scratch_spec_release", "/sf/a") { d => rebuilt = true; d }
    assert(rebuilt)
  }

  test("no pack makes, deletes or memoizes scratch storage outside Scratch") {
    val dir = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(dir), s"${dir.toAbsolutePath} not found")
    val banned = Seq("createTempDirectory", "Files.walk(", "mutable.Map",
      "java.io.tmpdir")
    val files = dir.toFile.listFiles().toSeq
      .filter(f => f.getName.endsWith(".scala") && f.getName != "Scratch.scala")
    assert(files.size >= 10, s"only ${files.size} pack sources found")
    val hits = for {
      f <- files
      (line, i) <- new String(Files.readAllBytes(f.toPath), "UTF-8")
        .split('\n').zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${f.getName}:${i + 1}: $b"
    assert(hits.isEmpty,
      "scratch storage outside Scratch (use Scratch.run / Scratch.memo):\n" +
        hits.mkString("\n"))
  }
}
