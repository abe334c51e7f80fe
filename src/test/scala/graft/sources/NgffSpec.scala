package graft.sources

import graft.SparkTestBase
import graft.model._
import graft.ops.RasterOps
import org.apache.spark.sql.functions._

class NgffSpec extends SparkTestBase {
  import spark.implicits._

  test("zarr dtype codec round-trips every numeric dtype") {
    val vals = Array(0.0, 1.0, 7.0, 250.0, 31000.0)
    for (dt <- Seq("<u1", "<i1", "<u2", "<i2", "<u4", "<i4", "<i8", "<f4", "<f8", ">u2", ">f8")) {
      val capped = if (dt.contains("1")) vals.map(math.min(_, 127.0)) else vals
      val got = Zarr.decodeValues(Zarr.encodeValues(capped, dt), dt, capped.length)
      assert(got.toSeq == capped.toSeq, s"dtype $dt")
    }
  }

  test("u8 decode is unsigned for values above Long.MaxValue") {
    val bytes = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(-1L).array() // 2^64 - 1
    assert(Zarr.decodeValues(bytes, "<u8", 1)(0) == 1.8446744073709552e19)
  }

  test("zarr compressors round-trip (zlib, gzip, zstd) ") {
    val raw = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    for (id <- Seq("zlib", "gzip", "zstd")) {
      val c = Some(Zarr.Compressor(id, clevel = 3))
      val got = Zarr.decompress(Zarr.compress(raw, c), c, raw.length, 8)
      assert(got.toSeq == raw.toSeq, s"compressor $id")
    }
  }

  test("blosc frame decode: memcpy mode and shuffled lz4 blocks") {
    // hand-built frames following the public c-blosc1 header layout
    val payload = Array.tabulate[Byte](64)(i => (i * 3).toByte)
    def header(flags: Int, typesize: Int, nbytes: Int, blocksize: Int, cbytes: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(0, 2.toByte); bb.put(1, 1.toByte)
      bb.put(2, flags.toByte); bb.put(3, typesize.toByte)
      bb.putInt(4, nbytes); bb.putInt(8, blocksize); bb.putInt(12, cbytes)
      bb.array()
    }
    // memcpy frame: flags bit1
    val memcpyFrame = header(0x2, 8, 64, 64, 80) ++ payload
    assert(Zarr.bloscDecode(memcpyFrame, 64).toSeq == payload.toSeq)

    // one lz4 block with byte-shuffle: shuffle(typesize=8) then lz4-compress
    val shuffled = {
      val ts = 8; val nelem = payload.length / ts
      val out = new Array[Byte](payload.length)
      for (k <- 0 until ts; j <- 0 until nelem) out(k * nelem + j) = payload(j * ts + k)
      out
    }
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val comp = new Array[Byte](lz4.maxCompressedLength(shuffled.length))
    val clen = lz4.compress(shuffled, 0, shuffled.length, comp, 0)
    val bstart = 16 + 4 // header + one bstarts entry
    val frame = java.nio.ByteBuffer
      .allocate(bstart + 4 + clen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(header(0x1 | (1 << 5), 8, 64, 64, bstart + 4 + clen)) // shuffle + lz4
      .putInt(bstart) // bstarts[0]
      .putInt(clen) // block compressed length
      .put(comp, 0, clen)
      .array()
    assert(Zarr.bloscDecode(frame, 64).toSeq == payload.toSeq)
  }

  test("large-chunk guardrail warns above the settings threshold (models.py:357)") {
    // default threshold (2^31-1): a 256x256 f8 tile is fine
    assert(NgffRaster.chunkSizeWarning(Seq(1, 256, 256), "<f8").isEmpty)
    // a hypothetical 20000x20000 f8 chunk (3.2 GB) crosses it
    val w = NgffRaster.chunkSizeWarning(Seq(1, 20000, 20000), "<f8")
    assert(w.exists(_.contains("larger than")), s"expected a warning, got $w")
    // settings are the reference's mutable knob: lowering the threshold
    // flags smaller chunks; restoring it un-flags them
    val old = graft.model.Settings.largeChunkThresholdBytes
    try {
      graft.model.Settings.largeChunkThresholdBytes = 1024
      assert(NgffRaster.chunkSizeWarning(Seq(1, 64, 64), "<f8").isDefined)
    } finally graft.model.Settings.largeChunkThresholdBytes = old
    assert(NgffRaster.chunkSizeWarning(Seq(1, 64, 64), "<f8").isEmpty)
  }

  test("bloscEncode frames decode exactly: shuffle, multi-block, zlib inner, memcpy") {
    val rnd = new scala.util.Random(7)
    // compressible doubles; size forces multiple 256 KiB blocks
    val n = (1 << 18) / 8 + 1234
    val vals = Array.tabulate(n)(i => (i % 17).toDouble)
    val raw = Zarr.encodeValues(vals, "<f8")
    for (shuffle <- Seq(0, 1); cname <- Seq("zstd", "zlib")) {
      val frame = Zarr.bloscEncode(raw, 8, cname, 5, shuffle)
      assert(frame.length < raw.length, s"$cname/$shuffle did not compress")
      assert(Zarr.bloscDecode(frame, raw.length).toSeq == raw.toSeq,
        s"$cname/$shuffle round trip")
    }
    // shuffle actually helps on striding doubles (sanity that the planes
    // are really transposed, not a no-op)
    val plain = Zarr.bloscEncode(raw, 8, "zstd", 5, 0)
    val shuf = Zarr.bloscEncode(raw, 8, "zstd", 5, 1)
    assert(shuf.length < plain.length,
      s"byte-shuffle should shrink striding doubles: ${shuf.length} vs ${plain.length}")
    // incompressible payload falls back to the pure-memcpy frame
    val noise = Array.fill[Byte](4096)(rnd.nextInt().toByte)
    val f2 = Zarr.bloscEncode(noise, 8, "zstd", 5, 1)
    assert(f2.length == noise.length + 16)
    assert(Zarr.bloscDecode(f2, noise.length).toSeq == noise.toSeq)
  }

  test("blosc write (reference numcodecs default) round-trips; python fixture") {
    // fixed location so tools/check_ref_store.py can decode the same bytes
    // with its pure-python blosc reader after `sbt test`
    val dir = new java.io.File("target/ngff-blosc.zarr").getAbsolutePath
    val pixels = (for (y <- 0 until 20; x <- 0 until 12)
      yield (0, y, x, (y * 100 + x + 1).toDouble))
      .toDF("c", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 8)
    NgffRaster.write(tiles, dir, "img", tileSize = 8) // default: blosc/zstd/shuffle
    val zarray = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/0/.zarray")), "UTF-8").replaceAll("\\s", "")
    assert(zarray.contains("\"id\":\"blosc\"") && zarray.contains("\"cname\":\"zstd\"") &&
      zarray.contains("\"shuffle\":1"), s"zarray must advertise blosc: $zarray")
    val (got, meta) = NgffRaster.read(spark, dir)
    assert(meta.scales.head.meta.compressor.exists(c =>
      c.id == "blosc" && c.cname == "zstd" && c.shuffle == 1))
    val back = RasterOps.tilesToPixels(got, tileSize = 8)
      .filter(col("value") =!= 0.0)
      .select("y", "x", "value").as[(Int, Int, Double)].collect().toSet
    val want = (for (y <- 0 until 20; x <- 0 until 12)
      yield (y, x, (y * 100 + x + 1).toDouble)).toSet
    assert(back == want)
  }

  test("ngff write -> read round-trips tiles, transforms and channels") {
    tempDir("graft-ngff") { d =>
      val dir = d.toString
      val pixels = Seq.tabulate(500)(i =>
        (i % 2, i % 20, (i * 7) % 23, (i % 89 + 1).toDouble))
        .toDF("c", "y", "x", "value")
        .groupBy("c", "y", "x").agg(sum("value").as("value"))
      val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 8)
      val t = Map("global" -> ScaleT(Seq(2.0, 2.0), Seq("x", "y")),
        "micron" -> TranslationT(Seq(1.5, -3.0), Seq("x", "y")))
      NgffRaster.write(tiles, s"$dir/img", "img", tileSize = 8,
        transforms = t, channels = Seq("ch0", "ch1"))
      val (got, meta) = NgffRaster.read(spark, s"$dir/img")
      assert(meta.axes == Seq("c", "y", "x"))
      assert(meta.channels == Seq("ch0", "ch1"))
      assert(meta.transforms == t)
      assert(!meta.isLabels)
      // pixel-exact round trip (compare via long-form)
      val want = RasterOps.tilesToPixels(tiles, tileSize = 8)
        .select("c", "y", "x", "value").as[(Int, Int, Int, Double)].collect().toSet
      val back = RasterOps.tilesToPixels(got, tileSize = 8)
        .select("c", "y", "x", "value").as[(Int, Int, Int, Double)].collect().toSet
      assert(back == want)
    }
  }

  test("rank-2 labels store round-trips with integer dtype") {
    tempDir("graft-ngff") { d =>
      val dir = d.toString
      val labels = Seq.tabulate(300)(i => (0, i % 21, (i * 5) % 19, (i % 6).toDouble))
        .toDF("c", "y", "x", "value").groupBy("c", "y", "x").agg(max("value").as("value"))
      val tiles = RasterOps.pixelsToTiles(labels, tileSize = 8)
      NgffRaster.write(tiles, s"$dir/lab", "lab", tileSize = 8,
        axes = Seq("y", "x"), dtype = "<i4", compressorId = "zlib", isLabels = true)
      val (got, meta) = NgffRaster.read(spark, s"$dir/lab")
      assert(meta.isLabels && meta.axes == Seq("y", "x"))
      assert(meta.scales.head.meta.dtype == "<i4")
      val want = RasterOps.tilesToPixels(tiles, tileSize = 8)
        .select("y", "x", "value").as[(Int, Int, Double)].collect().toSet
      val back = RasterOps.tilesToPixels(got, tileSize = 8)
        .select("y", "x", "value").as[(Int, Int, Double)].collect().toSet
      assert(back == want)
    }
  }

  test("rank-4 (c, z, y, x) image store round-trips pixel-exact") {
    tempDir("graft-ngff") { d =>
      val dir = d.toString
      val pixels = Seq.tabulate(600)(i =>
        (i % 2, i % 3, i % 12, (i * 7) % 17, (i % 53 + 1).toDouble))
        .toDF("c", "z", "y", "x", "value")
        .groupBy("c", "z", "y", "x").agg(sum("value").as("value"))
      val tiles = RasterOps.pixelsToTiles3d(pixels, tileSize = 8)
      NgffRaster.write(tiles, s"$dir/vol", "vol", tileSize = 8,
        axes = Seq("c", "z", "y", "x"), channels = Seq("a", "b"))
      val (got, meta) = NgffRaster.read(spark, s"$dir/vol")
      assert(meta.axes == Seq("c", "z", "y", "x"))
      assert(meta.scales.head.meta.shape.length == 4)
      assert(meta.scales.head.meta.chunks == Seq(1, 1, 8, 8))
      val want = RasterOps.tilesToPixels3d(tiles, tileSize = 8)
        .select("c", "z", "y", "x", "value").as[(Int, Int, Int, Int, Double)].collect().toSet
      val back = RasterOps.tilesToPixels3d(got, tileSize = 8)
        .select("c", "z", "y", "x", "value").as[(Int, Int, Int, Int, Double)].collect().toSet
      assert(back == want)
    }
  }

  test("rank-3 (z, y, x) labels reads back through an external-style chunked-z store") {
    // write with our writer (z-chunk extent 1), then verify the reader's
    // generic chunk-plane iteration by reading a store whose chunks span
    // multiple z planes (hand-built, as an external writer would chunk)
    tempDir("graft-ngff") { d =>
      val dir = d.toString
      val m = Zarr.ArrayMeta(Seq(4, 4, 4), Seq(2, 4, 4), "<i4",
        Some(Zarr.Compressor("zlib", clevel = 1)), 0.0, "C", ".")
      val fs = new java.io.File(s"$dir/zlab/0")
      fs.mkdirs()
      def writeJson(p: String, s: String): Unit = {
        val w = new java.io.FileWriter(p); w.write(s); w.close()
      }
      writeJson(s"$dir/zlab/.zgroup", """{"zarr_format": 2}""")
      writeJson(s"$dir/zlab/.zattrs",
        """{"multiscales": [{"version": "0.4", "name": "zlab",
          |  "axes": [{"name": "z", "type": "space"}, {"name": "y", "type": "space"},
          |           {"name": "x", "type": "space"}],
          |  "datasets": [{"path": "0", "coordinateTransformations":
          |    [{"type": "scale", "scale": [1.0, 1.0, 1.0]}]}]}],
          | "image-label": {"version": "0.4"}}""".stripMargin)
      writeJson(s"$dir/zlab/0/.zarray", Zarr.arrayMetaJson(m))
      // chunk (zc, 0, 0) covers z planes [2*zc, 2*zc+2); value = z*100 + y*10 + x
      for (zc <- 0 until 2) {
        val vals = new Array[Double](2 * 4 * 4)
        for (zi <- 0 until 2; y <- 0 until 4; x <- 0 until 4)
          vals((zi * 4 + y) * 4 + x) = (2 * zc + zi) * 100 + y * 10 + x
        val bytes = Zarr.encodeChunk(vals, m)
        val out = new java.io.FileOutputStream(s"$dir/zlab/0/$zc.0.0")
        out.write(bytes); out.close()
      }
      val (got, meta) = NgffRaster.read(spark, s"$dir/zlab")
      assert(meta.isLabels && meta.axes == Seq("z", "y", "x"))
      val px = RasterOps.tilesToPixels3d(got, tileSize = 4)
        .select("z", "y", "x", "value").as[(Int, Int, Int, Double)].collect()
      assert(px.length == 64)
      assert(px.forall { case (z, y, x, v) => v == z * 100 + y * 10 + x })
    }
  }

  test("multiscale store: per-level .zarray, partial-scale read") {
    tempDir("graft-ngff") { d =>
      val dir = d.toString
      val pixels = Seq.tabulate(400)(i => (0, i % 16, (i * 3) % 16, 1.0 + i % 7))
        .toDF("c", "y", "x", "value").groupBy("c", "y", "x").agg(sum("value").as("value"))
      val pyr = RasterOps.buildPyramid(pixels, levels = 1)
      val tiles = RasterOps.pixelsToTiles(pyr.filter(col("scale") === 0).drop("scale"), tileSize = 8)
        .unionByName(RasterOps.pixelsToTiles(
          pyr.filter(col("scale") === 1).drop("scale"), tileSize = 8, scale = 1))
      NgffRaster.write(tiles, s"$dir/ms", "ms", tileSize = 8)
      val meta = NgffRaster.readMeta(spark, s"$dir/ms")
      assert(meta.scales.map(_.path) == Seq("0", "1"))
      assert(meta.scales(1).scaleFactors == Seq(1.0, 2.0, 2.0))
      val (onlyL1, _) = NgffRaster.read(spark, s"$dir/ms", scaleSelection = Some(Seq(1)))
      assert(onlyL1.select("scale").distinct().as[Int].collect().toSeq == Seq(1))
      val wantL1 = pyr.filter(col("scale") === 1)
        .select("c", "y", "x", "value").as[(Int, Int, Int, Double)].collect().toSet
      val backL1 = RasterOps.tilesToPixels(onlyL1, tileSize = 8)
        .filter(col("value") =!= 0.0)
        .select("c", "y", "x", "value").as[(Int, Int, Int, Double)].collect().toSet
      assert(backL1 == wantL1)
    }
  }

  test("blosc frame decode: zstd inner codec") {
    val payload = Array.tabulate[Byte](128)(i => (i * 7 + 1).toByte)
    val comp = com.github.luben.zstd.Zstd.compress(payload, 3)
    val bstart = 16 + 4
    val frame = java.nio.ByteBuffer
      .allocate(bstart + 4 + comp.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    frame.put(0, 2.toByte); frame.put(1, 1.toByte)
    frame.put(2, (5 << 5).toByte) // codec id 5 = zstd, no shuffle
    frame.put(3, 8.toByte)
    frame.putInt(4, 128); frame.putInt(8, 128)
    frame.putInt(12, bstart + 4 + comp.length)
    frame.putInt(16, bstart) // bstarts[0]
    frame.putInt(20, comp.length)
    frame.position(24); frame.put(comp)
    assert(Zarr.bloscDecode(frame.array(), 128).toSeq == payload.toSeq)
  }

  test("nested dimension separator, big-endian dtype, absent chunk materializes fill") {
    val dir = new java.io.File("src/test/resources/ngff/fixture_nested").getAbsolutePath
    val (tiles, meta) = NgffRaster.read(spark, dir)
    assert(meta.isLabels && meta.axes == Seq("y", "x"))
    assert(meta.scales.head.meta.dimSeparator == "/")
    assert(meta.scales.head.meta.dtype == ">i4")
    assert(meta.scales.head.meta.fillValue == 7.0)
    // chunk (1,1) is absent from the store; the declared fill_value is
    // NONZERO, so it must materialize as a fill-valued tile (zarr fill
    // semantics), not silently read back as zeros
    val tileKeys = tiles.select("tile_y", "tile_x").as[(Int, Int)].collect().toSet
    assert(tileKeys == Set((0, 0), (0, 1), (1, 0), (1, 1)))
    val px = RasterOps.tilesToPixels(tiles, tileSize = 3)
    // value = y*10 + x + 1 on the present chunks; edge chunks clip to shape
    val present = px.filter(!(col("y") >= 3 && col("x") >= 3))
    assert(present.filter(col("value") =!= col("y") * 10 + col("x") + 1).count() == 0)
    // the materialized region (y 3..4, x 3..5) is all fill
    val filled = px.filter(col("y") >= 3 && col("x") >= 3)
    assert(filled.count() == 6 && filled.filter(col("value") =!= 7.0).count() == 0)
    assert(px.agg(sum("value")).as[Double].collect()(0) == 465.0 + 42.0)
  }

  test("reads the externally-generated zlib fixture (plain-python writer)") {
    // not via getResource: sbt's resource copier drops dotfiles (.zattrs)
    val dir = new java.io.File("src/test/resources/ngff/fixture_image").getAbsolutePath
    val (tiles, meta) = NgffRaster.read(spark, dir)
    assert(meta.channels == Seq("DAPI", "GFP"))
    assert(meta.transforms == Map("global" -> ScaleT(Seq(2.0, 3.0), Seq("x", "y"))))
    assert(meta.scales.head.meta.dtype == "<u2")
    val px = RasterOps.tilesToPixels(tiles, tileSize = 4)
    // every pixel matches the generator formula (c*1000 + y*31 + x*7) % 60000
    val bad = px.filter(col("y") < 10 && col("x") < 12)
      .filter(col("value") =!= (col("c") * 1000 + col("y") * 31 + col("x") * 7) % 60000)
      .count()
    assert(bad == 0)
    val total = px.filter(col("y") < 10 && col("x") < 12)
      .agg(sum("value")).as[Double].collect()(0)
    assert(total == 162720.0) // checksum printed by the generator
  }
}
