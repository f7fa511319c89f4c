package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Hdf5
import graft.sources.Hdf5._

/** Byte-level tests for the scoped HDF5 subset codec: superblock/group/
  * object-header round-trip, contiguous + chunked layouts, attribute typing
  * incl. vlen object references (NetCDF-4's DIMENSION_LIST shape), section
  * reads vs whole reads, loud rejection outside the subset.
  */
class Hdf5Spec extends AnyFunSuite {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("graft-h5").resolve(name).toString

  private val T = 3; private val Y = 4; private val X = 5

  private def cube(f: (Int, Int, Int) => Double): Array[Double] =
    Array.tabulate(T * Y * X)(i => f(i / (Y * X), (i / X) % Y, i % X))

  /** A NetCDF-4-shaped file: three dimension-scale coords + one 3-D var. */
  private def writeGrid(path: String, chunked: Boolean,
      latest: Boolean = false): Unit = {
    val data = cube((t, y, x) => t * 100.0 + y * 10 + x)
    Hdf5.write(path, Seq(
      WDataset("time", I32, Seq(T), Array.tabulate(T)(_.toDouble),
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "time",
          "units" -> "days since 1990-01-01")),
      WDataset("lat", F64, Seq(Y), Array.tabulate(Y)(44.0 + _ * 0.05),
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "lat")),
      WDataset("lon", F64, Seq(X), Array.tabulate(X)(-80.0 + _ * 0.05),
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "lon")),
      WDataset("temp", F32, Seq(T, Y, X), data,
        strAttrs = Seq("long_name" -> "air temperature"),
        numAttrs = Seq(("_FillValue", F32, Seq(-999.0))),
        refAttrs = Seq("DIMENSION_LIST" -> Seq(Seq("time"), Seq("lat"), Seq("lon"))),
        chunkDims = if (chunked) Some(Seq(2, 3, 3)) else None)), latest = latest)
  }

  for (latest <- Seq(false, true); chunked <- Seq(false, true)) {
    val tag = (if (latest) "latest format, " else "") + (if (chunked)
      (if (latest) "chunked (v4 fixed array)" else "chunked (v1 btree)")
    else "contiguous")
    test(s"round-trip: $tag layout") {
      val p = tmp("grid.h5")
      writeGrid(p, chunked, latest)
      assert(Hdf5.isHdf5(p))
      val h = Hdf5.open(p)
      assert(h.datasets.map(_.name).sorted == Seq("lat", "lon", "temp", "time"))
      val temp = h.dataset("temp").get
      assert(temp.dims == Seq(T, Y, X))
      assert(temp.dtype == F32)
      assert(temp.attr("long_name").map(_.value).contains(StrAttr("air temperature")))
      assert(temp.attr("_FillValue").map(_.value).contains(NumAttr(Seq(-999.0))))
      assert(temp.attr("DIMENSION_LIST").map(_.value)
        .contains(RefListAttr(Seq(Seq("time"), Seq("lat"), Seq("lon")))))
      val time = h.dataset("time").get
      assert(time.attr("CLASS").map(_.value).contains(StrAttr("DIMENSION_SCALE")))
      assert(Hdf5.readAll(p, time).toSeq == Seq(0.0, 1.0, 2.0))
      assert(Hdf5.readAll(p, h.dataset("lat").get).toSeq ==
        Seq.tabulate(Y)(44.0 + _ * 0.05))
      val expect = cube((t, y, x) => t * 100.0 + y * 10 + x)
      assert(Hdf5.readAll(p, temp).toSeq == expect.toSeq)
    }

    test(s"section rows match whole read: $tag layout") {
      val p = tmp("grid.h5")
      writeGrid(p, chunked, latest)
      val h = Hdf5.open(p)
      val temp = h.dataset("temp").get
      val all = Hdf5.readAll(p, temp)
      val rdr = new Hdf5.SectionReader(p, temp)
      try {
        for (t <- 0 until T; y <- 0 until Y) {
          val row = rdr.readRow(t, y, 1, X - 2)
          val expect = (1 to X - 2).map(x => all((t * Y + y) * X + x))
          assert(row.toSeq == expect, s"t=$t y=$y")
        }
      } finally rdr.close()
    }
  }

  test("superblock v1 (indexed-storage k field) round-trips; unknown versions stay loud") {
    val p = tmp("sbv1.h5")
    val data = cube((t, y, x) => t * 100.0 + y * 10 + x)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(T, Y, X), data, chunkDims = Some(Seq(2, 3, 3)))),
      latest = false, denseRoot = false, denseAttrs = false,
      groupInternalK = 16, denseNodeSize = 4096, denseIdLen = 0,
      denseHeapGeom = None, sbV1 = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(bytes(8) == 1, "writer did not emit a v1 superblock")
    val h = Hdf5.open(p)
    val temp = h.dataset("temp").get
    assert(temp.dims == Seq(T, Y, X))
    assert(Hdf5.readAll(p, temp).toSeq == data.toSeq)
    // an unknown superblock version must reject loudly, never misparse
    bytes(8) = 4
    val p4 = tmp("sbv4.h5")
    java.nio.file.Files.write(java.nio.file.Paths.get(p4), bytes)
    val e = intercept[IllegalArgumentException](Hdf5.open(p4))
    assert(e.getMessage.contains("superblock version 4"))
  }

  test("multi-node v1 chunk b-tree: internal root + sibling leaves read whole and sectioned") {
    // a bigger cube so the chunk count comfortably exceeds the leaf cap:
    // 8×10×12 elements / 2×3×3 chunks = 4×4×4 = 64 chunks; leafK = 7 forces
    // ceil(64/7) = 10 level-0 leaves under a level-1 internal root — the
    // shape any real chunked archive takes past one node
    val (tN, yN, xN) = (8, 10, 12)
    val data = Array.tabulate(tN * yN * xN) { i =>
      val t = i / (yN * xN); val y = (i / xN) % yN; val x = i % xN
      t * 1000.0 + y * 20 + x
    }
    def writeTo(path: String, leafK: Option[Int]): Unit =
      Hdf5.write(path, Seq(
        WDataset("temp", F32, Seq(tN, yN, xN), data,
          chunkDims = Some(Seq(2, 3, 3)),
          filters = Seq(Shuffle(4), Deflate(4)),
          btreeLeafK = leafK)))
    val pMulti = tmp("multinode.h5"); val pSingle = tmp("singlenode.h5")
    writeTo(pMulti, Some(7)); writeTo(pSingle, None)
    // the tree really is multi-node: a level-1 root signature at the layout
    // address (byte 5 of the TREE block is the node level)
    locally {
      val h = Hdf5.open(pMulti)
      val raf = new java.io.RandomAccessFile(pMulti, "r")
      try {
        val Chunked(btAddr, _) = h.dataset("temp").get.layout: @unchecked
        raf.seek(btAddr + 5)
        assert(raf.read() == 1, "expected a level-1 internal root node")
      } finally raf.close()
    }
    val hm = Hdf5.open(pMulti)
    val temp = hm.dataset("temp").get
    assert(Hdf5.readAll(pMulti, temp).toSeq == data.toSeq)
    // and byte-for-byte agreement with the single-node twin on section reads
    val hs = Hdf5.open(pSingle)
    val rdrM = new Hdf5.SectionReader(pMulti, temp)
    val rdrS = new Hdf5.SectionReader(pSingle, hs.dataset("temp").get)
    try {
      for (t <- 0 until tN; y <- 0 until yN) {
        val m = rdrM.readRow(t, y, 1, xN - 2).toSeq
        assert(m == rdrS.readRow(t, y, 1, xN - 2).toSeq, s"t=$t y=$y")
        assert(m == (1 to xN - 2).map(x => data((t * yN + y) * xN + x)), s"t=$t y=$y")
      }
    } finally { rdrM.close(); rdrS.close() }
  }

  test("deep v1 chunk b-tree: internal-over-internal nodes read whole and sectioned") {
    // 64 chunks / leafK 4 = 16 leaves; internalK 4 ⇒ 4 level-1 internals
    // under a level-2 root — the depth a million-chunk archive reaches
    // (libhdf5 splits EVERY node at 2·istore_k, not just leaves)
    val (tN, yN, xN) = (8, 10, 12)
    val data = Array.tabulate(tN * yN * xN) { i =>
      val t = i / (yN * xN); val y = (i / xN) % yN; val x = i % xN
      t * 1000.0 + y * 20 + x
    }
    def writeTo(path: String, leafK: Option[Int], intK: Option[Int]): Unit =
      Hdf5.write(path, Seq(
        WDataset("temp", F32, Seq(tN, yN, xN), data,
          chunkDims = Some(Seq(2, 3, 3)),
          filters = Seq(Shuffle(4), Deflate(4)),
          btreeLeafK = leafK, btreeInternalK = intK)))
    val pDeep = tmp("deepnode.h5"); val pSingle = tmp("deep-singlenode.h5")
    writeTo(pDeep, Some(4), Some(4)); writeTo(pSingle, None, None)
    locally { // the root really is level 2 (byte 5 of the TREE block)
      val h = Hdf5.open(pDeep)
      val raf = new java.io.RandomAccessFile(pDeep, "r")
      try {
        val Chunked(btAddr, _) = h.dataset("temp").get.layout: @unchecked
        raf.seek(btAddr + 5)
        assert(raf.read() == 2, "expected a level-2 internal root node")
      } finally raf.close()
    }
    val temp = Hdf5.open(pDeep).dataset("temp").get
    assert(Hdf5.readAll(pDeep, temp).toSeq == data.toSeq)
    val rdrD = new Hdf5.SectionReader(pDeep, temp)
    val rdrS = new Hdf5.SectionReader(pSingle, Hdf5.open(pSingle).dataset("temp").get)
    try {
      for (t <- 0 until tN; y <- 0 until yN) {
        val m = rdrD.readRow(t, y, 1, xN - 2).toSeq
        assert(m == rdrS.readRow(t, y, 1, xN - 2).toSeq, s"t=$t y=$y")
      }
    } finally { rdrD.close(); rdrS.close() }
  }

  test("deep classic group b-tree: internal levels over SNOD leaves") {
    // 40 names / 8-per-SNOD = 5 SNODs; groupInternalK = 1 caps every tree
    // node at 2 children ⇒ 3 level-0 nodes, 2 level-1, one level-2 root —
    // the many-variable-archive shape past 2k SNODs. All datasets must
    // still resolve and read back through the recursive walk.
    val p = tmp("deepgroup.h5")
    val ds = (0 until 40).map(i =>
      WDataset(f"v$i%02d", F64, Seq(2), Array(i.toDouble, i + 0.5)))
    Hdf5.write(p, ds, latest = false, denseRoot = false, denseAttrs = false,
      groupInternalK = 1)
    // structural check: some type-0 TREE node carries level 2
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val sig = "TREE".getBytes
    val levels = (0 to bytes.length - 6).collect {
      case i if bytes(i) == sig(0) && bytes(i + 1) == sig(1) &&
        bytes(i + 2) == sig(2) && bytes(i + 3) == sig(3) &&
        bytes(i + 4) == 0 => bytes(i + 5).toInt // type 0 = group node
    }
    assert(levels.max == 2, s"expected a level-2 group root, saw levels $levels")
    val h = Hdf5.open(p)
    ds.foreach { d =>
      val got = h.dataset(d.name)
      assert(got.isDefined, s"${d.name} missing from deep group tree")
      assert(Hdf5.readAll(p, got.get).toSeq == d.data.toSeq, d.name)
    }
  }

  test("filtered chunks: shuffle+deflate+fletcher32 round-trip, metadata surfaced") {
    val p = tmp("filtered.h5")
    // repetitive data so deflate actually shrinks the stored bytes
    val data = cube((t, y, x) => (x % 3).toDouble)
    // checksum last, and first (netCDF-C's order: deflate then carries it)
    for (pipeline <- Seq(Seq(Shuffle(4), Deflate(6), Fletcher32),
        Seq(Fletcher32, Shuffle(4), Deflate(6)))) {
      Hdf5.write(p, Seq(
        WDataset("temp", F32, Seq(T, Y, X), data,
          chunkDims = Some(Seq(2, 3, 3)), filters = pipeline)))
      val h = Hdf5.open(p)
      val temp = h.dataset("temp").get
      assert(temp.filters == pipeline)
      assert(Hdf5.readAll(p, temp).toSeq == data.toSeq, pipeline)
      val rdr = new Hdf5.SectionReader(p, temp)
      try {
        for (t <- 0 until T; y <- 0 until Y)
          assert(rdr.readRow(t, y, 0, X - 1).toSeq ==
            (0 until X).map(x => data((t * Y + y) * X + x)), s"$pipeline t=$t y=$y")
      } finally rdr.close()
    }
    // deflate engaged: stored file smaller than the same data unfiltered
    val praw = tmp("unfiltered.h5")
    Hdf5.write(praw, Seq(
      WDataset("temp", F32, Seq(T, Y, X), data, chunkDims = Some(Seq(2, 3, 3)))))
    assert(new java.io.File(p).length() < new java.io.File(praw).length())
  }

  test("filter transforms: shuffle/unshuffle inverse (incl. leftovers), deflate round-trip, fletcher32 width") {
    val rnd = new scala.util.Random(3)
    for (len <- Seq(1, 7, 16, 1023, 8192); esz <- Seq(1, 2, 4, 8)) {
      val b = Array.fill(len)(rnd.nextInt(256).toByte)
      assert(Hdf5.unshuffleBytes(Hdf5.shuffleBytes(b, esz), esz).toSeq == b.toSeq,
        s"len=$len esz=$esz")
      assert(Hdf5.inflateBytes(Hdf5.deflateBytes(b, 6), len).toSeq == b.toSeq,
        s"deflate len=$len")
      // uint32 semantics: the C reference wraps, so the value must fit the
      // stored 4-byte field for every input
      val sum = Hdf5.fletcher32(b, len)
      assert(sum >= 0 && sum <= 0xFFFFFFFFL, s"fletcher width len=$len: $sum")
    }
    // saturated input drives the biggest intermediate sums
    val ff = Array.fill(100000)(0xFF.toByte)
    val s = Hdf5.fletcher32(ff, ff.length)
    assert(s >= 0 && s <= 0xFFFFFFFFL, s"fletcher width saturated: $s")
  }

  test("inflate: a stream longer than its chunk is refused, a cut one is truncated") {
    val b = Array.tabulate(5000)(i => (i * 7 % 251).toByte)
    val z = Hdf5.deflateBytes(b, 6)
    assert(Hdf5.inflateBytes(z, b.length).toSeq == b.toSeq)
    // one byte more than the chunk holds: refused before it can grow
    val e = intercept[java.util.zip.DataFormatException](Hdf5.inflateBytes(z, b.length - 1))
    assert(e.getMessage.contains("past its expected 4999 bytes"), e.getMessage)
    intercept[java.io.EOFException](Hdf5.inflateBytes(z.dropRight(8), b.length))
    // all data present, end marker cut: still truncated, never accepted
    intercept[java.io.EOFException](Hdf5.inflateBytes(z.dropRight(4), b.length))
    // a zlib header asking for a preset dictionary (FDICT) fails, never spins
    intercept[java.util.zip.DataFormatException](Hdf5.inflateBytes(
      Array(0x78, 0xBB, 0, 0, 0, 1, 1, 2, 3, 4).map(_.toByte), b.length))
  }

  test("fill value message: versions 1–3, defined or not") {
    def body(bytes: Int*): java.nio.ByteBuffer =
      java.nio.ByteBuffer.wrap(bytes.map(_.toByte).toArray).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fill(bytes: Int*): Option[Seq[Byte]] = Hdf5.parseFill(body(bytes: _*), "f").map(_.toSeq)
    assert(fill(1, 2, 2, 1, 2, 0, 0, 0, 0x34, 0x12) == Some(Seq[Byte](0x34, 0x12)))
    assert(fill(1, 2, 2, 0) == None)
    assert(fill(2, 1, 0, 0) == None)
    assert(fill(2, 1, 0, 1, 0, 0, 0, 0) == None) // defined at the library default
    assert(fill(3, 0x10 | 0x01) == None)
    assert(fill(3, 0x20 | 0x01, 1, 0, 0, 0, 0x7F) == Some(Seq[Byte](0x7F)))
    intercept[IllegalArgumentException](fill(3, 0x30)) // undefined AND has-value
    intercept[IllegalArgumentException](fill(2, 1, 0, 1, 9, 0, 0, 0, 1)) // size overruns
    intercept[IllegalArgumentException](fill(4, 0))
  }

  test("defined fill value: unallocated chunks read as it, whole and sectioned") {
    val td = 8 // 8 × 2 × 2 = 32 chunks of (1, 2, 3); fixed-array index
    val sparse = Set(0, 5, 6, 31)
    val data = Array.tabulate(td * Y * X)(i => (i % 37).toDouble + 1)
    def chunkOf(t: Int, y: Int, x: Int): Int = (t * 2 + y / 2) * 2 + x / 3
    for ((dtype, fill) <- Seq(F32 -> -999.0, I16 -> -32767.0, F64 -> Double.NaN)) {
      val p = tmp(s"fill-$dtype.h5")
      Hdf5.write(p, Seq(WDataset("temp", dtype, Seq(td, Y, X), data,
        chunkDims = Some(Seq(1, 2, 3)), sparseChunks = sparse,
        fillValue = Some(fill))), latest = true)
      val ds = Hdf5.open(p).dataset("temp").get
      assert(ds.fillValue.map(_.toString) == Some(fill.toString), dtype)
      val want = Array.tabulate(td * Y * X) { i =>
        if (sparse(chunkOf(i / (Y * X), (i / X) % Y, i % X))) fill else data(i)
      }
      assert(Hdf5.readAll(p, ds).map(_.toString).toSeq == want.map(_.toString).toSeq, dtype)
      val rdr = new Hdf5.SectionReader(p, ds)
      try {
        for (t <- 0 until td; y <- 0 until Y)
          assert(rdr.readRow(t, y, 1, X - 1).map(_.toString).toSeq ==
            (1 until X).map(x => want((t * Y + y) * X + x).toString), s"$dtype t=$t y=$y")
      } finally rdr.close()
    }
    // the classic writer's v2 message carries the defined value too
    val pc = tmp("fill-classic.h5")
    Hdf5.write(pc, Seq(WDataset("temp", F32, Seq(T, Y, X), cube((_, _, _) => 1.0),
      chunkDims = Some(Seq(1, Y, X)), fillValue = Some(-999.0))))
    assert(Hdf5.open(pc).dataset("temp").get.fillValue == Some(-999.0))
    // undefined: the format's default 0
    val pu = tmp("fill-undefined.h5")
    writeGrid(pu, chunked = true, latest = true)
    assert(Hdf5.open(pu).dataset("temp").get.fillValue.isEmpty)
  }

  test("lookup3 matches the published hashlittle test vectors") {
    // vectors from the public lookup3.c self-test (Bob Jenkins, 2006)
    val q = "Four score and seven years ago".getBytes("US-ASCII")
    assert(Hdf5.lookup3(q, 0) == 0x17770551)
    assert(Hdf5.lookup3(q, 1) == 0xCD628161.toInt)
    assert(Hdf5.lookup3(Array.empty[Byte], 0) == 0xDEADBEEF.toInt)
  }

  test("latest format: filtered multi-chunk dataset via fixed array (client 1)") {
    val p = tmp("latest-filtered.h5")
    val data = cube((t, y, x) => (x % 3).toDouble)
    val pipeline = Seq(Shuffle(4), Deflate(6), Fletcher32)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(T, Y, X), data,
        chunkDims = Some(Seq(2, 3, 3)), filters = pipeline)), latest = true)
    val h = Hdf5.open(p)
    val temp = h.dataset("temp").get
    assert(temp.filters == pipeline)
    assert(Hdf5.readAll(p, temp).toSeq == data.toSeq)
    val rdr = new Hdf5.SectionReader(p, temp)
    try {
      for (t <- 0 until T; y <- 0 until Y)
        assert(rdr.readRow(t, y, 0, X - 1).toSeq ==
          (0 until X).map(x => data((t * Y + y) * X + x)), s"t=$t y=$y")
    } finally rdr.close()
  }

  for (filtered <- Seq(false, true)) {
    test(s"latest format: single-chunk index (filtered=$filtered)") {
      val p = tmp("latest-single.h5")
      val data = cube((t, y, x) => t * 100.0 + y * 10 + x)
      Hdf5.write(p, Seq(
        WDataset("temp", F64, Seq(T, Y, X), data,
          chunkDims = Some(Seq(T, Y, X)), // whole extent = exactly one chunk
          filters = if (filtered) Seq(Fletcher32) else Nil)), latest = true)
      val h = Hdf5.open(p)
      val temp = h.dataset("temp").get
      assert(Hdf5.readAll(p, temp).toSeq == data.toSeq)
      val rdr = new Hdf5.SectionReader(p, temp)
      try assert(rdr.readRow(1, 2, 1, X - 2).toSeq ==
        (1 to X - 2).map(x => data((1 * Y + 2) * X + x)))
      finally rdr.close()
    }
  }

  test("latest format: implicit chunk index (back-to-back unfiltered chunks)") {
    val p = tmp("latest-implicit.h5")
    val data = cube((t, y, x) => t * 100.0 + y * 10 + x)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(T, Y, X), data,
        chunkDims = Some(Seq(2, 3, 3)), implicitIndex = true)), latest = true)
    val h = Hdf5.open(p)
    val temp = h.dataset("temp").get
    assert(temp.layout.asInstanceOf[ChunkedV4].index.isInstanceOf[ImplicitIndex])
    assert(Hdf5.readAll(p, temp).toSeq == data.toSeq)
    val rdr = new Hdf5.SectionReader(p, temp)
    try {
      for (t <- 0 until T; y <- 0 until Y)
        assert(rdr.readRow(t, y, 1, X - 2).toSeq ==
          (1 to X - 2).map(x => data((t * Y + y) * X + x)), s"t=$t y=$y")
    } finally rdr.close()
    // filters + implicit is rejected at write time (the index has no
    // per-chunk sizes to store)
    val e = intercept[IllegalArgumentException](Hdf5.write(tmp("bad.h5"), Seq(
      WDataset("v", F32, Seq(T, Y, X), data, chunkDims = Some(Seq(2, 3, 3)),
        filters = Seq(Fletcher32), implicitIndex = true)), latest = true))
    assert(e.getMessage.contains("implicit"))
  }

  /** Count non-overlapping occurrences of a 4-byte signature in a file. */
  private def sigCount(path: String, sig: String): Int = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val pat = sig.getBytes
    var n = 0; var i = 0
    while (i <= bytes.length - 4) {
      if (bytes(i) == pat(0) && bytes(i + 1) == pat(1) &&
        bytes(i + 2) == pat(2) && bytes(i + 3) == pat(3)) { n += 1; i += 4 }
      else i += 1
    }
    n
  }

  // Extensible array: three chunk counts land in the three block shapes —
  // 2 chunks fit the index block's inline elements, 10 spill to direct
  // data blocks, 80 outgrow the direct pointers into real EASB super
  // blocks (fixture geometry: 4 inline + 2 direct pointers / 16 elements).
  // Expected block counts under the fixture geometry (idx 4, minElmts 4,
  // minPtrs 2): super block u holds 2^(u/2) data blocks of 2^((u+1)/2)·4
  // elements; sblks 0–1 are index-direct. 2 chunks → inline only;
  // 10 → sblk0 + sblk1 data blocks, still direct; 80 → 7 data blocks
  // across sblks 0–4, with sblks 2–4 behind real EASBs.
  for {
    filtered <- Seq(false, true)
    (td, nchunks, easbs, eadbs) <- Seq((4, 2, 0, 0), (20, 10, 0, 2), (160, 80, 3, 7))
  } test(s"latest format: extensible-array chunk index " +
    s"($nchunks chunks, $easbs super blocks, filtered=$filtered)") {
    val p = tmp("latest-ea.h5")
    val data = Array.tabulate(td * Y * X)(i => ((i * 37) % 91).toDouble - 20)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(td, Y, X), data,
        chunkDims = Some(Seq(2, Y, X)), eaIndex = true,
        filters = if (filtered) Seq(Shuffle(4), Deflate(6)) else Nil,
        maxDims = Some(Seq(-1L, Y, X)))), latest = true) // dim 0 unlimited
    assert(sigCount(p, "EAHD") == 1)
    assert(sigCount(p, "EAIB") == 1)
    assert(sigCount(p, "EASB") == easbs)
    assert(sigCount(p, "EADB") == eadbs)
    val h = Hdf5.open(p)
    val temp = h.dataset("temp").get
    assert(temp.layout.asInstanceOf[ChunkedV4].index.isInstanceOf[ExtensibleArrayIndex])
    assert(Hdf5.readAll(p, temp).toSeq == data.toSeq)
    val rdr = new Hdf5.SectionReader(p, temp)
    try {
      for (t <- Seq(0, td / 2, td - 1); y <- 0 until Y)
        assert(rdr.readRow(t, y, 1, X - 2).toSeq ==
          (1 to X - 2).map(x => data((t * Y + y) * X + x)), s"t=$t y=$y")
    } finally rdr.close()
  }

  test("extensible array: EAHD field order follows its own spec section (minElmts BEFORE minPtrs)") {
    val p = tmp("ea-order.h5")
    val data = Array.tabulate(20 * Y * X)(_.toDouble)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(20, Y, X), data,
        chunkDims = Some(Seq(2, Y, X)), eaIndex = true)), latest = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val at = bytes.indexOfSlice("EAHD".getBytes)
    assert(at > 0)
    // sig(4) ver(1) client(1) elmtSize(1), then the cparams — the fixture
    // geometry has minElmts=4 ≠ minPtrs=2, so a swapped order cannot pass
    assert(bytes(at + 4) == 0, "version")
    assert(bytes(at + 5) == 0, "client 0 (unfiltered)")
    assert(bytes(at + 6) == 8, "element size: bare address")
    assert(bytes(at + 7) == 32, "max nelmts bits")
    assert(bytes(at + 8) == 4, "index block elements")
    assert(bytes(at + 9) == 4, "data block min ELEMENTS comes first")
    assert(bytes(at + 10) == 2, "super block min POINTERS second")
    assert(bytes(at + 11) == 10, "data block page bits")
    // and the LAYOUT message encodes the same cparams in ITS spec order
    // (minPtrs before minElmts) — the reader cross-requires the two agree,
    // so a round-trip read proves the asymmetry is handled
    assert(Hdf5.readAll(p, Hdf5.open(p).dataset("temp").get).toSeq == data.toSeq)
  }

  test("extensible array: corrupted data block fails the checksum loudly") {
    val p = tmp("ea-corrupt.h5")
    val data = Array.tabulate(20 * Y * X)(_.toDouble)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(20, Y, X), data,
        chunkDims = Some(Seq(2, Y, X)), eaIndex = true)), latest = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val at = bytes.indexOfSlice("EADB".getBytes)
    assert(at > 0)
    bytes(at + 20) = (bytes(at + 20) ^ 0xFF).toByte // an element byte
    java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes)
    val h = Hdf5.open(p)
    val e = intercept[IllegalArgumentException](
      Hdf5.readAll(p, h.dataset("temp").get))
    assert(e.getMessage.contains("checksum"))
  }

  // v2 b-tree chunk index: 8 unfiltered chunks fit one type-10 leaf
  // (depth 0); 80 filtered chunks at node size 256 force a depth-2 tree of
  // type-11 records (internal-over-internal — the million-chunk shape).
  for ((filtered, td, nodeSize, minDepthNodes) <- Seq(
    (false, 16, 512, 0), (true, 160, 256, 3)))
  test(s"latest format: v2 b-tree chunk index (filtered=$filtered, node=$nodeSize)") {
    val p = tmp("latest-bt2.h5")
    val data = Array.tabulate(td * Y * X)(i => ((i * 53) % 83).toDouble - 11)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(td, Y, X), data,
        chunkDims = Some(Seq(2, Y, X)), bt2NodeSize = Some(nodeSize),
        filters = if (filtered) Seq(Shuffle(4), Deflate(6)) else Nil,
        maxDims = Some(Seq(-1L, -1L, X)))), latest = true) // 2 unlimited dims
    assert(sigCount(p, "BTHD") == 1)
    assert(sigCount(p, "BTIN") >= minDepthNodes,
      "the filtered fixture must traverse internal-over-internal nodes")
    val h = Hdf5.open(p)
    val temp = h.dataset("temp").get
    assert(temp.layout.asInstanceOf[ChunkedV4].index.isInstanceOf[Btree2Index])
    assert(Hdf5.readAll(p, temp).toSeq == data.toSeq)
    val rdr = new Hdf5.SectionReader(p, temp)
    try {
      for (t <- Seq(0, td / 2, td - 1); y <- 0 until Y)
        assert(rdr.readRow(t, y, 1, X - 2).toSeq ==
          (1 to X - 2).map(x => data((t * Y + y) * X + x)), s"t=$t y=$y")
    } finally rdr.close()
  }

  test("latest format: dense root group (fractal heap + v2 b-tree) round-trips") {
    val p = tmp("dense.h5"); val pc = tmp("compact.h5")
    val data = cube((t, y, x) => t * 100.0 + y * 10 + x)
    def grid = Seq(
      WDataset("time", I32, Seq(T), Array.tabulate(T)(_.toDouble),
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "time")),
      WDataset("lat", F64, Seq(Y), Array.tabulate(Y)(44.0 + _ * 0.05)),
      WDataset("lon", F64, Seq(X), Array.tabulate(X)(-80.0 + _ * 0.05)),
      WDataset("temp", F32, Seq(T, Y, X), data,
        refAttrs = Seq("DIMENSION_LIST" -> Seq(Seq("time"), Seq("lat"), Seq("lon"))),
        chunkDims = Some(Seq(2, 3, 3))))
    Hdf5.write(p, grid, latest = true, denseRoot = true)
    Hdf5.write(pc, grid, latest = true, denseRoot = false)
    val d = Hdf5.open(p); val c = Hdf5.open(pc)
    assert(d.datasets.map(_.name) == c.datasets.map(_.name))
    assert(d.dataset("temp").get.attr("DIMENSION_LIST").map(_.value)
      .contains(RefListAttr(Seq(Seq("time"), Seq("lat"), Seq("lon")))))
    for (n <- Seq("time", "lat", "lon", "temp"))
      assert(Hdf5.readAll(p, d.dataset(n).get).toSeq ==
        Hdf5.readAll(pc, c.dataset(n).get).toSeq, n)
  }

  test("latest format: dense attribute storage round-trips, equal to compact") {
    val p = tmp("denseattr.h5"); val pc = tmp("compactattr.h5")
    val data = cube((t, y, x) => t * 100.0 + y * 10 + x)
    // 10 attributes on the data var — past libhdf5's 8-attr compact limit,
    // the shape that actually triggers dense storage in real files
    def grid = Seq(
      WDataset("time", I32, Seq(T), Array.tabulate(T)(_.toDouble),
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "time")),
      WDataset("temp", F32, Seq(T, Y, X), data,
        strAttrs = Seq("long_name" -> "air temperature", "units" -> "K",
          "standard_name" -> "air_temperature", "cell_methods" -> "time: mean",
          "comment" -> "synthetic", "grid_mapping" -> "crs"),
        numAttrs = Seq(("_FillValue", F32, Seq(-999.0)),
          ("valid_min", F32, Seq(-60.0)), ("valid_max", F32, Seq(60.0))),
        refAttrs = Seq("DIMENSION_LIST" -> Seq(Seq("time"))),
        chunkDims = Some(Seq(2, 3, 3))))
    Hdf5.write(p, grid, latest = true, denseRoot = false, denseAttrs = true)
    Hdf5.write(pc, grid, latest = true, denseRoot = false, denseAttrs = false)
    val d = Hdf5.open(p); val c = Hdf5.open(pc)
    val dt = d.dataset("temp").get; val ct = c.dataset("temp").get
    assert(dt.attrs.map(_.name).sorted == ct.attrs.map(_.name).sorted)
    assert(dt.attrs.length == 10)
    for (a <- ct.attrs)
      assert(dt.attr(a.name).map(_.value).contains(a.value), a.name)
    // the vlen object-reference attribute resolves through the heap too
    assert(dt.attr("DIMENSION_LIST").map(_.value)
      .contains(RefListAttr(Seq(Seq("time")))))
    assert(Hdf5.readAll(p, dt).toSeq == Hdf5.readAll(pc, ct).toSeq)
    // dense-attr objects coexist with a dense root group in one file
    val pb = tmp("denseboth.h5")
    Hdf5.write(pb, grid, latest = true, denseRoot = true, denseAttrs = true)
    val b = Hdf5.open(pb)
    assert(b.dataset("temp").get.attrs.map(_.name).sorted ==
      ct.attrs.map(_.name).sorted)
    assert(Hdf5.readAll(pb, b.dataset("temp").get).toSeq == data.toSeq)
    // dataset names may contain ':' (any char but '/') — the dense-attr
    // block dispatch must not split on it
    val pc2 = tmp("colon.h5")
    Hdf5.write(pc2, Seq(WDataset("a:b", F64, Seq(2), Array(1.0, 2.0),
      strAttrs = Seq("long_name" -> "colon"))),
      latest = true, denseRoot = false, denseAttrs = true)
    val h2 = Hdf5.open(pc2)
    assert(h2.dataset("a:b").get.attr("long_name").map(_.value)
      .contains(StrAttr("colon")))
  }

  test("dense root group: 26 links land at distinct heap offsets and all resolve") {
    val p = tmp("many.h5")
    val dsets = ('a' to 'z').map(ch =>
      WDataset(s"var_$ch", F64, Seq(2), Array(ch.toDouble, ch.toDouble / 2)))
    Hdf5.write(p, dsets, latest = true, denseRoot = true)
    val h = Hdf5.open(p)
    assert(h.datasets.map(_.name) == ('a' to 'z').map(ch => s"var_$ch"))
    for (ch <- 'a' to 'z')
      assert(Hdf5.readAll(p, h.dataset(s"var_$ch").get).toSeq ==
        Seq(ch.toDouble, ch.toDouble / 2), ch)
  }

  test("deep fractal heap: 80 links overflow into indirect child blocks and all resolve") {
    // geometry (start 64, max direct 128): the root's direct rows hold only
    // ~24 of the 80 link messages, so the heap MUST grow an FHIB root whose
    // rows 3+ point at CHILD indirect blocks (children of 1, 2 and 3 rows
    // all occur) — the wide-group shape a many-variable archive's link heap
    // takes at scale, shrunk to fixture size
    val p = tmp("deepheap.h5"); val pc = tmp("deepheap-compact.h5")
    def dsets = (0 until 80).map(i =>
      WDataset(f"metric_$i%04d", F64, Seq(2), Array(i.toDouble, i * 0.5)))
    Hdf5.write(p, dsets, latest = true, denseRoot = true, denseAttrs = false,
      groupInternalK = 16, denseNodeSize = 4096, denseIdLen = 0,
      denseHeapGeom = Some((64L, 128L)))
    Hdf5.write(pc, dsets, latest = true, denseRoot = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def count(sig: String) = bytes.sliding(4).count(_.sameElements(sig.getBytes))
    assert(count("FHIB") >= 5,
      s"expected a root + child indirect blocks, found ${count("FHIB")}")
    assert(count("FHDB") >= 20,
      s"expected many direct blocks, found ${count("FHDB")}")
    val h = Hdf5.open(p); val c = Hdf5.open(pc)
    assert(h.datasets.map(_.name) == c.datasets.map(_.name))
    // indices spanning the direct rows and every child-depth region
    for (i <- Seq(0, 23, 24, 41, 60, 79))
      assert(Hdf5.readAll(p, h.dataset(f"metric_$i%04d").get).toSeq ==
        Seq(i.toDouble, i * 0.5), i)
  }

  test("deep fractal heap: 90 dense attributes overflow into indirect child blocks") {
    // same tree, attribute flavor: geometry (128, 512) fits ~72 of the 90
    // attribute messages in direct rows, forcing row-4 indirect children in
    // the per-dataset attribute heap
    val p = tmp("deepattrs.h5"); val pc = tmp("deepattrs-single.h5")
    def ds = Seq(WDataset("temp", F64, Seq(3), Array(1.0, 2.0, 3.0),
      numAttrs = (0 until 90).map(i => (f"a_$i%04d", F64, Seq(i * 1.5)))))
    Hdf5.write(p, ds, latest = true, denseRoot = false, denseAttrs = true,
      groupInternalK = 16, denseNodeSize = 4096, denseIdLen = 0,
      denseHeapGeom = Some((128L, 512L)))
    Hdf5.write(pc, ds, latest = true, denseRoot = false, denseAttrs = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def count(sig: String) = bytes.sliding(4).count(_.sameElements(sig.getBytes))
    assert(count("FHIB") >= 2,
      s"expected a root + child indirect blocks, found ${count("FHIB")}")
    val h = Hdf5.open(p); val c = Hdf5.open(pc)
    val ht = h.dataset("temp").get; val ct = c.dataset("temp").get
    assert(ht.attrs.map(_.name).sorted == ct.attrs.map(_.name).sorted)
    assert(ht.attrs.length == 90)
    for (a <- ct.attrs)
      assert(ht.attr(a.name).map(_.value).contains(a.value), a.name)
    assert(Hdf5.readAll(p, ht).toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("classic group with 26 links splits across multiple SNODs (leaf k = 4) and all resolve") {
    // the superblock declares group leaf k = 4 → max 8 symbols per SNOD, so
    // a 26-variable classic archive MUST fan the root b-tree over 4 symbol
    // table nodes — the many-variable shape real archives take
    val p = tmp("many-classic.h5")
    val dsets = ('a' to 'z').map(ch =>
      WDataset(s"var_$ch", F64, Seq(2), Array(ch.toDouble, ch.toDouble / 2)))
    Hdf5.write(p, dsets)
    // count SNOD signatures in the raw bytes: ceil(26/8) = 4 nodes
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val snods = bytes.sliding(4).count(_.sameElements("SNOD".getBytes))
    assert(snods == 4, s"expected 4 symbol table nodes, found $snods")
    val h = Hdf5.open(p)
    assert(h.datasets.map(_.name) == ('a' to 'z').map(ch => s"var_$ch"))
    for (ch <- 'a' to 'z')
      assert(Hdf5.readAll(p, h.dataset(s"var_$ch").get).toSeq ==
        Seq(ch.toDouble, ch.toDouble / 2), ch)
  }

  test("dense root group with 400 links: name-index v2 b-tree splits into BTIN + multiple leaves") {
    // 400 link records × 11 bytes > one 4096-byte leaf (max 371), so the
    // writer must emit a depth-1 tree — the many-variable archive shape —
    // and the reader must walk root records + all leaves
    val p = tmp("manylinks.h5")
    val dsets = (0 until 400).map(i =>
      WDataset(f"v$i%03d", F64, Seq(2), Array(i.toDouble, i / 2.0)))
    Hdf5.write(p, dsets, latest = true, denseRoot = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def count(sig: String) = bytes.sliding(4).count(_.sameElements(sig.getBytes))
    assert(count("BTIN") == 1, s"expected one internal root, found ${count("BTIN")}")
    assert(count("BTLF") >= 2, s"expected split leaves, found ${count("BTLF")}")
    val h = Hdf5.open(p)
    assert(h.datasets.map(_.name) == (0 until 400).map(i => f"v$i%03d"))
    for (i <- Seq(0, 123, 371, 399))
      assert(Hdf5.readAll(p, h.dataset(f"v$i%03d").get).toSeq ==
        Seq(i.toDouble, i / 2.0), i)
  }

  for (n <- Seq(241, 300)) // 241 = leaf capacity + 1, the split boundary
  test(s"dense attributes past one leaf: $n attrs resolve through BTIN + leaves (':' name safe)") {
    // attr records are 17 bytes → max 240 per 4096-byte leaf; both counts
    // force the split (241 is the off-by-one boundary where the naive leaf
    // count would overstuff a single leaf). The dataset name carries ':'
    // to pin the block-name dispatch.
    val p = tmp("manyattrs.h5")
    val attrs = (0 until n).map(i => (f"a$i%03d", F64, Seq(i.toDouble)))
    Hdf5.write(p, Seq(
      WDataset("t:v", F64, Seq(2), Array(1.0, 2.0), numAttrs = attrs)),
      latest = true, denseRoot = false, denseAttrs = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def count(sig: String) = bytes.sliding(4).count(_.sameElements(sig.getBytes))
    assert(count("BTIN") == 1, s"expected one internal root, found ${count("BTIN")}")
    assert(count("BTLF") >= 2, s"expected split leaves, found ${count("BTLF")}")
    val ds = Hdf5.open(p).dataset("t:v").get
    assert(ds.attrs.length == n)
    for (i <- Seq(0, 99, 240, n - 1))
      assert(ds.attr(f"a$i%03d").map(_.value).contains(NumAttr(Seq(i.toDouble))), i)
  }

  test("depth-2 dense name indexes: internal-over-internal v2 b-trees for links and attrs") {
    // at denseNodeSize = 128 a link leaf holds 10 records and the depth-1
    // cumulative capacity is 65 (attrs: 6 and 34), so 120 of each forces a
    // depth-2 tree — the ≈100k-entry shape at the real 4096 node size,
    // reached here with a fixture-sized count; the reader derives all
    // pointer-field widths from the header geometry
    val p = tmp("deepdense.h5")
    val dsets = (0 until 120).map(i =>
      WDataset(f"v$i%03d", F64, Seq(2), Array(i.toDouble, i / 2.0),
        numAttrs =
          if (i == 0) (0 until 120).map(k => (f"a$k%03d", F64, Seq(k * 1.5)))
          else Nil))
    Hdf5.write(p, dsets, latest = true, denseRoot = true, denseAttrs = true,
      groupInternalK = 16, denseNodeSize = 128)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val depths = (0 to bytes.length - 14).collect {
      case i if bytes(i) == 'B' && bytes(i + 1) == 'T' && bytes(i + 2) == 'H' &&
        bytes(i + 3) == 'D' =>
        (bytes(i + 12) & 0xFF) | ((bytes(i + 13) & 0xFF) << 8)
    }
    assert(depths.max == 2, s"expected a depth-2 BTHD header, saw depths $depths")
    val h = Hdf5.open(p)
    assert(h.datasets.map(_.name) == (0 until 120).map(i => f"v$i%03d"))
    for (i <- Seq(0, 59, 119))
      assert(Hdf5.readAll(p, h.dataset(f"v$i%03d").get).toSeq ==
        Seq(i.toDouble, i / 2.0), i)
    val v0 = h.dataset("v000").get
    assert(v0.attrs.length == 120)
    for (k <- Seq(0, 34, 65, 119))
      assert(v0.attr(f"a$k%03d").map(_.value).contains(NumAttr(Seq(k * 1.5))), k)
  }

  test("huge fractal-heap objects: a >4 KB array attribute spills to the huge-object index") {
    // an 1100-double attribute body (~8.8 KB) exceeds the 4096-byte max
    // managed size, so the writer must store it as a huge object behind the
    // heap's type-1 v2 b-tree — libhdf5's spill path for large attributes —
    // while the small attributes stay managed in the direct block
    val p = tmp("hugeattr.h5")
    val big = (0 until 1100).map(_.toDouble)
    Hdf5.write(p, Seq(
      WDataset("temp", F64, Seq(2), Array(1.0, 2.0),
        strAttrs = Seq("long_name" -> "with a huge neighbor"),
        numAttrs = Seq(("calibration_table", F64, big),
          ("small", F64, Seq(42.0))))),
      latest = true, denseRoot = false, denseAttrs = true)
    val ds = Hdf5.open(p).dataset("temp").get
    assert(ds.attr("calibration_table").map(_.value).contains(NumAttr(big)))
    assert(ds.attr("small").map(_.value).contains(NumAttr(Seq(42.0))))
    assert(ds.attr("long_name").map(_.value).contains(StrAttr("with a huge neighbor")))
    assert(Hdf5.readAll(p, ds).toSeq == Seq(1.0, 2.0))
  }

  test("tiny fractal-heap objects: short link messages inline in widened heap IDs") {
    // with the declared heap ID widened to 18 bytes (write knob; libhdf5's
    // "tiny" path), a 1-char-name hard link message (~12 bytes) fits INSIDE
    // its ID — flag byte 0x2w (type 2, length-1 in the low nibble), body
    // inline, nothing in the heap's direct block
    val p = tmp("tinylink.h5")
    Hdf5.write(p, Seq(
      WDataset("a", F64, Seq(2), Array(1.0, 2.0)),
      WDataset("b", F64, Seq(3), Array(3.0, 4.0, 5.0))),
      latest = true, denseRoot = true, denseAttrs = false,
      groupInternalK = 16, denseNodeSize = 4096, denseIdLen = 18)
    // prove a tiny ID actually exists in the file: first record of the
    // name-index BTLF is hash(4) + heap ID, whose flag byte must carry
    // type bits 2 (H5HF_ID_TYPE_TINY 0x20) — guards against the writer
    // silently keeping everything managed, which would pass reads anyway
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val leaf = (0 until bytes.length - 4).find(i =>
      bytes(i) == 'B' && bytes(i + 1) == 'T' && bytes(i + 2) == 'L' &&
        bytes(i + 3) == 'F').get
    val flag = bytes(leaf + 6 + 4) & 0xFF
    assert(((flag >> 4) & 3) == 2, f"expected a tiny heap ID, flag=0x$flag%02x")
    val h = Hdf5.open(p)
    assert(Hdf5.readAll(p, h.dataset("a").get).toSeq == Seq(1.0, 2.0))
    assert(Hdf5.readAll(p, h.dataset("b").get).toSeq == Seq(3.0, 4.0, 5.0))
  }

  test("extended tiny heap IDs: 12-bit length over two header bytes (idLen > 18)") {
    // idLen 24 forces the EXTENDED tiny sub-variant: length-1 is 12 bits,
    // high nibble in the flag byte, low 8 in the second byte, data at +2
    // (libhdf5 H5HF_TINY_MASK_EXT_1/2). A ~20-byte link message fits
    // idLen-2 = 22 but NOT the normal variant's 16-byte cap.
    val p = tmp("tinyext.h5")
    Hdf5.write(p, Seq(
      WDataset("longishname", F64, Seq(2), Array(1.0, 2.0)),
      WDataset("n2", F64, Seq(3), Array(3.0, 4.0, 5.0))),
      latest = true, denseRoot = true, denseAttrs = false,
      groupInternalK = 16, denseNodeSize = 4096, denseIdLen = 24)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val leaf = (0 until bytes.length - 4).find(i =>
      bytes(i) == 'B' && bytes(i + 1) == 'T' && bytes(i + 2) == 'L' &&
        bytes(i + 3) == 'F').get
    val flag = bytes(leaf + 6 + 4) & 0xFF
    assert(((flag >> 4) & 3) == 2, f"expected a tiny heap ID, flag=0x$flag%02x")
    // "longishname"'s message is 11 (name) + 3 (ver/flags/len) + 8 (addr)
    // = 22 bytes: len-1 = 21 needs the second byte (21 = 0x015), proving
    // the extended split is really exercised, not just zero-extended
    val h = Hdf5.open(p)
    assert(h.datasets.map(_.name) == Seq("longishname", "n2"))
    assert(Hdf5.readAll(p, h.dataset("longishname").get).toSeq == Seq(1.0, 2.0))
    assert(Hdf5.readAll(p, h.dataset("n2").get).toSeq == Seq(3.0, 4.0, 5.0))
  }

  test("filtered fractal heap: deflated root direct block (header size + pipeline)") {
    // denseHeapFilter compresses every heap direct block; the root-direct
    // case keeps the stored size + mask in the FRHP header itself
    val p = tmp("filtheap.h5"); val pc = tmp("filtheap-plain.h5")
    def dsets = (0 until 6).map(i =>
      WDataset(s"v$i", F64, Seq(2), Array(i.toDouble, i + 0.5)))
    Hdf5.write(p, dsets, latest = true, denseRoot = true, denseAttrs = false,
      groupInternalK = 16, denseNodeSize = 4096, denseIdLen = 0,
      denseHeapGeom = None, links = Nil, denseHeapFilter = true)
    Hdf5.write(pc, dsets, latest = true, denseRoot = true)
    // the FRHP must DECLARE the pipeline: filter-info length at header+6
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val frhp = (0 until bytes.length - 4).find(i =>
      bytes(i) == 'F' && bytes(i + 1) == 'R' && bytes(i + 2) == 'H' &&
        bytes(i + 3) == 'P').get
    val filterLen = ((bytes(frhp + 6) & 0xFF) | ((bytes(frhp + 7) & 0xFF) << 8))
    assert(filterLen > 0, "FRHP must declare a filter pipeline")
    val h = Hdf5.open(p); val c = Hdf5.open(pc)
    assert(h.datasets.map(_.name) == c.datasets.map(_.name))
    for (i <- 0 until 6)
      assert(Hdf5.readAll(p, h.dataset(s"v$i").get).toSeq ==
        Seq(i.toDouble, i + 0.5), i)
  }

  test("filtered fractal heap: indirect layout with per-block stored sizes") {
    // multi-block doubling table + filter: FHIB direct entries widen to
    // (address, stored size, mask) and every child block inflates back
    val p = tmp("filtdeep.h5")
    def dsets = (0 until 80).map(i =>
      WDataset(f"metric_$i%04d", F64, Seq(2), Array(i.toDouble, i * 0.5)))
    Hdf5.write(p, dsets, latest = true, denseRoot = true, denseAttrs = false,
      groupInternalK = 16, denseNodeSize = 4096, denseIdLen = 0,
      denseHeapGeom = Some((64L, 128L)), links = Nil, denseHeapFilter = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def count(sig: String) = bytes.sliding(4).count(_.sameElements(sig.getBytes))
    assert(count("FHIB") >= 5,
      s"expected a root + child indirect blocks, found ${count("FHIB")}")
    val h = Hdf5.open(p)
    for (i <- Seq(0, 23, 24, 41, 60, 79))
      assert(Hdf5.readAll(p, h.dataset(f"metric_$i%04d").get).toSeq ==
        Seq(i.toDouble, i * 0.5), i)
  }

  test("filtered fractal heap: corrupted compressed block fails loudly") {
    val p = tmp("filtcorrupt.h5")
    Hdf5.write(p, (0 until 6).map(i =>
      WDataset(s"v$i", F64, Seq(2), Array(i.toDouble, i + 0.5))),
      latest = true, denseRoot = true, denseAttrs = false,
      groupInternalK = 16, denseNodeSize = 4096, denseIdLen = 0,
      denseHeapGeom = None, links = Nil, denseHeapFilter = true)
    val path = java.nio.file.Paths.get(p)
    val bytes = java.nio.file.Files.readAllBytes(path)
    // stored-mode deflate keeps plaintext visible: flip a byte INSIDE the
    // compressed root block's payload (FHDB is in the stream) — the
    // inflated block's checksum must catch it
    val fhdb = (0 until bytes.length - 4).find(i =>
      bytes(i) == 'F' && bytes(i + 1) == 'H' && bytes(i + 2) == 'D' &&
        bytes(i + 3) == 'B').get
    bytes(fhdb + 40) = (bytes(fhdb + 40) ^ 0x5A).toByte
    java.nio.file.Files.write(path, bytes)
    val e = intercept[Exception](Hdf5.open(p))
    // either the zlib adler32 ("incorrect data check") or, for flips it
    // misses, the inflated block's lookup3 checksum — loud both ways
    assert(e.getMessage.contains("checksum") ||
      e.getMessage.contains("data check"), s"unexpected: ${e.getMessage}")
  }

  test("filtered dense attributes round-trip") {
    val p = tmp("filtattrs.h5")
    val ds = Seq(WDataset("temp", F64, Seq(3), Array(1.0, 2.0, 3.0),
      numAttrs = (0 until 20).map(i => (f"a_$i%02d", F64, Seq(i * 1.5)))))
    Hdf5.write(p, ds, latest = true, denseRoot = false, denseAttrs = true,
      groupInternalK = 16, denseNodeSize = 4096, denseIdLen = 0,
      denseHeapGeom = None, links = Nil, denseHeapFilter = true)
    val t = Hdf5.open(p).dataset("temp").get
    assert(t.attrs.length == 20)
    for (i <- 0 until 20)
      assert(t.attr(f"a_$i%02d").map(_.value).contains(NumAttr(Seq(i * 1.5))))
  }

  test("huge heap IDs use type bits 1 (libhdf5 H5HF_ID_TYPE_HUGE), not 2") {
    // interop lock: r14 encoded huge as type 2 — self-consistent, but real
    // libhdf5 files use 0x10 for huge and 0x20 for tiny (spec III.G)
    val p = tmp("hugeflag.h5")
    val big = (0 until 1100).map(_.toDouble)
    Hdf5.write(p, Seq(
      WDataset("temp", F64, Seq(2), Array(1.0, 2.0),
        numAttrs = Seq(("calibration_table", F64, big)))),
      latest = true, denseRoot = false, denseAttrs = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val leaf = (0 until bytes.length - 4).find(i =>
      bytes(i) == 'B' && bytes(i + 1) == 'T' && bytes(i + 2) == 'L' &&
        bytes(i + 3) == 'F' && (bytes(i + 5) & 0xFF) == 8).get
    val flag = bytes(leaf + 6) & 0xFF // type-8 record: heap ID first
    assert(((flag >> 4) & 3) == 1, f"expected a huge heap ID, flag=0x$flag%02x")
    val ds = Hdf5.open(p).dataset("temp").get
    assert(ds.attr("calibration_table").map(_.value).contains(NumAttr(big)))
  }

  test("latest format: corrupted metadata fails the lookup3 checksum loudly") {
    val p = tmp("latest-corrupt.h5")
    writeGrid(p, chunked = false, latest = true)
    // flip a byte inside the superblock's root-OH address field
    val raf = new java.io.RandomAccessFile(p, "rw")
    try {
      raf.seek(36)
      val b = raf.read(); raf.seek(36); raf.write(b ^ 0xFF)
    } finally raf.close()
    val e = intercept[IllegalArgumentException](Hdf5.open(p))
    assert(e.getMessage.contains("checksum mismatch"))
  }

  test("fractal heap: non-doubling allocated-managed-space is rejected (checksum-valid corruption)") {
    val p = tmp("alloc-bad.h5")
    val data = cube((t, y, x) => t * 100.0 + y * 10 + x)
    Hdf5.write(p, Seq(
      WDataset("time", I32, Seq(T), Array.tabulate(T)(_.toDouble)),
      WDataset("temp", F32, Seq(T, Y, X), data, chunkDims = Some(Seq(2, 3, 3)))),
      latest = true, denseRoot = true)
    // patch Allocated Managed Space (FRHP+54) to 3× the starting block size
    // (libhdf5 only ever doubles) and RECOMPUTE the lookup3 checksum, so the
    // inconsistency is exactly the kind no checksum can catch downstream
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val frhp = bytes.indexOfSlice("FRHP".getBytes)
    assert(frhp > 0, "no FRHP in dense-root file")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val startSize = bb.getLong(frhp + 112) // after the 12-long field run + width
    bb.putLong(frhp + 54, startSize * 3)
    bb.putInt(frhp + 142, Hdf5.lookup3(
      java.util.Arrays.copyOfRange(bytes, frhp, frhp + 142)))
    java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes)
    val e = intercept[IllegalArgumentException](Hdf5.open(p))
    assert(e.getMessage.contains("power-of-two doubling"), e.getMessage)
  }

  test("fletcher32 detects chunk corruption") {
    val p = tmp("sum.h5")
    val data = cube((t, y, x) => t * 100.0 + y * 10 + x)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(T, Y, X), data,
        chunkDims = Some(Seq(T, Y, X)), filters = Seq(Fletcher32))))
    // chunk data is the last block in the file; flip a byte inside it
    val raf = new java.io.RandomAccessFile(p, "rw")
    try {
      raf.seek(raf.length() - 10)
      val b = raf.read(); raf.seek(raf.length() - 10); raf.write(b ^ 0xFF)
    } finally raf.close()
    val h = Hdf5.open(p)
    val e = intercept[IllegalArgumentException](Hdf5.readAll(p, h.dataset("temp").get))
    assert(e.getMessage.contains("fletcher32 mismatch"))
  }

  test("classic NetCDF magic is rejected by the HDF5 reader and vice versa") {
    val p = tmp("classic.nc")
    graft.sources.NetCdf3.write(p, dims = Seq("d" -> 2), recordDim = None,
      gatts = Nil, vars = Seq(graft.sources.NetCdf3.WVar("v",
        graft.sources.NetCdf3.NcInt, Seq("d"), Nil, Array(1.0, 2.0))))
    assert(!Hdf5.isHdf5(p))
    val e = intercept[IllegalArgumentException](Hdf5.open(p))
    assert(e.getMessage.contains("signature"))
    // and the HDF5 magic is what NetCdf3 rejects loudly
    val p2 = tmp("grid.h5")
    writeGrid(p2, chunked = false)
    val e2 = intercept[IllegalArgumentException](graft.sources.NetCdf3.open(p2))
    assert(e2.getMessage.contains("magic"))
  }

  test("property: dense attr indexes round-trip for random counts straddling the leaf split") {
    // attr record = 17 bytes → leaf cap 240: counts drawn across
    // 230..520 hit single-leaf, boundary, and 2–3-leaf split shapes, and
    // big random payloads occasionally spill to huge objects
    val rnd = new scala.util.Random(7)
    (1 to 4).foreach { trial =>
      val n = 230 + rnd.nextInt(291)
      val p = tmp(s"attr-prop$trial.h5")
      val attrs = (0 until n).map { i =>
        val len = if (rnd.nextInt(20) == 0) 600 + rnd.nextInt(200) else 1
        (f"a$i%04d", F64, (0 until len).map(j => (i * 31 + j).toDouble))
      }
      Hdf5.write(p, Seq(
        WDataset("v", F64, Seq(2), Array(1.0, 2.0), numAttrs = attrs)),
        latest = true, denseRoot = false, denseAttrs = true)
      val ds = Hdf5.open(p).dataset("v").get
      assert(ds.attrs.length == n, s"trial $trial n=$n")
      attrs.foreach { case (nm, _, vals) =>
        assert(ds.attr(nm).map(_.value).contains(NumAttr(vals)),
          s"trial $trial attr $nm")
      }
    }
  }

  test("property: random dims/types/layouts round-trip") {
    import org.scalacheck.Gen
    val genCase = for {
      t <- Gen.choose(1, 4); y <- Gen.choose(1, 6); x <- Gen.choose(1, 8)
      dtype <- Gen.oneOf(F32, F64, I8, I16, I32, I64)
      chunked <- Gen.oneOf(true, false)
      latest <- Gen.oneOf(true, false)
      filtered <- Gen.oneOf(0, 1, 2, 3) // none / shuffle / shuffle+deflate / all
      seed <- Gen.choose(0L, 1000000L)
    } yield (t, y, x, dtype, chunked, latest, filtered, seed)
    (1 to 30).foreach { i =>
      val (t, y, x, dtype, chunked, latest, filtered, seed) = genCase.sample.get
      val rnd = new scala.util.Random(seed)
      val data = Array.fill(t * y * x)(rnd.nextInt(200) - 100.0)
      val p = tmp(s"prop$i.h5")
      val filters =
        if (!chunked) Nil
        else Seq(Shuffle(dtype.size), Deflate(6), Fletcher32).take(filtered)
      val leafK =
        if (chunked && !latest && rnd.nextBoolean()) Some(rnd.nextInt(6) + 1)
        else None
      Hdf5.write(p, Seq(
        WDataset("v", dtype, Seq(t, y, x), data,
          chunkDims = if (chunked) Some(Seq(
            rnd.nextInt(t) + 1, rnd.nextInt(y) + 1, rnd.nextInt(x) + 1)) else None,
          filters = filters,
          // unfiltered latest chunked cases split between fixed-array and
          // implicit indexes
          implicitIndex = latest && chunked && filters.isEmpty && rnd.nextBoolean(),
          // half the fixed-array cases force tiny pages (2^1..2^3 elements)
          // so random chunk counts exercise unpaged, paged, and
          // ragged-last-page layouts; ignored when another index wins
          faPageBits = if (latest && chunked && rnd.nextBoolean())
            Some(rnd.nextInt(3) + 1) else None,
          // classic chunked cases randomly cap the chunk b-tree leaf
          // fan-out, exercising single- AND multi-node trees; half of the
          // capped cases also cap internal fan-out → random-depth trees
          btreeLeafK = leafK,
          btreeInternalK = if (leafK.isDefined && rnd.nextBoolean())
            Some(rnd.nextInt(4) + 2) else None)),
        latest = latest)
      val h = Hdf5.open(p)
      val v = h.dataset("v").get
      assert(Hdf5.readAll(p, v).toSeq == data.toSeq,
        s"case $i: t=$t y=$y x=$x type=$dtype chunked=$chunked latest=$latest seed=$seed")
      val rdr = new Hdf5.SectionReader(p, v)
      try {
        val (st, sy) = (rnd.nextInt(t), rnd.nextInt(y))
        val (x0, x1) = { val a = rnd.nextInt(x); val b = rnd.nextInt(x)
          (math.min(a, b), math.max(a, b)) }
        assert(rdr.readRow(st, sy, x0, x1).toSeq ==
          (x0 to x1).map(xx => data((st * y + sy) * x + xx)),
          s"case $i section t=$st y=$sy x=[$x0,$x1]")
      } finally rdr.close()
    }
  }

  // Paged fixed array: 40 chunks at page bits 4 (16 elements/page) → a
  // 3-page FADB (16, 16, 8 elements) — the shape real >2^10-chunk archives
  // take at libhdf5's default page size. Filtered twin widens the element
  // past the bare address.
  for (filtered <- Seq(false, true))
  test(s"paged fixed array: multi-page data block round-trips (filtered=$filtered)") {
    val p = tmp("fa-paged.h5")
    val td = 80
    val data = Array.tabulate(td * Y * X)(i => ((i * 37) % 91).toDouble - 13)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(td, Y, X), data,
        chunkDims = Some(Seq(2, Y, X)), faPageBits = Some(4),
        filters = if (filtered) Seq(Shuffle(4), Deflate(5)) else Nil)),
      latest = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val at = bytes.indexOfSlice("FADB".getBytes)
    assert(at > 0)
    // bitmap (1 byte for 3 pages) sits right after the 14-byte prefix;
    // all three pages initialized, MSB-first bit order → 0b1110_0000
    assert((bytes(at + 14) & 0xFF) == 0xE0,
      "page bitmap: 3 initialized pages, MSB-first")
    val h = Hdf5.open(p)
    val temp = h.dataset("temp").get
    assert(Hdf5.readAll(p, temp).toSeq == data.toSeq)
    val rdr = new Hdf5.SectionReader(p, temp)
    try {
      for (t <- Seq(0, 31, td - 1); y <- 0 until Y)
        assert(rdr.readRow(t, y, 1, X - 1).toSeq ==
          (1 until X).map(x => data((t * Y + y) * X + x)), s"t=$t y=$y")
    } finally rdr.close()
  }

  test("paged fixed array: a fully-sparse page is uninitialized; sparse slots read as fill") {
    val p = tmp("fa-paged-sparse.h5")
    val td = 80 // 40 chunks of (2,Y,X); page bits 4 → pages {0..15},{16..31},{32..39}
    val sparse = (16 until 32).toSet + 3 // page 1 entirely + one slot of page 0
    val data = Array.tabulate(td * Y * X)(i => ((i * 41) % 87).toDouble - 11)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(td, Y, X), data,
        chunkDims = Some(Seq(2, Y, X)), faPageBits = Some(4),
        sparseChunks = sparse)), latest = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val at = bytes.indexOfSlice("FADB".getBytes)
    // pages 0 and 2 initialized, page 1 never written → 0b1010_0000
    assert((bytes(at + 14) & 0xFF) == 0xA0,
      "page bitmap: uninitialized middle page, MSB-first")
    val h = Hdf5.open(p)
    val got = Hdf5.readAll(p, h.dataset("temp").get)
    val want = Array.tabulate(td * Y * X) { i =>
      val chunk = (i / (Y * X)) / 2
      if (sparse(chunk)) 0.0 else data(i) // unallocated chunk = fill
    }
    assert(got.toSeq == want.toSeq)
  }

  test("paged fixed array: corrupted page fails its checksum loudly") {
    val p = tmp("fa-paged-corrupt.h5")
    val td = 80
    val data = Array.tabulate(td * Y * X)(_.toDouble)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(td, Y, X), data,
        chunkDims = Some(Seq(2, Y, X)), faPageBits = Some(4))), latest = true)
    val path = java.nio.file.Paths.get(p)
    val bytes = java.nio.file.Files.readAllBytes(path)
    val at = bytes.indexOfSlice("FADB".getBytes)
    // header = 14-byte prefix + 1 bitmap byte + 4 checksum; page 0 follows
    bytes(at + 19 + 2) = (bytes(at + 19 + 2) ^ 0xFF).toByte
    java.nio.file.Files.write(path, bytes)
    val h = Hdf5.open(p)
    val e = intercept[IllegalArgumentException](
      Hdf5.readAll(p, h.dataset("temp").get))
    assert(e.getMessage.contains("page 0 checksum"))
  }

  // Paged extensible array: page bits 3 (8 elements/page) with the fixture
  // geometry (4 inline, minElmts 4, minPtrs 2) → super blocks 3 and 4 hold
  // 16-element data blocks = 2 pages each, with the page-init bitmap in the
  // PARENT super block. 80 chunks reach super block 4's first data block
  // only, so its bitmap mixes initialized, uninitialized-page, and
  // never-created-block states.
  for (filtered <- Seq(false, true))
  test(s"paged extensible array: EASB page bitmaps + paged EADBs round-trip (filtered=$filtered)") {
    val p = tmp("ea-paged.h5")
    val td = 160 // 80 chunks of (2,Y,X)
    val data = Array.tabulate(td * Y * X)(i => ((i * 53) % 97).toDouble - 17)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(td, Y, X), data,
        chunkDims = Some(Seq(2, Y, X)), eaIndex = true, eaPageBits = Some(3),
        filters = if (filtered) Seq(Shuffle(4), Deflate(5)) else Nil,
        maxDims = Some(Seq(-1L, Y.toLong, X.toLong)))), latest = true)
    // super blocks 2 (unpaged: 8-element blocks = one page), 3, 4 exist
    assert(sigCount(p, "EASB") == 3)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // EASBs are written in ascending u; bitmap sits after the 14-byte
    // prefix + 4-byte block offset (maxBits 32). u=3: 2 dblocks × 2 pages,
    // chunks 32..63 all live → 0b1111_0000; u=4: 4 dblocks × 2 pages,
    // only dblock 0 (chunks 64..79) created, both its pages live →
    // 0b1100_0000.
    val easbAt = Iterator.iterate(bytes.indexOfSlice("EASB".getBytes))(i =>
      bytes.indexOfSlice("EASB".getBytes, i + 4)).take(3).toSeq
    assert((bytes(easbAt(1) + 18) & 0xFF) == 0xF0, "super block 3 page bitmap")
    assert((bytes(easbAt(2) + 18) & 0xFF) == 0xC0, "super block 4 page bitmap")
    val h = Hdf5.open(p)
    val temp = h.dataset("temp").get
    assert(Hdf5.readAll(p, temp).toSeq == data.toSeq)
    val rdr = new Hdf5.SectionReader(p, temp)
    try {
      for (t <- Seq(0, 70, 130, td - 1); y <- 0 until Y)
        assert(rdr.readRow(t, y, 0, X - 2).toSeq ==
          (0 to X - 2).map(x => data((t * Y + y) * X + x)), s"t=$t y=$y")
    } finally rdr.close()
  }

  test("paged extensible array: a fully-sparse page is uninitialized; sparse slots read as fill") {
    val p = tmp("ea-paged-sparse.h5")
    val td = 160
    val sparse = (72 until 80).toSet + 33 // sb4 dblock0 page 1 + one sb3 slot
    val data = Array.tabulate(td * Y * X)(i => ((i * 29) % 89).toDouble - 7)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(td, Y, X), data,
        chunkDims = Some(Seq(2, Y, X)), eaIndex = true, eaPageBits = Some(3),
        sparseChunks = sparse,
        maxDims = Some(Seq(-1L, Y.toLong, X.toLong)))), latest = true)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val easbAt = Iterator.iterate(bytes.indexOfSlice("EASB".getBytes))(i =>
      bytes.indexOfSlice("EASB".getBytes, i + 4)).take(3).toSeq
    // u=4: dblock 0 page 0 (64..71) live, page 1 (72..79) never written
    assert((bytes(easbAt(2) + 18) & 0xFF) == 0x80,
      "super block 4 bitmap: only dblock 0 page 0 initialized")
    val h = Hdf5.open(p)
    val got = Hdf5.readAll(p, h.dataset("temp").get)
    val want = Array.tabulate(td * Y * X) { i =>
      val chunk = (i / (Y * X)) / 2
      if (sparse(chunk)) 0.0 else data(i)
    }
    assert(got.toSeq == want.toSeq)
  }

  test("paged extensible array: corrupted page fails its checksum loudly") {
    val p = tmp("ea-paged-corrupt.h5")
    val td = 160
    val data = Array.tabulate(td * Y * X)(_.toDouble)
    Hdf5.write(p, Seq(
      WDataset("temp", F32, Seq(td, Y, X), data,
        chunkDims = Some(Seq(2, Y, X)), eaIndex = true, eaPageBits = Some(3),
        maxDims = Some(Seq(-1L, Y.toLong, X.toLong)))), latest = true)
    val path = java.nio.file.Paths.get(p)
    val bytes = java.nio.file.Files.readAllBytes(path)
    // the LAST EADB in file order is super block 4's paged dblock 0:
    // 14-byte prefix + 4-byte block offset + 4-byte header checksum, then
    // page 0's elements
    val last = Iterator.iterate(bytes.indexOfSlice("EADB".getBytes))(i =>
      bytes.indexOfSlice("EADB".getBytes, i + 4))
      .takeWhile(_ >= 0).toSeq.last
    bytes(last + 22 + 2) = (bytes(last + 22 + 2) ^ 0xFF).toByte
    java.nio.file.Files.write(path, bytes)
    val h = Hdf5.open(p)
    val e = intercept[IllegalArgumentException](
      Hdf5.readAll(p, h.dataset("temp").get))
    assert(e.getMessage.contains("page"))
  }

  // ---- soft + external links

  private def oneVar(path: String, name: String, scale: Double,
      latest: Boolean, links: Seq[WLink] = Nil): Array[Double] = {
    val data = cube((t, y, x) => scale * (t * 100.0 + y * 10 + x))
    Hdf5.write(path, Seq(
      WDataset(name, F64, Seq(T, Y, X), data,
        strAttrs = Seq("long_name" -> s"$name var"))), latest = latest, links = links)
    data
  }

  for (latest <- Seq(false, true)) {
    val tag = if (latest) "latest (link message)" else "classic (symbol table)"
    test(s"soft link round-trip: $tag") {
      val p = tmp("soft.h5")
      val data = oneVar(p, "temp", 1.0, latest,
        links = Seq(WSoftLink("alias", "/temp")))
      val h = Hdf5.open(p)
      assert(h.datasets.map(_.name) == Seq("alias", "temp"))
      val alias = h.dataset("alias").get
      assert(alias.dims == Seq(T, Y, X) && alias.dtype == F64)
      assert(alias.attr("long_name").map(_.value).contains(StrAttr("temp var")))
      assert(Hdf5.readAll(p, alias).toSeq == data.toSeq)
    }

    test(s"soft link chain + relative target: $tag") {
      val p = tmp("softchain.h5")
      val data = oneVar(p, "temp", 2.0, latest,
        links = Seq(WSoftLink("a1", "temp"), WSoftLink("a2", "/a1")))
      val h = Hdf5.open(p)
      assert(Hdf5.readAll(p, h.dataset("a2").get).toSeq == data.toSeq)
    }

    test(s"dangling soft link fails loudly: $tag") {
      val p = tmp("dangling.h5")
      oneVar(p, "temp", 1.0, latest, links = Seq(WSoftLink("bad", "/gone")))
      val e = intercept[IllegalArgumentException](Hdf5.open(p))
      assert(e.getMessage.contains("dangling soft link 'bad'"))
    }

    test(s"soft link cycle fails loudly: $tag") {
      val p = tmp("cycle.h5")
      oneVar(p, "temp", 1.0, latest,
        links = Seq(WSoftLink("x", "/y"), WSoftLink("y", "/x")))
      val e = intercept[IllegalArgumentException](Hdf5.open(p))
      assert(e.getMessage.contains("cycle"))
    }

    test(s"soft link into a nested group path fails loudly: $tag") {
      val p = tmp("nested.h5")
      oneVar(p, "temp", 1.0, latest, links = Seq(WSoftLink("n", "/g/temp")))
      val e = intercept[IllegalArgumentException](Hdf5.open(p))
      assert(e.getMessage.contains("nested group paths unsupported"))
    }
  }

  test("external link: data reads redirect to the target file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-h5ext")
    val bp = dir.resolve("b.h5").toString
    val ap = dir.resolve("a.h5").toString
    val data = oneVar(bp, "temp", 3.0, latest = true)
    oneVar(ap, "local", 1.0, latest = true,
      links = Seq(WExternalLink("remote", "b.h5", "/temp")))
    val h = Hdf5.open(ap)
    assert(h.datasets.map(_.name) == Seq("local", "remote"))
    val remote = h.dataset("remote").get
    assert(remote.extFile.exists(_.endsWith("b.h5")))
    assert(remote.attr("long_name").map(_.value).contains(StrAttr("temp var")))
    // whole read AND row-section read both follow the redirect
    assert(Hdf5.readAll(ap, remote).toSeq == data.toSeq)
    val sr = new Hdf5.SectionReader(ap, remote)
    try assert(sr.readRow(1, 2, 0, X - 1).toSeq ==
      data.slice((Y * X) + 2 * X, (Y * X) + 3 * X).toSeq)
    finally sr.close()
  }

  test("external link chain keeps the innermost redirect") {
    val dir = java.nio.file.Files.createTempDirectory("graft-h5ext2")
    val cp = dir.resolve("c.h5").toString
    val bp = dir.resolve("b.h5").toString
    val ap = dir.resolve("a.h5").toString
    val data = oneVar(cp, "temp", 4.0, latest = true)
    oneVar(bp, "bvar", 1.0, latest = true,
      links = Seq(WExternalLink("hop", "c.h5", "/temp")))
    oneVar(ap, "avar", 1.0, latest = true,
      links = Seq(WExternalLink("far", "b.h5", "/hop")))
    val far = Hdf5.open(ap).dataset("far").get
    assert(far.extFile.exists(_.endsWith("c.h5")),
      s"redirect must be the file holding the bytes, got ${far.extFile}")
    assert(Hdf5.readAll(ap, far).toSeq == data.toSeq)
  }

  test("external link to a missing file fails loudly") {
    val p = tmp("extmiss.h5")
    oneVar(p, "temp", 1.0, latest = true,
      links = Seq(WExternalLink("gone", "nope.h5", "/temp")))
    val e = intercept[IllegalArgumentException](Hdf5.open(p))
    assert(e.getMessage.contains("file not found"))
  }

  test("external link cycle across files fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-h5extcyc")
    val ap = dir.resolve("a.h5").toString
    val bp = dir.resolve("b.h5").toString
    oneVar(ap, "avar", 1.0, latest = true,
      links = Seq(WExternalLink("toB", "b.h5", "/toA")))
    oneVar(bp, "bvar", 1.0, latest = true,
      links = Seq(WExternalLink("toA", "a.h5", "/toB")))
    val e = intercept[IllegalArgumentException](Hdf5.open(ap))
    assert(e.getMessage.contains("deeper than 8 files"))
  }

  test("classic write refuses external links") {
    val p = tmp("extclassic.h5")
    val e = intercept[IllegalArgumentException](
      oneVar(p, "temp", 1.0, latest = false,
        links = Seq(WExternalLink("x", "b.h5", "/temp"))))
    assert(e.getMessage.contains("latest format"))
  }

  test("dense root group stores soft and external link messages") {
    val dir = java.nio.file.Files.createTempDirectory("graft-h5dense")
    val bp = dir.resolve("b.h5").toString
    val ap = dir.resolve("a.h5").toString
    val bData = oneVar(bp, "temp", 5.0, latest = true)
    val aData = cube((t, y, x) => t * 100.0 + y * 10 + x)
    Hdf5.write(ap, Seq(
      WDataset("base", F64, Seq(T, Y, X), aData)),
      latest = true, denseRoot = true, denseAttrs = false,
      groupInternalK = 16, denseNodeSize = 4096, denseIdLen = 0,
      denseHeapGeom = None,
      links = Seq(WSoftLink("s", "/base"), WExternalLink("e", "b.h5", "/temp")))
    val h = Hdf5.open(ap)
    assert(h.datasets.map(_.name) == Seq("base", "e", "s"))
    assert(Hdf5.readAll(ap, h.dataset("s").get).toSeq == aData.toSeq)
    assert(Hdf5.readAll(ap, h.dataset("e").get).toSeq == bData.toSeq)
  }
}
