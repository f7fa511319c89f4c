package graft.sources

import java.io.{DataInputStream, DataOutputStream, FileInputStream, FileOutputStream, RandomAccessFile}
import java.nio.ByteBuffer

/** Pure-JVM reader/writer for the NetCDF-3 "classic" container (CDF-1 magic
  * `CDF\x01`, CDF-2 `CDF\x02` with 64-bit offsets) — the publicly documented
  * format behind the reference's data files. The reference reads these through
  * NetCDF-Java (`Gddp.scala:121-131` metadata open, `Gddp.scala:224-226`
  * hyperslab section read); no NetCDF-Java exists in this environment, so this
  * implements the format itself from the specification: big-endian header
  * (dim list, attribute lists, variable list with data offsets) followed by
  * fixed-size variables at absolute offsets and record variables interleaved
  * per record. Offset-addressable by construction — a `[t, y, x0..x1]` slice
  * is one seek + one contiguous read, never a whole-file stream.
  *
  * Supported: classic (CDF-1), 64-bit-offset (CDF-2) and 64-bit-data (CDF-5,
  * magic `CDF\x05`: every NON_NEG header field widened to INT64 plus five
  * unsigned/64-bit integer nc_types), fixed AND record (unlimited-dimension)
  * variable layouts, variable/global attributes, `_FillValue` /
  * `scale_factor` / `add_offset` conventions.
  * Not supported (fail loudly): HDF5-based NetCDF-4 (different magic).
  */
object NetCdf3 {
  val NcByte = 1; val NcChar = 2; val NcShort = 3
  val NcInt = 4; val NcFloat = 5; val NcDouble = 6
  // CDF-5 ("64-bit data") additions
  val NcUByte = 7; val NcUShort = 8; val NcUInt = 9
  val NcInt64 = 10; val NcUInt64 = 11

  private val TagDimension = 0x0A
  private val TagVariable = 0x0B
  private val TagAttribute = 0x0C

  def sizeOf(ncType: Int): Int = ncType match {
    case NcByte | NcChar | NcUByte => 1
    case NcShort | NcUShort => 2
    case NcInt | NcFloat | NcUInt => 4
    case NcDouble | NcInt64 | NcUInt64 => 8
    case t => throw new IllegalArgumentException(s"unknown nc_type $t")
  }

  /** CDF-5 widens every NON_NEG header field (counts, name lengths, dim
    * sizes, numrecs, vsize) to INT64; tags and nc_type stay 4-byte.
    */
  private def readNonNeg(in: DataInputStream, version: Int): Long =
    if (version == 5) in.readLong() else in.readInt().toLong

  private def intSized(n: Long, what: String, path: String): Int = {
    require(n >= 0 && n <= Int.MaxValue, s"$path: $what $n out of supported range")
    n.toInt
  }

  final case class Dim(name: String, size: Int) {
    def isRecord: Boolean = size == 0
  }

  final case class Attr(name: String, ncType: Int, text: String, nums: Seq[Double]) {
    /** Attribute as a display string (char attrs verbatim, numeric joined). */
    def valueString: String =
      if (ncType == NcChar) text else nums.mkString(",")
    def firstNum: Option[Double] = nums.headOption
  }

  final case class Variable(
      name: String, dimIds: Seq[Int], attrs: Seq[Attr],
      ncType: Int, vsize: Long, begin: Long) {
    def attr(n: String): Option[Attr] = attrs.find(_.name == n)
  }

  /** Parsed header: everything the reference's "metadata open" yields. */
  final case class Header(
      path: String, version: Int, numRecs: Int,
      dims: Seq[Dim], gatts: Seq[Attr], vars: Seq[Variable]) {

    def dimsOf(v: Variable): Seq[Dim] = v.dimIds.map(dims)
    def isRecordVar(v: Variable): Boolean = dimsOf(v).headOption.exists(_.isRecord)
    /** Per-variable element count of ONE record (record vars) or of the whole
      * variable (fixed vars) — the product of non-record dimension sizes.
      */
    def sliceElems(v: Variable): Long =
      dimsOf(v).filterNot(_.isRecord).map(_.size.toLong).product
    def variable(n: String): Option[Variable] = vars.find(_.name == n)

    /** Byte stride between consecutive records. Spec special case: with
      * exactly one record variable there is no per-record padding.
      */
    val recSize: Long = {
      val recVars = vars.filter(isRecordVar)
      if (recVars.isEmpty) 0L
      else if (recVars.length == 1) {
        val v = recVars.head
        sliceElems(v) * sizeOf(v.ncType)
      } else recVars.map(_.vsize).sum
    }
  }

  // ------------------------------------------------------------------ parse

  def open(path: String): Header = {
    val in = new DataInputStream(new java.io.BufferedInputStream(new FileInputStream(path)))
    try {
      val m0 = in.read(); val m1 = in.read(); val m2 = in.read()
      require(m0 == 'C' && m1 == 'D' && m2 == 'F',
        s"$path: not a NetCDF classic file (bad magic; NetCDF-4/HDF5 is unsupported)")
      val version = in.read()
      require(version == 1 || version == 2 || version == 5,
        s"$path: unsupported CDF version $version (classic CDF-1/CDF-2/CDF-5 only)")
      // -1 is the spec's "streaming" sentinel (record count unknown until
      // EOF) — reject loudly rather than crash downstream on -1 sizes
      val numRecs = intSized(readNonNeg(in, version), "numrecs", path)
      val dims = readDimList(in, path, version)
      val gatts = readAttrList(in, path, version)
      val vars = readVarList(in, path, version)
      Header(path, version, numRecs, dims, gatts, vars)
    } finally in.close()
  }

  private def readName(in: DataInputStream, version: Int): String = {
    val n = intSized(readNonNeg(in, version), "name length", "<header>")
    val bytes = new Array[Byte](n)
    in.readFully(bytes)
    skipPad(in, n)
    new String(bytes, "UTF-8")
  }

  private def skipPad(in: DataInputStream, n: Int): Unit = {
    // skipBytes may skip FEWER bytes than asked (stream semantics); a short
    // skip would silently desync every field that follows — loop and fail
    // loudly on EOF instead
    var pad = (4 - n % 4) % 4
    while (pad > 0) {
      val skipped = in.skipBytes(pad)
      if (skipped <= 0) {
        if (in.read() < 0) throw new java.io.EOFException("EOF inside header padding")
        pad -= 1
      } else pad -= skipped
    }
  }

  private def readTagged(in: DataInputStream, path: String, version: Int,
      expected: Int): Int = {
    val tag = in.readInt()
    val nelems = intSized(readNonNeg(in, version), "list length", path)
    require(tag == expected || (tag == 0 && nelems == 0),
      s"$path: malformed header (tag $tag, expected $expected or ABSENT)")
    nelems
  }

  private def readDimList(in: DataInputStream, path: String, version: Int): Seq[Dim] =
    (0 until readTagged(in, path, version, TagDimension)).map { _ =>
      val name = readName(in, version)
      Dim(name, intSized(readNonNeg(in, version), s"dim $name size", path))
    }

  private def readAttrList(in: DataInputStream, path: String, version: Int): Seq[Attr] =
    (0 until readTagged(in, path, version, TagAttribute)).map { _ =>
      val name = readName(in, version)
      val ncType = in.readInt()
      val nelems = intSized(readNonNeg(in, version), s"attr $name nelems", path)
      if (ncType == NcChar) {
        val bytes = new Array[Byte](nelems)
        in.readFully(bytes)
        skipPad(in, nelems)
        Attr(name, ncType, new String(bytes, "UTF-8"), Nil)
      } else {
        val nums = (0 until nelems).map(_ => readNum(in, ncType))
        skipPad(in, nelems * sizeOf(ncType))
        Attr(name, ncType, null, nums)
      }
    }

  /** IEEE widening of an unsigned 64-bit pattern (2^64 + v for negative v). */
  private def u64ToDouble(v: Long): Double =
    if (v >= 0) v.toDouble else v.toDouble + 1.8446744073709552E19

  private def readNum(in: DataInputStream, ncType: Int): Double = ncType match {
    case NcByte => in.readByte().toDouble
    case NcShort => in.readShort().toDouble
    case NcInt => in.readInt().toDouble
    case NcFloat => in.readFloat().toDouble
    case NcDouble => in.readDouble()
    case NcUByte => (in.readByte() & 0xFF).toDouble
    case NcUShort => (in.readShort() & 0xFFFF).toDouble
    case NcUInt => (in.readInt().toLong & 0xFFFFFFFFL).toDouble
    case NcInt64 => in.readLong().toDouble
    case NcUInt64 => u64ToDouble(in.readLong())
    case t => throw new IllegalArgumentException(s"unknown nc_type $t")
  }

  private def readVarList(in: DataInputStream, path: String, version: Int): Seq[Variable] =
    (0 until readTagged(in, path, version, TagVariable)).map { _ =>
      val name = readName(in, version)
      val ndims = intSized(readNonNeg(in, version), s"var $name ndims", path)
      val dimIds = (0 until ndims).map(_ =>
        intSized(readNonNeg(in, version), s"var $name dimid", path))
      val attrs = readAttrList(in, path, version)
      val ncType = in.readInt()
      // vsize: NON_NEG (8 B in CDF-5, unsigned 4 B classic); begin: OFFSET
      // (8 B in CDF-2/CDF-5, unsigned 4 B in CDF-1)
      val vsize = if (version == 5) in.readLong() else in.readInt().toLong & 0xFFFFFFFFL
      val begin = if (version == 1) in.readInt().toLong & 0xFFFFFFFFL else in.readLong()
      Variable(name, dimIds, attrs, ncType, vsize, begin)
    }

  // ------------------------------------------------------------------- read

  /** Whole-variable read (coordinate arrays — dim-sized by definition).
    * Handles fixed vars (contiguous at begin) and record vars (one slice per
    * record at `begin + r*recSize`). Values widened to double.
    */
  def readAll(h: Header, v: Variable): Array[Double] = {
    val slice = h.sliceElems(v).toInt
    val records = if (h.isRecordVar(v)) h.numRecs else 1
    val esz = sizeOf(v.ncType)
    val out = new Array[Double](slice * records)
    val raf = new RandomAccessFile(h.path, "r")
    try {
      val buf = new Array[Byte](slice * esz)
      for (r <- 0 until records) {
        raf.seek(v.begin + (if (h.isRecordVar(v)) r * h.recSize else 0L))
        raf.readFully(buf)
        decode(buf, v.ncType, out, r * slice, slice)
      }
      out
    } finally raf.close()
  }

  private def decode(buf: Array[Byte], ncType: Int, out: Array[Double],
      at: Int, n: Int): Unit = {
    val bb = ByteBuffer.wrap(buf)
    ncType match {
      case NcByte | NcChar => var i = 0; while (i < n) { out(at + i) = bb.get(i).toDouble; i += 1 }
      case NcShort => val sb = bb.asShortBuffer(); var i = 0; while (i < n) { out(at + i) = sb.get(i).toDouble; i += 1 }
      case NcInt => val ib = bb.asIntBuffer(); var i = 0; while (i < n) { out(at + i) = ib.get(i).toDouble; i += 1 }
      case NcFloat => val fb = bb.asFloatBuffer(); var i = 0; while (i < n) { out(at + i) = fb.get(i).toDouble; i += 1 }
      case NcDouble => bb.asDoubleBuffer().get(out, at, n)
      case NcUByte => var i = 0; while (i < n) { out(at + i) = (bb.get(i) & 0xFF).toDouble; i += 1 }
      case NcUShort => val sb = bb.asShortBuffer(); var i = 0; while (i < n) { out(at + i) = (sb.get(i) & 0xFFFF).toDouble; i += 1 }
      case NcUInt => val ib = bb.asIntBuffer(); var i = 0; while (i < n) { out(at + i) = (ib.get(i).toLong & 0xFFFFFFFFL).toDouble; i += 1 }
      case NcInt64 => val lb = bb.asLongBuffer(); var i = 0; while (i < n) { out(at + i) = lb.get(i).toDouble; i += 1 }
      case NcUInt64 => val lb = bb.asLongBuffer(); var i = 0; while (i < n) { out(at + i) = u64ToDouble(lb.get(i)); i += 1 }
      case t => throw new IllegalArgumentException(s"unknown nc_type $t")
    }
  }

  /** Random-access hyperslab reader for a `[t, y, x]` 3-D variable — the
    * byte-level equivalent of the reference's section read
    * (`Gddp.scala:224-226`): one seek + one contiguous read per
    * `[t, y, x0..x1]` row.
    */
  final class SectionReader(h: Header, v: Variable) extends AutoCloseable {
    private val dims = h.dimsOf(v)
    require(dims.length == 3, s"${v.name}: section reader expects a 3-D variable")
    private val ySize = dims(1).size
    private val xSize = dims(2).size
    private val esz = sizeOf(v.ncType)
    private val record = h.isRecordVar(v)
    private val raf = new RandomAccessFile(h.path, "r")

    def readRow(t: Int, y: Int, x0: Int, x1: Int): Array[Double] = {
      val n = x1 - x0 + 1
      val off =
        if (record) v.begin + t.toLong * h.recSize + (y.toLong * xSize + x0) * esz
        else v.begin + ((t.toLong * ySize + y) * xSize + x0) * esz
      raf.seek(off)
      val buf = new Array[Byte](n * esz)
      raf.readFully(buf)
      val out = new Array[Double](n)
      decode(buf, v.ncType, out, 0, n)
      out
    }

    override def close(): Unit = raf.close()
  }

  // ------------------------------------------------------------------ write

  /** Fixture writer (also the reusable sink for exporting grids): emits a
    * spec-conformant classic file. `recordDim` marks one dimension unlimited
    * (size written 0, data interleaved per record).
    */
  final case class WAttr(name: String, ncType: Int, text: String = null,
      nums: Seq[Double] = Nil)

  /** `data` is row-major doubles, converted to `ncType` on write. */
  final case class WVar(name: String, ncType: Int, dims: Seq[String],
      attrs: Seq[WAttr], data: Array[Double])

  def write(path: String, dims: Seq[(String, Int)], recordDim: Option[String],
      gatts: Seq[WAttr], vars: Seq[WVar], version: Int = 1): Unit = {
    val dimIndex = dims.map(_._1).zipWithIndex.toMap
    recordDim.foreach(rd => require(dimIndex.contains(rd), s"unknown record dim $rd"))
    val dimSize = dims.toMap
    // a short/long data array would silently shift every later variable's
    // begin offset — corrupt bytes with no writer-side symptom; fail here
    vars.foreach { v =>
      val expect = v.dims.map(dimSize(_).toLong).product
      require(v.data.length == expect,
        s"${v.name}: data length ${v.data.length} != dims product $expect")
    }
    def isRecVar(v: WVar) = recordDim.exists(rd => v.dims.headOption.contains(rd))
    val recVars = vars.filter(isRecVar)
    def sliceElems(v: WVar): Long =
      v.dims.filterNot(d => recordDim.contains(d)).map(dimSize(_).toLong).product
    def pad4(n: Long): Long = (n + 3) / 4 * 4
    // vsize: one record's bytes (record vars) or whole var (fixed), padded
    def vsizeOf(v: WVar): Long = pad4(sliceElems(v) * sizeOf(v.ncType))
    val recSize: Long =
      if (recVars.length == 1) sliceElems(recVars.head) * sizeOf(recVars.head.ncType)
      else recVars.map(vsizeOf).sum
    val numRecs = recordDim.map(dimSize(_)).getOrElse(0)

    // ---- serialize the header to know data begins
    require(version == 1 || version == 2 || version == 5,
      s"unsupported write version $version (1, 2 or 5)")
    val bo = new java.io.ByteArrayOutputStream()
    val out = new DataOutputStream(bo)
    // every NON_NEG header field widens to INT64 under CDF-5; tags and
    // nc_type stay 4 bytes in all versions
    def writeNonNeg(n: Long): Unit =
      if (version == 5) out.writeLong(n) else out.writeInt(Math.toIntExact(n))
    def writeName(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      writeNonNeg(b.length); out.write(b)
      (0 until ((4 - b.length % 4) % 4)).foreach(_ => out.writeByte(0))
    }
    def writeAttrs(attrs: Seq[WAttr]): Unit = {
      if (attrs.isEmpty) { out.writeInt(0); writeNonNeg(0) }
      else {
        out.writeInt(TagAttribute); writeNonNeg(attrs.length)
        attrs.foreach { a =>
          writeName(a.name)
          out.writeInt(a.ncType)
          if (a.ncType == NcChar) {
            val b = a.text.getBytes("UTF-8")
            writeNonNeg(b.length); out.write(b)
            (0 until ((4 - b.length % 4) % 4)).foreach(_ => out.writeByte(0))
          } else {
            writeNonNeg(a.nums.length)
            a.nums.foreach(writeNum(out, a.ncType, _))
            val raw = a.nums.length * sizeOf(a.ncType)
            (0 until ((4 - raw % 4) % 4).toInt).foreach(_ => out.writeByte(0))
          }
        }
      }
    }
    out.write('C'); out.write('D'); out.write('F'); out.write(version)
    writeNonNeg(numRecs)
    out.writeInt(TagDimension); writeNonNeg(dims.length)
    dims.foreach { case (n, sz) =>
      writeName(n)
      writeNonNeg(if (recordDim.contains(n)) 0 else sz)
    }
    writeAttrs(gatts)
    // variable list needs begins, which depend on header length — write the
    // var list once with zero begins to measure, then with real offsets
    def writeVarList(begins: Seq[Long]): Unit = {
      out.writeInt(TagVariable); writeNonNeg(vars.length)
      vars.zip(begins).foreach { case (v, begin) =>
        writeName(v.name)
        writeNonNeg(v.dims.length)
        v.dims.foreach(d => writeNonNeg(dimIndex(d)))
        writeAttrs(v.attrs)
        out.writeInt(v.ncType)
        // the vsize field is 4 bytes in both CLASSIC variants, and CDF-1
        // begins are 4 bytes — overflow must fail loudly, not truncate into
        // a silently corrupt header; CDF-5 widens both to 8 bytes
        require(version == 5 || vsizeOf(v) <= Int.MaxValue,
          s"${v.name}: vsize ${vsizeOf(v)} exceeds the classic format's 32-bit field; write with version = 5")
        writeNonNeg(vsizeOf(v))
        if (version == 1) {
          require(begin <= Int.MaxValue,
            s"${v.name}: begin $begin needs 64-bit offsets; write with version = 2 or 5")
          out.writeInt(begin.toInt)
        } else out.writeLong(begin)
      }
    }
    val mark = bo.size()
    writeVarList(vars.map(_ => 0L))
    val headerLen = bo.size().toLong
    // assign begins: fixed vars first (contiguous, in declaration order),
    // then record vars (interleaved region after all fixed data)
    var off = headerLen
    val beginOf = scala.collection.mutable.Map[String, Long]()
    vars.filterNot(isRecVar).foreach { v => beginOf(v.name) = off; off += vsizeOf(v) }
    val recBase = off
    var recOff = recBase
    recVars.foreach { v => beginOf(v.name) = recOff; recOff += (if (recVars.length == 1) recSize else vsizeOf(v)) }
    // rewrite the var list with real begins
    val headBytes = bo.toByteArray.take(mark)
    bo.reset(); bo.write(headBytes, 0, headBytes.length)
    writeVarList(vars.map(v => beginOf(v.name)))
    require(bo.size().toLong == headerLen, "header length changed on rewrite")

    val f = new DataOutputStream(new java.io.BufferedOutputStream(new FileOutputStream(path)))
    try {
      f.write(bo.toByteArray)
      // fixed-var data
      vars.filterNot(isRecVar).foreach { v =>
        val elems = sliceElems(v)
        v.data.take(elems.toInt).foreach(writeNum(f, v.ncType, _))
        padTo4(f, elems * sizeOf(v.ncType))
      }
      // record data, interleaved
      for (r <- 0 until numRecs) {
        recVars.foreach { v =>
          val slice = sliceElems(v).toInt
          (0 until slice).foreach(i => writeNum(f, v.ncType, v.data(r * slice + i)))
          if (recVars.length > 1) padTo4(f, slice.toLong * sizeOf(v.ncType))
        }
      }
    } finally f.close()
  }

  private def padTo4(out: DataOutputStream, raw: Long): Unit =
    (0 until ((4 - raw % 4) % 4).toInt).foreach(_ => out.writeByte(0))

  private def writeNum(out: DataOutputStream, ncType: Int, v: Double): Unit = ncType match {
    case NcByte | NcChar => out.writeByte(v.toByte)
    case NcShort => out.writeShort(v.toShort)
    case NcInt => out.writeInt(v.toInt)
    case NcFloat => out.writeFloat(v.toFloat)
    case NcDouble => out.writeDouble(v)
    case NcUByte => out.writeByte((v.toLong & 0xFFL).toInt)
    case NcUShort => out.writeShort((v.toLong & 0xFFFFL).toInt)
    case NcUInt => out.writeInt((v.toLong & 0xFFFFFFFFL).toInt)
    case NcInt64 => out.writeLong(v.toLong)
    case NcUInt64 =>
      // Double.toLong SATURATES at 2^63-1 — values in [2^63, 2^64) must wrap
      // to the negative bit pattern explicitly
      out.writeLong(
        if (v >= 9.223372036854776E18) (v - 1.8446744073709552E19).toLong
        else v.toLong)
    case t => throw new IllegalArgumentException(s"unknown nc_type $t")
  }
}
