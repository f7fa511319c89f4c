package graft.sources

import java.io.{DataInputStream, DataOutputStream, FileInputStream, FileOutputStream, RandomAccessFile}
import java.nio.ByteBuffer

/** Minimal binary grid-file codec — the file-format boundary of the domain
  * layer. Mirrors the structure the reference reads from NetCDF: a dense
  * `[time, y, x]` cube for one variable plus the coordinate/fill metadata
  * needed to interpret it (`Gddp.scala:118-131` opens the file and reads
  * attributes; `Gddp.scala:224-226` reads a `[t, ymin..ymax, xmin..xmax]`
  * section). The layout is offset-addressable so a hyperslab read seeks —
  * it never streams the whole file:
  *
  *   magic "GRF1" | varNameLen:int varName:utf8 | T:int Y:int X:int
  *   | epochMicros:long stepMicros:long
  *   | lat0:double dlat:double lon0:double dlon:double fill:double
  *   | T*Y*X big-endian doubles, row-major [t][y][x]
  *
  * NODATA is stored as `fill` (NaN by convention) and surfaced as SQL NULL by
  * the reader — the reference's `_FillValue` contract.
  */
object GridFile {
  val Magic: Int = 0x47524631 // "GRF1"

  final case class Header(
    variable: String, t: Int, y: Int, x: Int,
    epochMicros: Long, stepMicros: Long,
    lat0: Double, dlat: Double, lon0: Double, dlon: Double,
    fill: Double, dataOffset: Long) {
    def isFill(v: Double): Boolean = if (fill.isNaN) v.isNaN else v == fill
  }

  /** Write one variable's cube; `value(t, y, x) = None` stores the fill. */
  def write(path: String, variable: String, tDim: Int, yDim: Int, xDim: Int,
      epochMicros: Long, stepMicros: Long,
      lat0: Double, dlat: Double, lon0: Double, dlon: Double,
      fill: Double = Double.NaN)(value: (Int, Int, Int) => Option[Double]): Unit = {
    val out = new DataOutputStream(new java.io.BufferedOutputStream(new FileOutputStream(path)))
    try {
      out.writeInt(Magic)
      val name = variable.getBytes("UTF-8")
      out.writeInt(name.length); out.write(name)
      out.writeInt(tDim); out.writeInt(yDim); out.writeInt(xDim)
      out.writeLong(epochMicros); out.writeLong(stepMicros)
      out.writeDouble(lat0); out.writeDouble(dlat)
      out.writeDouble(lon0); out.writeDouble(dlon)
      out.writeDouble(fill)
      for (t <- 0 until tDim; y <- 0 until yDim; x <- 0 until xDim)
        out.writeDouble(value(t, y, x).getOrElse(fill))
    } finally out.close()
  }

  /** Header-only read — the metadata open (`Gddp.scala:118-131`). */
  def readHeader(path: String): Header = {
    val in = new DataInputStream(new FileInputStream(path))
    try {
      require(in.readInt() == Magic, s"$path: not a GRF1 file")
      val nameLen = in.readInt()
      require(nameLen >= 0 && nameLen <= 4096,
        s"$path: implausible variable-name length $nameLen")
      val name = new Array[Byte](nameLen); in.readFully(name)
      val (t, y, x) = (in.readInt(), in.readInt(), in.readInt())
      val (epoch, step) = (in.readLong(), in.readLong())
      val (lat0, dlat, lon0, dlon, fill) =
        (in.readDouble(), in.readDouble(), in.readDouble(), in.readDouble(), in.readDouble())
      val dataOffset = 4 + 4 + name.length + 3 * 4 + 2 * 8 + 5 * 8
      Header(new String(name, "UTF-8"), t, y, x, epoch, step, lat0, dlat, lon0, dlon,
        fill, dataOffset.toLong)
    } finally in.close()
  }

  /** Random-access section reader: one seek + one contiguous read per
    * `[t, y, x0..x1]` row — the byte-level hyperslab (`Gddp.scala:224-226`).
    */
  final class SectionReader(path: String, val header: Header) extends AutoCloseable {
    private val raf = new RandomAccessFile(path, "r")

    def readRow(t: Int, y: Int, x0: Int, x1: Int): Array[Double] = {
      val n = x1 - x0 + 1
      val buf = new Array[Byte](n * 8)
      raf.seek(header.dataOffset +
        ((t.toLong * header.y + y) * header.x + x0) * 8L)
      raf.readFully(buf)
      val out = new Array[Double](n)
      ByteBuffer.wrap(buf).asDoubleBuffer().get(out)
      out
    }

    override def close(): Unit = raf.close()
  }

  // --------------------------------------------------- tiled variant (GRF2)

  /** "GRF2": several spatial TILES of one variable's global cube packed into
    * one container file, with a tile directory after the header:
    *
    *   magic "GRF2" | varNameLen varName | T:int Y:int X:int tileY:int tileX:int
    *   | epochMicros:long stepMicros:long
    *   | lat0:double dlat:double lon0:double dlon:double fill:double
    *   | nTiles:int | per tile: ty:int tx:int dataOffset:long
    *   | tile cubes, each T*clipY*clipX big-endian doubles, row-major [t][ly][lx]
    *
    * Y/X and the coord affine are GLOBAL — a tile's cells keep their global
    * (y, x) indices, so any subset of files still answers global-index
    * queries. The point of the format is file skipping: a reader prunes a
    * whole file when no directory tile intersects the requested section,
    * and Morton-ordered packing ([[graft.operators.Scale.writeZOrderedGrid]])
    * keeps each file's spatial footprint square-ish so 2-D range queries
    * touch few files — the object-store layout for raster archives.
    */
  val MagicTiled: Int = 0x47524632 // "GRF2"

  final case class TileEntry(ty: Int, tx: Int, dataOffset: Long)

  final case class TiledHeader(
      variable: String, t: Int, y: Int, x: Int, tileY: Int, tileX: Int,
      epochMicros: Long, stepMicros: Long,
      lat0: Double, dlat: Double, lon0: Double, dlon: Double,
      fill: Double, tiles: Seq[TileEntry]) {
    def isFill(v: Double): Boolean = if (fill.isNaN) v.isNaN else v == fill
    /** Tile (ty, tx)'s global index bounds, edge tiles clipped. */
    def tileBounds(e: TileEntry): (Int, Int, Int, Int) = (
      e.ty * tileY, math.min(y, (e.ty + 1) * tileY) - 1,
      e.tx * tileX, math.min(x, (e.tx + 1) * tileX) - 1)
    def clipDims(e: TileEntry): (Int, Int) = {
      val (y0, y1, x0, x1) = tileBounds(e)
      (y1 - y0 + 1, x1 - x0 + 1)
    }
  }

  /** First four bytes decide GRF1 vs GRF2 (vs not ours at all). */
  def readMagic(path: String): Int = {
    val in = new DataInputStream(new FileInputStream(path))
    try in.readInt() finally in.close()
  }

  /** Write one container of tiles; `tiles` are (ty, tx, cube) with cube laid
    * out `[t][localY][localX]` at the tile's clipped dims, in the PACKING
    * order the caller chose (Morton for the z-ordered layout).
    */
  def writeTiled(path: String, variable: String,
      tDim: Int, yDim: Int, xDim: Int, tileY: Int, tileX: Int,
      epochMicros: Long, stepMicros: Long,
      lat0: Double, dlat: Double, lon0: Double, dlon: Double,
      tiles: Seq[(Int, Int, Array[Double])], fill: Double = Double.NaN): Unit = {
    val name = variable.getBytes("UTF-8")
    val dirStart = 4 + 4 + name.length + 5 * 4 + 2 * 8 + 5 * 8 + 4
    var off = dirStart.toLong + tiles.length * 16L
    val entries = tiles.map { case (ty, tx, cube) =>
      val cy = math.min(yDim, (ty + 1) * tileY) - ty * tileY
      val cx = math.min(xDim, (tx + 1) * tileX) - tx * tileX
      require(cube.length == tDim * cy * cx,
        s"tile ($ty,$tx): cube has ${cube.length} cells, dims need ${tDim * cy * cx}")
      val e = TileEntry(ty, tx, off)
      off += cube.length * 8L
      e
    }
    val out = new DataOutputStream(new java.io.BufferedOutputStream(new FileOutputStream(path)))
    try {
      out.writeInt(MagicTiled)
      out.writeInt(name.length); out.write(name)
      out.writeInt(tDim); out.writeInt(yDim); out.writeInt(xDim)
      out.writeInt(tileY); out.writeInt(tileX)
      out.writeLong(epochMicros); out.writeLong(stepMicros)
      out.writeDouble(lat0); out.writeDouble(dlat)
      out.writeDouble(lon0); out.writeDouble(dlon)
      out.writeDouble(fill)
      out.writeInt(tiles.length)
      entries.foreach { e =>
        out.writeInt(e.ty); out.writeInt(e.tx); out.writeLong(e.dataOffset)
      }
      tiles.foreach { case (_, _, cube) => cube.foreach(out.writeDouble) }
    } finally out.close()
  }

  /** Header + tile directory — the driver-side metadata open. Counts are
    * plausibility-checked before any allocation sized from them, so a
    * corrupt or truncated header fails explicitly instead of attempting a
    * giant array.
    */
  def readTiledHeader(path: String): TiledHeader = {
    val in = new DataInputStream(new FileInputStream(path))
    try {
      require(in.readInt() == MagicTiled, s"$path: not a GRF2 file")
      val nameLen = in.readInt()
      require(nameLen >= 0 && nameLen <= 4096,
        s"$path: implausible variable-name length $nameLen")
      val name = new Array[Byte](nameLen); in.readFully(name)
      val (t, y, x) = (in.readInt(), in.readInt(), in.readInt())
      val (tileY, tileX) = (in.readInt(), in.readInt())
      require(t > 0 && y > 0 && x > 0 && tileY > 0 && tileX > 0,
        s"$path: implausible dims ($t, $y, $x) / tiling ($tileY, $tileX)")
      val (epoch, step) = (in.readLong(), in.readLong())
      val (lat0, dlat, lon0, dlon, fill) =
        (in.readDouble(), in.readDouble(), in.readDouble(), in.readDouble(), in.readDouble())
      val n = in.readInt()
      val maxTiles =
        ((y + tileY - 1) / tileY).toLong * ((x + tileX - 1) / tileX)
      require(n >= 0 && n <= maxTiles,
        s"$path: directory claims $n tiles, grid has at most $maxTiles")
      val tiles = (0 until n).map { _ =>
        TileEntry(in.readInt(), in.readInt(), in.readLong())
      }
      TiledHeader(new String(name, "UTF-8"), t, y, x, tileY, tileX,
        epoch, step, lat0, dlat, lon0, dlon, fill, tiles)
    } finally in.close()
  }

  /** Positioned row reads within one tile: global (t, y, x0..x1) must lie
    * inside the tile's bounds; one seek + one contiguous read per row, same
    * contract as [[SectionReader]].
    */
  final class TiledSectionReader(path: String, val header: TiledHeader)
      extends AutoCloseable {
    private val raf = new RandomAccessFile(path, "r")

    def readRow(e: TileEntry, t: Int, y: Int, x0: Int, x1: Int): Array[Double] = {
      val (ty0, _, tx0, _) = header.tileBounds(e)
      val (cy, cx) = header.clipDims(e)
      val n = x1 - x0 + 1
      val buf = new Array[Byte](n * 8)
      raf.seek(e.dataOffset +
        ((t.toLong * cy + (y - ty0)) * cx + (x0 - tx0)) * 8L)
      raf.readFully(buf)
      val out = new Array[Double](n)
      ByteBuffer.wrap(buf).asDoubleBuffer().get(out)
      out
    }

    override def close(): Unit = raf.close()
  }
}
